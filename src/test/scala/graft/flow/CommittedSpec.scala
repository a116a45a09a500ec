package graft.flow

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkTestBase
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.Tokenizer

/** The commit-keyed memo: one entry per path, a republish misses, each
  * session keeps its own entries, and loads do not wait on each other. */
class CommittedSpec extends SparkTestBase {

  private def freshTarget(): DirTarget =
    DirTarget(Files.createTempDirectory("graft_committed").resolve("t").toString)

  test("a path published k times holds one entry; each read sees its commit") {
    val s = spark.newSession()
    val tgt = freshTarget()
    for (k <- 1 to 4) {
      tgt.atomicWrite(tmp => s.range(k).toDF(s"c$k").write.parquet(tmp))
      val df = Committed.parquet(s, tgt.uri)
      assert(df.columns.toSeq == Seq(s"c$k"))
      assert(df.count() == k)
      assert(Committed.size(s) == 1)
    }
  }

  test("a model is loaded once per commit and session") {
    import spark.implicits._
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val tgt = freshTarget()
    def publish(): Unit = {
      val model = new Pipeline().setStages(Array(
        new Tokenizer().setInputCol("text").setOutputCol("words")))
        .fit(Seq("a b").toDF("text"))
      tgt.atomicWrite(tmp => model.write.save(tmp))
    }
    publish()
    val m1: PipelineModel = Committed.model(s1, tgt.uri)
    assert(Committed.model(s1, tgt.uri) eq m1)
    // a second session does not reuse the first session's entry
    assert(Committed.size(s2) == 0)
    val m2 = Committed.model(s2, tgt.uri)
    assert(m2 ne m1)
    assert(Committed.size(s2) == 1)
    assert(Committed.model(s2, tgt.uri) eq m2)
    // a republish at the same path reloads; the old entry is replaced
    publish()
    val m3 = Committed.model(s1, tgt.uri)
    assert(m3 ne m1)
    assert(Committed.size(s1) == 1)
  }

  test("a load does not stall loads of other paths; one commit loads once") {
    val s = spark.newSession()
    val (a, b) = (freshTarget(), freshTarget())
    Seq(a, b).foreach(_.atomicWrite(tmp =>
      Files.createDirectories(java.nio.file.Paths.get(tmp))))
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val loads = new AtomicInteger
    val pool = Executors.newFixedThreadPool(2)
    try {
      def slowA() = pool.submit(new Callable[String] {
        def call(): String = Committed.memo(s, "slow", Seq(a.uri)) {
          loads.incrementAndGet(); started.countDown()
          release.await(20, TimeUnit.SECONDS); "a"
        }
      })
      val (f1, f2) = (slowA(), slowA())
      assert(started.await(20, TimeUnit.SECONDS))
      // b loads while a's load is still blocked
      assert(Committed.memo(s, "fast", Seq(b.uri))("b") == "b")
      release.countDown()
      assert(f1.get(20, TimeUnit.SECONDS) == "a")
      assert(f2.get(20, TimeUnit.SECONDS) == "a")
      assert(loads.get == 1)
    } finally { release.countDown(); pool.shutdown() }
  }
}
