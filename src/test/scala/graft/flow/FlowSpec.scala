package graft.flow

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import graft.SparkTestBase
import org.apache.spark.ml.PipelineModel
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Orchestrator integration tests (SURVEY.md §5.2 "orchestrator" row):
  * end-to-end pipelines over the reference golden fixtures, idempotent
  * re-runs, external-sensor gating, atomic-write crash safety, backfill
  * expansion order, cycle detection. */
class FlowSpec extends SparkTestBase {

  private def goldenDir: String =
    getClass.getResource("/golden").getPath

  private def freshCfg(): FlowConfig =
    FlowConfig(Files.createTempDirectory("graft_flow").toString, goldenDir,
      version = 1, limit = 500)

  test("training pipeline runs end-to-end and re-run is a no-op") {
    val cfg = freshCfg()
    val executed = Runner.run(Pipelines.TrainModel(cfg), spark)
    assert(executed == Seq("Ingest", "CleanTrain", "TrainModel"))
    assert(Pipelines.TrainModel(cfg).complete)
    // idempotent skip (O3)
    assert(Runner.run(Pipelines.TrainModel(cfg), spark).isEmpty)
  }

  test("daily backfill: newest-first, only-missing, cross-pipeline gate") {
    val cfg = freshCfg()
    // without the model, Classify's ModelExists sensor must refuse (O5)
    val err = intercept[IllegalStateException] {
      Runner.run(Pipelines.Classify(cfg, LocalDate.of(2018, 2, 19)), spark)
    }
    assert(err.getMessage.contains("external dependency missing"))

    Runner.run(Pipelines.TrainModel(cfg), spark)
    val stop = LocalDate.of(2018, 2, 22)
    val executed = Runner.backfill(
      d => Pipelines.Classify(cfg, d), stop, 4, spark, reverse = true)
    // newest date first (O7 --reverse)
    assert(executed.take(3) ==
      Seq("Fetch(02-22-2018)", "Clean(02-22-2018)", "Classify(02-22-2018)"))
    assert(executed.size == 12)
    // only-missing on re-run
    assert(Runner.backfill(
      d => Pipelines.Classify(cfg, d), stop, 4, spark).isEmpty)

    // scored output sane: all 4 days, labels from the when/otherwise map
    val erg = spark.read
      .schema("id STRING, subreddit STRING, probability STRING, prediction DOUBLE, prediction_label STRING")
      .option("header", true).option("delimiter", ";").option("escape", "\"")
      .csv(s"${cfg.baseDir}/daily/*/ergebnis.csv")
    val labels = erg.select("prediction_label").distinct()
      .collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("datascience", "gameofthrones")))
    assert(erg.count() == 143) // 32+41+39+31 golden records (FIXTURES.md §A)
    assert(erg.filter("probability NOT LIKE '[%'").count() == 0)
  }

  /** Counts Spark jobs per value of a thread-local tag. The listener
    * bus is async: `drain` submits a marker job and waits until the
    * listener has seen it, and with it every job submitted before. */
  private final class JobTap(spark: SparkSession) extends SparkListener {
    private val key = "graft.spec.tag"
    private val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        .foreach(t => counts.merge(t, 1, (a, b) => a + b))
    def tag(t: String): Unit = spark.sparkContext.setLocalProperty(key, t)
    def tagged[A](t: String)(body: => A): A =
      try { tag(t); body } finally tag(null)
    /** Runner events that tag each task's jobs with the task name. */
    val byTask: Runner.EventHandler = {
      case Runner.TaskEvent.Start(t) => tag(t)
      case _ => ()
    }
    def drain(): Map[String, Int] = {
      val marker = s"drain-${System.nanoTime()}"
      tagged(marker)(spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (!counts.containsKey(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(counts.containsKey(marker), "listener bus never drained")
      import scala.jdk.CollectionConverters._
      counts.asScala.map { case (k, v) => k -> v.intValue }.toMap
    }
  }

  /** Classify's output as an uncached load of `model` computes it. */
  private def scoreUncached(model: PipelineModel, cleanedCsv: String): Seq[String] = {
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.sql.functions._
    val cleaned = spark.read
      .schema("id STRING, cleaned_words STRING, subreddit STRING")
      .option("header", true).option("delimiter", ";")
      .option("multiLine", true).option("escape", "\"").csv(cleanedCsv)
      .na.fill("", Seq("cleaned_words"))
    rows(model.transform(cleaned).select(col("id"), col("subreddit"),
      vector_to_array(col("probability")).cast("string").as("probability"),
      col("prediction"),
      when(col("prediction") === 1, "datascience")
        .otherwise("gameofthrones").as("prediction_label")))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("daily backfill loads the model once; a retrain at the same path reloads") {
    val cfg = freshCfg()
    Runner.run(Pipelines.TrainModel(cfg), spark)
    val modelPath = Pipelines.ModelExists(cfg).output.uri
    val day = LocalDate.of(2018, 2, 22)
    val dayDir = s"${cfg.baseDir}/daily/02-22-2018"
    val tap = new JobTap(spark)
    spark.sparkContext.addSparkListener(tap)
    try {
      // the jobs of one uncached load, the baseline the counts below use
      val first = tap.tagged("uncached load")(PipelineModel.load(modelPath))
      Runner.backfill(d => Pipelines.Classify(cfg, d), day.minusDays(1), 3,
        spark, events = tap.byTask)
      var jobs = tap.drain()
      val load = jobs("uncached load")
      assert(load > 0)
      // newest first: 02-21 loads the model, 02-20 and 02-19 reuse it
      val Seq(loaded, reused1, reused2) = Seq(21, 20, 19)
        .map(d => jobs(s"Classify(02-$d-2018)"))
      assert(reused1 == reused2, jobs.toString)
      assert(loaded - reused1 == load, jobs.toString)

      // retrain at the same path on fewer rows, so the model differs
      Runner.run(Pipelines.CleanDaily(cfg, day), spark)
      val cleaned = s"$dayDir/cleaned.csv"
      val before = scoreUncached(first, cleaned)
      val retrain = cfg.copy(limit = 20)
      Seq(Pipelines.Ingest(retrain), Pipelines.CleanTrain(retrain),
        Pipelines.TrainModel(retrain)).foreach { t =>
        val dir = Paths.get(t.output.uri)
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.delete(f))
      }
      Runner.run(Pipelines.TrainModel(retrain), spark)
      Runner.run(Pipelines.Classify(cfg, day), spark, events = tap.byTask)
      jobs = tap.drain()
      assert(jobs("Classify(02-22-2018)") == loaded, jobs.toString)
      val erg = rows(spark.read
        .schema("id STRING, subreddit STRING, probability STRING, prediction DOUBLE, prediction_label STRING")
        .option("header", true).option("delimiter", ";").option("escape", "\"")
        .csv(s"$dayDir/ergebnis.csv"))
      assert(erg == scoreUncached(PipelineModel.load(modelPath), cleaned))
      assert(erg != before, "the retrained model scores like the old one")
    } finally spark.sparkContext.removeSparkListener(tap)
  }

  test("atomic write: a crashing writer leaves no target and no temp junk") {
    val cfg = freshCfg()
    val tgt = DirTarget(s"${cfg.baseDir}/out.csv")
    intercept[RuntimeException] {
      tgt.atomicWrite { tmp =>
        Files.createDirectories(Paths.get(tmp))
        Files.writeString(Paths.get(tmp, "partial"), "half-written")
        throw new RuntimeException("simulated crash")
      }
    }
    assert(!tgt.exists)
    val leftovers = new java.io.File(cfg.baseDir).listFiles()
      .filter(_.getName.startsWith("out.csv"))
    assert(leftovers.isEmpty, s"temp junk: ${leftovers.mkString(",")}")
  }

  test("retry policy: transient failures retried, budget exhaustion rethrows") {
    val cfg = freshCfg()
    def flaky(failures: Int, tag: String): Task = new Task {
      override def name = "Flaky"
      val output = DirTarget(s"${cfg.baseDir}/flaky_$tag")
      private var remaining = failures
      def run(s: SparkSession): Unit = {
        if (remaining > 0) { remaining -= 1; throw new RuntimeException("transient") }
        output.atomicWrite { tmp =>
          Files.createDirectories(Paths.get(tmp))
          Files.writeString(Paths.get(tmp, "ok"), "ok")
        }
      }
    }
    // 2 transient failures, 2 retries allowed -> succeeds on 3rd attempt
    assert(Runner.run(flaky(2, "a"), spark, retries = 2) == Seq("Flaky"))
    // 2 failures, 1 retry -> budget exhausted, error surfaces
    val err = intercept[RuntimeException] {
      Runner.run(flaky(2, "b"), spark, retries = 1)
    }
    assert(err.getMessage == "transient")
  }

  test("per-task retry knob: flaky task succeeds on attempt 2, deps not re-run") {
    val cfg = freshCfg()
    var depRuns = 0
    val dep: Task = new Task {
      override def name = "Dep"
      val output = DirTarget(s"${cfg.baseDir}/retry_dep")
      def run(s: SparkSession): Unit = {
        depRuns += 1
        output.atomicWrite { tmp =>
          Files.createDirectories(Paths.get(tmp))
          Files.writeString(Paths.get(tmp, "ok"), "ok")
        }
      }
    }
    var attempts = 0
    val t0 = System.nanoTime()
    val flaky: Task = new Task {
      override def name = "FlakyOwn"
      override def requires: Seq[Task] = Seq(dep)
      override def retries: Int = 1          // Luigi retry_count on the TASK
      override def retryBackoffMs: Long = 50 // exponential base
      val output = DirTarget(s"${cfg.baseDir}/retry_own")
      def run(s: SparkSession): Unit = {
        attempts += 1
        if (attempts == 1) throw new RuntimeException("transient once")
        output.atomicWrite { tmp =>
          Files.createDirectories(Paths.get(tmp))
          Files.writeString(Paths.get(tmp, "ok"), "ok")
        }
      }
    }
    val events = scala.collection.mutable.ArrayBuffer.empty[Runner.TaskEvent]
    // runner default retries = 0: ONLY the task's own knob saves it
    val executed = Runner.run(flaky, spark, retries = 0,
      events = events.append(_))
    assert(executed == Seq("Dep", "FlakyOwn"))
    assert(attempts == 2, s"expected one retry, saw $attempts attempts")
    assert(depRuns == 1, "retry must not re-run the completed dependency")
    assert((System.nanoTime() - t0) / 1000000 >= 50, "backoff not applied")
    // lifecycle: dep succeeds once; flaky fails then succeeds
    val flakyEvents = events.filter(_.task == "FlakyOwn").map(_.getClass.getSimpleName)
    assert(flakyEvents == Seq("Start", "Failure", "Start", "Success"),
      flakyEvents.mkString(","))
  }

  test("per-task timeout: hung attempt cancelled, retry saves a fast second run") {
    val cfg = freshCfg()
    var attempts = 0
    val slowThenFast: Task = new Task {
      override def name = "SlowThenFast"
      override def retries: Int = 1
      override def timeoutMs: Long = 300 // Luigi worker_timeout
      val output = DirTarget(s"${cfg.baseDir}/timeout_ok")
      def run(s: SparkSession): Unit = {
        attempts += 1
        if (attempts == 1) Thread.sleep(60000) // hangs; must be cut off
        output.atomicWrite { tmp =>
          Files.createDirectories(Paths.get(tmp))
          Files.writeString(Paths.get(tmp, "ok"), "ok")
        }
      }
    }
    val events = scala.collection.mutable.ArrayBuffer.empty[Runner.TaskEvent]
    val t0 = System.nanoTime()
    val executed = Runner.run(slowThenFast, spark, events = events.append(_))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(executed == Seq("SlowThenFast"))
    assert(attempts == 2, s"expected timeout then retry, saw $attempts")
    assert(slowThenFast.complete)
    assert(elapsedMs < 30000, s"timeout did not cut the hung attempt ($elapsedMs ms)")
    val ev = events.map(_.getClass.getSimpleName)
    assert(ev == Seq("Start", "Failure", "Start", "Success"), ev.mkString(","))

    // budget exhausted: a permanently-hung task surfaces the TimeoutException
    val hung: Task = new Task {
      override def name = "Hung"
      override def timeoutMs: Long = 200
      val output = DirTarget(s"${cfg.baseDir}/timeout_hung")
      def run(s: SparkSession): Unit = Thread.sleep(60000)
    }
    val err = intercept[java.util.concurrent.TimeoutException] {
      Runner.run(hung, spark)
    }
    assert(err.getMessage.contains("Hung"))
  }

  test("worker lease: stale lease taken over, fresh lease refused, heartbeat renews") {
    val cfg = freshCfg()
    var depRuns = 0
    val dep: Task = new Task {
      override def name = "LeaseDep"
      val output = DirTarget(s"${cfg.baseDir}/lease_dep")
      def run(s: SparkSession): Unit = {
        depRuns += 1
        output.atomicWrite { tmp =>
          Files.createDirectories(Paths.get(tmp))
          Files.writeString(Paths.get(tmp, "ok"), "ok")
        }
      }
    }
    val renewStamps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val leased: Task = new Task {
      override def name = "Leased"
      override def requires: Seq[Task] = Seq(dep)
      override def leaseTtlMs: Long = 300
      val output = DirTarget(s"${cfg.baseDir}/lease_task")
      def run(s: SparkSession): Unit = {
        // observe the heartbeat: the lease must be renewed while the
        // task runs (renew interval = TTL/3 = 100 ms)
        def stamp() = Lease.read(Lease.leasePath(this)).map(_.renewedMs)
        stamp().foreach(renewStamps += _)
        Thread.sleep(650)
        stamp().foreach(renewStamps += _)
        output.atomicWrite { tmp =>
          Files.createDirectories(Paths.get(tmp))
          Files.writeString(Paths.get(tmp, "ok"), "ok")
        }
      }
    }
    // a killed worker's residue: finished dep + a STALE lease on the task
    Runner.run(dep, spark)
    val leaseFile = Lease.leasePath(leased)
    Files.createDirectories(leaseFile.getParent)
    Files.writeString(leaseFile,
      s"dead-worker\n${System.currentTimeMillis() - 60000}\n")

    // the second runner takes over, finishes, and never re-runs the dep
    val executed = Runner.run(leased, spark, owner = "w2")
    assert(executed == Seq("Leased"))
    assert(leased.complete)
    assert(depRuns == 1, s"takeover must not re-run completed deps ($depRuns)")
    assert(!Files.exists(leaseFile), "lease must be released after success")
    assert(renewStamps.size == 2 && renewStamps(1) > renewStamps(0),
      s"heartbeat did not renew during the run: $renewStamps")

    // a FRESH lease (a LIVE worker) must be refused, the task untouched
    val held: Task = new Task {
      override def name = "Held"
      override def leaseTtlMs: Long = 60000
      val output = DirTarget(s"${cfg.baseDir}/lease_held")
      def run(s: SparkSession): Unit =
        fail("must not run while another worker holds the lease")
    }
    Files.createDirectories(Lease.leasePath(held).getParent)
    Files.writeString(Lease.leasePath(held),
      s"live-worker\n${System.currentTimeMillis()}\n")
    val err = intercept[LeaseHeldException] {
      Runner.run(held, spark, owner = "w2")
    }
    assert(err.getMessage.contains("live-worker"))
    assert(!held.complete)
  }

  test("zombie attempt: interrupt-swallowing task aborts, never retried") {
    val cfg = freshCfg()
    var attempts = 0
    val zombie: Task = new Task {
      override def name = "Zombie"
      override def retries: Int = 3          // budget that must NOT be spent
      override def timeoutMs: Long = 200
      override def zombieGraceMs: Long = 300 // keep the spec fast
      val output = DirTarget(s"${cfg.baseDir}/zombie")
      def run(s: SparkSession): Unit = {
        attempts += 1
        // survives cancellation: swallows the interrupt and keeps going
        // — the class of worker whose retry would race it on the
        // target commit
        val until = System.nanoTime() + 5L * 1000 * 1000 * 1000
        while (System.nanoTime() < until) {
          try Thread.sleep(50)
          catch { case _: InterruptedException => () }
        }
      }
    }
    val events = scala.collection.mutable.ArrayBuffer.empty[Runner.TaskEvent]
    val err2 = intercept[Runner.ZombieTaskException] {
      Runner.run(zombie, spark, events = events.append(_))
    }
    assert(err2.getMessage.contains("Zombie"))
    assert(attempts == 1, s"zombie attempt must not be retried, saw $attempts")
    val ev2 = events.map(_.getClass.getSimpleName)
    assert(ev2 == Seq("Start", "Failure"), ev2.mkString(","))
  }

  test("runParallel: independent tasks truly overlap; wave order deterministic") {
    val base = Files.createTempDirectory("graft_par").toString
    val latchA = new java.util.concurrent.CountDownLatch(1)
    val latchB = new java.util.concurrent.CountDownLatch(1)
    def await(l: java.util.concurrent.CountDownLatch): Unit =
      assert(l.await(20, java.util.concurrent.TimeUnit.SECONDS),
        "peer task never ran concurrently")
    case class FT(n: String, deps: Seq[Task], body: () => Unit) extends Task {
      override def name: String = n
      override def requires: Seq[Task] = deps
      val output: Target = FileTarget(s"$base/$n")
      def run(spark: SparkSession): Unit = {
        body(); Files.write(Paths.get(s"$base/$n"), "x".getBytes)
      }
    }
    val src = FT("a_src", Seq.empty, () => ())
    // each middle task releases its latch then waits for the OTHER's —
    // only a genuinely parallel wave can finish
    val mid1 = FT("b_mid1", Seq(src), () => { latchA.countDown(); await(latchB) })
    val mid2 = FT("c_mid2", Seq(src), () => { latchB.countDown(); await(latchA) })
    val sink = FT("d_sink", Seq(mid1, mid2), () => ())
    val executed = Runner.runParallel(sink, spark, workers = 2)
    assert(executed == Seq("a_src", "b_mid1", "c_mid2", "d_sink"))
    // idempotent re-run skips everything (O3 under the parallel scheduler)
    assert(Runner.runParallel(sink, spark, workers = 2).isEmpty)
  }

  test("dynamic deps: manifest-driven tasks run before the consumer, both runners") {
    // Luigi `yield` semantics: Report's real dependency set is one
    // Shard per line of the manifest its STATIC dep writes — unknowable
    // until Manifest has run. Both schedulers must (1) run Manifest,
    // (2) resolve + run every Shard, (3) only then run Report.
    def build(tag: String): (Task, String) = {
      val base = Files.createTempDirectory(s"graft_dyn_$tag").toString
      case class Manifest() extends Task {
        override def name = "Manifest"
        val output: Target = FileTarget(s"$base/manifest")
        def run(spark: SparkSession): Unit =
          Files.write(Paths.get(s"$base/manifest"), "s1\ns2\ns3".getBytes)
      }
      case class Shard(id: String) extends Task {
        override def name = s"Shard($id)"
        val output: Target = FileTarget(s"$base/shard_$id")
        def run(spark: SparkSession): Unit =
          Files.write(Paths.get(s"$base/shard_$id"), id.getBytes)
      }
      case class Report(m: Manifest) extends Task {
        override def name = "Report"
        override def requires: Seq[Task] = Seq(m)
        override def dynamicRequires(spark: SparkSession): Seq[Task] =
          new String(Files.readAllBytes(Paths.get(m.output.uri)))
            .split("\n").toSeq.map(Shard(_))
        val output: Target = FileTarget(s"$base/report")
        def run(spark: SparkSession): Unit = {
          // every shard must already exist when the consumer runs
          Seq("s1", "s2", "s3").foreach { id =>
            assert(Files.exists(Paths.get(s"$base/shard_$id")),
              s"shard $id missing when Report ran")
          }
          Files.write(Paths.get(s"$base/report"), "ok".getBytes)
        }
      }
      (Report(Manifest()), base)
    }
    val (seqRoot, _) = build("seq")
    val seqOrder = Runner.run(seqRoot, spark)
    assert(seqOrder.head == "Manifest" && seqOrder.last == "Report")
    assert(seqOrder.toSet ==
      Set("Manifest", "Shard(s1)", "Shard(s2)", "Shard(s3)", "Report"))
    assert(Runner.run(seqRoot, spark).isEmpty) // idempotent re-run
    val (parRoot, _) = build("par")
    val parOrder = Runner.runParallel(parRoot, spark, workers = 2)
    assert(parOrder.head == "Manifest" && parOrder.last == "Report")
    assert(parOrder.toSet ==
      Set("Manifest", "Shard(s1)", "Shard(s2)", "Shard(s3)", "Report"))
    assert(Runner.runParallel(parRoot, spark, workers = 2).isEmpty)
  }

  test("nested dynamic deps resolve level by level in the parallel runner") {
    // Outer yields Mid, Mid yields Leaf — two dynamic levels, all
    // acyclic. The parallel scheduler must rescan per resolved level
    // rather than declaring a spurious cycle.
    val base = Files.createTempDirectory("graft_dyn2").toString
    case class Leaf() extends Task {
      override def name = "Leaf"
      val output: Target = FileTarget(s"$base/leaf")
      def run(spark: SparkSession): Unit =
        Files.write(Paths.get(s"$base/leaf"), "x".getBytes)
    }
    case class Mid() extends Task {
      override def name = "Mid"
      override def dynamicRequires(spark: SparkSession): Seq[Task] = Seq(Leaf())
      val output: Target = FileTarget(s"$base/mid")
      def run(spark: SparkSession): Unit = {
        assert(Files.exists(Paths.get(s"$base/leaf")))
        Files.write(Paths.get(s"$base/mid"), "x".getBytes)
      }
    }
    case class Outer() extends Task {
      override def name = "Outer"
      override def dynamicRequires(spark: SparkSession): Seq[Task] = Seq(Mid())
      val output: Target = FileTarget(s"$base/outer")
      def run(spark: SparkSession): Unit = {
        assert(Files.exists(Paths.get(s"$base/mid")))
        Files.write(Paths.get(s"$base/outer"), "x".getBytes)
      }
    }
    assert(Runner.runParallel(Outer(), spark, workers = 2) ==
      Seq("Leaf", "Mid", "Outer"))
  }

  test("priority: higher-priority ready tasks admitted first; deps still win") {
    def build(): Task = {
      val base = Files.createTempDirectory("graft_prio").toString
      case class PT(n: String, prio: Int, deps: Seq[Task]) extends Task {
        override def name: String = n
        override def priority: Int = prio
        override def requires: Seq[Task] = deps
        val output: Target = FileTarget(s"$base/$n")
        def run(spark: SparkSession): Unit =
          Files.write(Paths.get(s"$base/$n"), "x".getBytes)
      }
      // one worker => a wave's admission order IS its execution order:
      // "a_low" sorts first by name but "z_high" must lead the first
      // wave on priority. "b_child" outranks everything at 99 yet
      // depends on z_high — priority must NOT let it jump its
      // dependency, so it lands in wave 2.
      val zHigh = PT("z_high", 10, Seq.empty)
      val aLow = PT("a_low", 0, Seq.empty)
      val bChild = PT("b_child", 99, Seq(zHigh))
      PT("sink", 0, Seq(aLow, bChild))
    }
    val runners = Seq[(String, Task => Seq[String])](
      "runParallel" -> (Runner.runParallel(_, spark, workers = 1)),
      "run" -> (Runner.run(_, spark)))
    for ((label, runner) <- runners) {
      val executed = runner(build())
      assert(executed == Seq("z_high", "a_low", "b_child", "sink"),
        s"$label: unexpected schedule: $executed")
    }
  }

  /** Runs a scheduler call on its own daemon thread and joins it with a
    * timeout, so a hung scheduler fails the spec instead of the suite. */
  private def joined[A](body: => A): Either[Throwable, A] = {
    val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, A]]()
    val th = new Thread(() =>
      out.set(try Right(body) catch { case e: Throwable => Left(e) }),
      "flowspec-scheduler")
    th.setDaemon(true)
    th.start()
    th.join(20000)
    assert(!th.isAlive, "scheduler still running after 20 s")
    out.get
  }

  test("fatal error in a task: run and runParallel rethrow it, never hang") {
    val base = Files.createTempDirectory("graft_fatal").toString
    val runners = Seq[(String, Task => Seq[String])](
      "run" -> (Runner.run(_, spark)),
      "runParallel" -> (Runner.runParallel(_, spark, workers = 2)))
    for ((label, runner) <- runners) {
      val err = new StackOverflowError("synthetic")
      val deep: Task = new Task {
        override def name = s"Deep($label)"
        val output: Target = FileTarget(s"$base/$label")
        def run(spark: SparkSession): Unit = throw err
      }
      joined(runner(deep)) match {
        case Left(e) => assert(e eq err, s"$label rethrew $e")
        case Right(r) => fail(s"$label returned $r")
      }
    }
  }

  test("failed wave: running peers drain before the rethrow; nothing new starts") {
    val base = Files.createTempDirectory("graft_drain").toString
    case class WT(n: String, deps: Seq[Task], body: () => Unit) extends Task {
      override def name: String = n
      override def requires: Seq[Task] = deps
      val output: Target = FileTarget(s"$base/$n")
      def run(spark: SparkSession): Unit = {
        body(); Files.write(Paths.get(s"$base/$n"), "x".getBytes)
      }
    }
    val boom = new RuntimeException("boom")
    // a_boom fails as soon as b_slow is running, so the pair is one
    // wave with a live peer at the failure
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val aBoom = WT("a_boom", Seq.empty, () => {
      bStarted.await(20, java.util.concurrent.TimeUnit.SECONDS); throw boom
    })
    val bSlow = WT("b_slow", Seq.empty, () => {
      bStarted.countDown(); Thread.sleep(300)
    })
    val cAfter = WT("c_after", Seq(bSlow), () => ())
    val sink = WT("d_sink", Seq(aBoom, cAfter), () => ())
    joined(Runner.runParallel(sink, spark, workers = 2)) match {
      case Left(e) =>
        assert(e eq boom, s"rethrew $e")
        assert(bSlow.complete, "scheduler threw while b_slow was still running")
      case Right(r) => fail(s"returned $r")
    }
    assert(!cAfter.complete, "a dependent of the drained wave started")
    assert(!sink.complete)
  }

  test("resources: capacity-1 unit serializes tasks; roomy capacity overlaps") {
    import java.util.concurrent.atomic.AtomicInteger
    def build(tag: String): (Task, AtomicInteger) = {
      val base = Files.createTempDirectory(s"graft_res_$tag").toString
      val active = new AtomicInteger(0)
      val peak = new AtomicInteger(0)
      case class RT(n: String, deps: Seq[Task]) extends Task {
        override def name: String = n
        override def requires: Seq[Task] = deps
        override def resources: Map[String, Int] =
          if (n.contains("db")) Map("db" -> 1) else Map.empty
        val output: Target = FileTarget(s"$base/$n")
        def run(spark: SparkSession): Unit = {
          val now = active.incrementAndGet()
          peak.updateAndGet(p => math.max(p, now))
          Thread.sleep(150)
          active.decrementAndGet()
          Files.write(Paths.get(s"$base/$n"), "x".getBytes)
        }
      }
      val a = RT("a_db_writer", Seq.empty)
      val b = RT("b_db_writer", Seq.empty)
      (RT("c_sink", Seq(a, b)), peak)
    }
    // default capacity 1 for any named resource: the two db tasks
    // must never hold the resource concurrently
    val (root1, peak1) = build("serial")
    Runner.runParallel(root1, spark, workers = 2)
    assert(peak1.get() == 1, s"capacity-1 resource overlapped: peak ${peak1.get()}")
    // capacity 2: the same shape is allowed to overlap (and with the
    // 150 ms holds it reliably does)
    val (root2, peak2) = build("overlap")
    Runner.runParallel(root2, spark, workers = 2,
      resourceCaps = Map("db" -> 2))
    assert(peak2.get() == 2, s"capacity-2 resource never overlapped")
  }

  test("events: start/success with timing, skip on re-run, failure per attempt") {
    val base = Files.createTempDirectory("graft_events").toString
    val events = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Runner.TaskEvent]())
    case class ET(n: String, deps: Seq[Task]) extends Task {
      override def name: String = n
      override def requires: Seq[Task] = deps
      val output: Target = FileTarget(s"$base/$n")
      def run(spark: SparkSession): Unit =
        Files.write(Paths.get(s"$base/$n"), "x".getBytes)
    }
    val chain = ET("b_down", Seq(ET("a_up", Seq.empty)))
    Runner.run(chain, spark, events = events.add(_))
    import scala.jdk.CollectionConverters._
    assert(events.asScala.toList.map(_.getClass.getSimpleName) ==
      List("Start", "Success", "Start", "Success"))
    assert(events.asScala.collect {
      case Runner.TaskEvent.Success(t, ms) if ms >= 0 => t
    }.toList == List("a_up", "b_down"))
    events.clear()
    Runner.run(chain, spark, events = events.add(_))
    assert(events.asScala.toList ==
      List(Runner.TaskEvent.Skipped("a_up"), Runner.TaskEvent.Skipped("b_down")))
    // failure fires once per attempt, then the error surfaces
    events.clear()
    val boom = new Task {
      override def name = "boom"
      val output: Target = FileTarget(s"$base/never")
      def run(spark: SparkSession): Unit = throw new RuntimeException("nope")
    }
    intercept[RuntimeException] {
      Runner.run(boom, spark, retries = 1, events = events.add(_))
    }
    assert(events.asScala.toList.map(_.getClass.getSimpleName) ==
      List("Start", "Failure", "Start", "Failure"))
  }

  test("history sink: task history lands as valid jsonl, readable by Spark") {
    val cfg = freshCfg()
    val hist = s"${cfg.baseDir}/history.jsonl"
    Runner.run(Pipelines.TrainModel(cfg), spark,
      events = Runner.historySink(hist))
    // re-run records skips
    Runner.run(Pipelines.TrainModel(cfg), spark,
      events = Runner.historySink(hist))
    // a failure message with control characters (a tab, as a quoted
    // stack trace has, and U+0001) must still be one valid JSON line
    val msg = "a\tb\u0001c"
    val boom = new Task {
      override def name = "boom"
      val output: Target = FileTarget(s"${cfg.baseDir}/never")
      def run(spark: SparkSession): Unit = throw new RuntimeException(msg)
    }
    intercept[RuntimeException] {
      Runner.run(boom, spark, events = Runner.historySink(hist))
    }
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Files.readAllLines(Paths.get(hist)).asScala
    val failure = lines.map(mapper.readTree)
      .filter(_.get("event").asText == "failure")
    assert(failure.map(_.get("error").asText) == Seq(msg))
    val df = spark.read
      .schema("ts_ms LONG, event STRING, task STRING, millis LONG, error STRING")
      .json(hist)
    val byEvent = df.groupBy("event").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 3 tasks: start+success each on run 1, skipped each on run 2;
    // then boom's one start + failure
    assert(byEvent == Map("start" -> 4L, "success" -> 3L, "skipped" -> 3L,
      "failure" -> 1L), byEvent.toString)
    assert(df.filter("event = 'success' AND millis < 0").count() == 0)
    assert(df.filter("task IS NULL OR ts_ms IS NULL").count() == 0)
    assert(df.filter("event = 'failure'").select("error").head.getString(0)
      == msg)
  }

  test("cycle detection") {
    lazy val a: Task = new Task {
      override def name = "A"
      override def requires = Seq(b)
      val output = DirTarget("/tmp/graft_cycle_a")
      def run(s: SparkSession): Unit = ()
    }
    lazy val b: Task = new Task {
      override def name = "B"
      override def requires = Seq(a)
      val output = DirTarget("/tmp/graft_cycle_b")
      def run(s: SparkSession): Unit = ()
    }
    intercept[Runner.CycleException] { Runner.run(a, spark) }
  }
}
