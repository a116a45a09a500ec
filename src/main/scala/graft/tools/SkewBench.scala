package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured skew evidence for the salted-join / AQE-skew paths
  * (SURVEY §9.4; round-12 verdict: the one 100 TB claim that rested
  * only on plan pins). Builds a planted-hot-key slice of `events`
  * (a fixed fraction of rows remapped to ONE user, optionally
  * replicated so the hot task dominates wall clock at fixture scale),
  * joins it to `customer` three ways —
  *
  *   - `plain`:  shuffle sort-merge join, AQE off — the baseline that
  *     serializes the hot key into one task;
  *   - `salted`: the engine's q_join_salted_skew topology (fact salt +
  *     dim explode ×SALTS), AQE off — the static fix;
  *   - `aqe`:    the same plain join under AQE skew-split — the
  *     runtime fix (thresholds lowered to fixture scale; at 100 TB the
  *     defaults fire on real partition sizes);
  *
  * and reports, per variant, wall seconds plus the join-stage task
  * histogram (max / median shuffle-read records): the max/median ratio
  * is the number that proves the hot task actually got split, wall
  * clock alone being ±30% ambient on this box. All three variants must
  * agree on the result checksum — a speedup that changes the answer is
  * not a speedup.
  *
  * Run: scripts/run.sh graft.tools.SkewBench [sfDir] [hotTenths] [amplify]
  */
object SkewBench {

  val Salts = 8
  val HotUser = 42L

  final case class VariantStats(name: String, secs: Double,
                                checksum: String, tasks: Int,
                                maxRec: Long, medRec: Long) {
    def ratio: Double =
      if (medRec == 0) Double.NaN else maxRec.toDouble / medRec
    def line: String =
      f"SKEWBENCH $name%-6s secs=$secs%.2f join_tasks=$tasks%d " +
        f"max_rec=$maxRec%d med_rec=$medRec%d max_over_med=$ratio%.1f"
  }

  /** Per-task shuffle-read records, grouped by stage. The listener bus
    * is async, so readers poll [[drained]] before consuming. */
  private final class TaskTap extends SparkListener {
    val recs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      synchronized {
        val m = te.taskMetrics
        if (m != null) recs += ((te.stageId, m.shuffleReadMetrics.recordsRead))
      }
    def snapshot: Seq[(Int, Long)] = synchronized(recs.toSeq)
  }

  /** Planted-hot-key probe slice: hotTenths/10 of event rows remapped
    * to [[HotUser]], replicated ×amplify, persisted as parquet so every
    * variant pays the same realistic scan (content-keyed — a fixture
    * regen invalidates it). */
  def slicePath(spark: SparkSession, sfDir: String,
                hotTenths: Int, amplify: Int): String = {
    import spark.implicits._
    val key = graft.Artifacts.key("skew1", sfDir, "events.parquet")
    val path = s"${graft.Artifacts.root}/graft_skew_${key}_${hotTenths}_$amplify"
    if (!new java.io.File(s"$path/_SUCCESS").exists) {
      graft.Tables.events(spark, sfDir)
        .select($"event_id",
          when(pmod($"event_id", lit(10L)) < hotTenths, lit(HotUser))
            .otherwise($"user_id").as("user_id"),
          $"value")
        .withColumn("rep", explode(sequence(lit(1), lit(amplify))))
        .drop("rep")
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Runs one variant under the given session confs (restored after),
    * timing the action and attributing the join stage as the stage
    * with the largest total shuffle-read record count. */
  def runVariant(spark: SparkSession, name: String,
                 confs: Map[String, String])
                (build: => DataFrame): VariantStats = {
    val sc = spark.sparkContext
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val tap = new TaskTap
    sc.addSparkListener(tap)
    try {
      val t0 = System.nanoTime()
      val rows = build.collect()
      val secs = (System.nanoTime() - t0) / 1e9
      // result fingerprint: tiny frame (one row per market segment)
      val checksum = rows.map(_.toString).sorted.mkString("|")
      // drain the async listener bus: poll until the tap stops growing
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        val n = tap.snapshot.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
      val byStage = tap.snapshot.groupBy(_._1).view
        .mapValues(_.map(_._2)).toMap
      val (_, joinRecs) = byStage.maxBy(_._2.sum)
      val sorted = joinRecs.sorted
      VariantStats(name, secs, checksum, sorted.size,
        sorted.last, sorted(sorted.size / 2))
    } finally {
      sc.removeSparkListener(tap)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  private val noAqe = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** AQE skew-split with thresholds scaled DOWN to fixture partition
    * sizes (defaults: 256 MB / factor 5 — right for 100 TB partitions,
    * unreachable at sf0.1). forceOptimizeSkewedJoin accepts the extra
    * shuffle the downstream groupBy requires after the split. */
  private val aqeSkew = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def dim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.customer(spark, sfDir).select($"c_custkey", $"c_mktsegment")
  }

  private def agg(joined: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt}
    joined.groupBy(col("c_mktsegment"))
      .agg(cnt(lit(1)).as("n_events"),
        graft.ops.AggOps.dsum(col("value")).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** All three variants over the same persisted slice. */
  def run(spark: SparkSession, sfDir: String,
          hotTenths: Int, amplify: Int): Seq[VariantStats] = {
    import spark.implicits._
    val path = slicePath(spark, sfDir, hotTenths, amplify)
    def slice = spark.read.parquet(path)
    val plain = runVariant(spark, "plain", noAqe) {
      agg(slice.join(dim(spark, sfDir), $"user_id" === $"c_custkey"))
    }
    val salted = runVariant(spark, "salted", noAqe) {
      val ev = slice.withColumn("salt", pmod($"event_id", lit(Salts.toLong)))
      val d = dim(spark, sfDir)
        .withColumn("salt",
          explode(array((0 until Salts).map(i => lit(i.toLong)): _*)))
      agg(ev.join(d,
        ev("user_id") === d("c_custkey") && ev("salt") === d("salt")))
    }
    val aqe = runVariant(spark, "aqe", aqeSkew) {
      agg(slice.join(dim(spark, sfDir), $"user_id" === $"c_custkey"))
    }
    Seq(plain, salted, aqe)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val hotTenths = args.lift(1).map(_.toInt).getOrElse(5)
    val amplify = args.lift(2).map(_.toInt).getOrElse(64)
    val spark = graft.Session.local("32")
    spark.sparkContext.setLogLevel("WARN")
    val stats = run(spark, sfDir, hotTenths, amplify)
    stats.foreach(s => println(s.line))
    val Seq(plain, salted, aqe) = stats
    require(plain.checksum == salted.checksum && plain.checksum == aqe.checksum,
      "variants disagree on the join result")
    println(f"SKEWBENCH speedup salted=${plain.secs / salted.secs}%.2fx " +
      f"aqe=${plain.secs / aqe.secs}%.2fx (hot=${hotTenths * 10}%% " +
      f"amplify=${amplify}x sf=$sfDir)")
    spark.stop()
  }
}
