package graft.streaming

import java.sql.Timestamp
import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** True Structured-Streaming behavior that the batch twins can't cover
  * (SURVEY.md §2.4): watermark-driven late-data dropping and streaming
  * window aggregation over MemoryStream, plus batch-twin equivalence. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:$sec%02d")

  test("watermark drops events later than threshold; on-time events aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val counts = stream.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"window.start").as("start_ms"), $"event_type", $"n")
    val q = counts.writeStream.format("memory")
      .queryName("wm_test").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: events at minutes 1,2,31 — watermark advances to 31-10=21
      stream.addData((ts(1), "a"), (ts(2), "a"), (ts(31), "a"))
      q.processAllAvailable()
      // batch 2: a LATE event at minute 3 (< watermark 21) must be dropped;
      // minute 32 is on time
      stream.addData((ts(3), "a"), (ts(32), "a"))
      q.processAllAvailable()
      // close the last window
      stream.addData((ts(59), "a"))
      q.processAllAvailable()
      val out = spark.table("wm_test")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val w0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      // window [0,5) emitted with 2 events — the late minute-3 event was
      // dropped (else it would be 3)
      assert(out(w0) == 2, s"late event not dropped: $out")
      val w30 = Timestamp.valueOf("2024-01-01 00:30:00").getTime
      assert(out(w30) == 2, s"on-time events lost: $out")
    } finally q.stop()
  }

  test("late row whose window is still open is AGGREGATED (window-granularity drop)") {
    // the boundary q_stream_late_drop's twin encodes: Spark's windowed
    // aggregation drops late input iff the row's WINDOW END <= watermark,
    // not iff the row's event time is below it. A row at 20:30 with
    // watermark 21:00 is "late" row-wise but its [20,25) window is open —
    // the engine must aggregate it (a row-granularity twin would drop it).
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val counts = stream.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"window.start").as("start_ms"), $"n")
    val q = counts.writeStream.format("memory")
      .queryName("wm_boundary").outputMode(OutputMode.Append()).start()
    try {
      stream.addData((ts(1), "a"), (ts(31), "a")) // watermark -> 21:00
      q.processAllAvailable()
      // 20:30 < wm 21:00 but window [20,25) end 25 > 21 -> KEEP;
      // 3:00's window [0,5) end 5 <= 21 -> DROP
      stream.addData((ts(20, 30), "a"), (ts(3), "a"))
      q.processAllAvailable()
      stream.addData((ts(59), "a")) // wm -> 49, then one more batch to emit
      q.processAllAvailable()
      stream.addData((ts(59, 30), "a"))
      q.processAllAvailable()
      val out = spark.table("wm_boundary")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val w20 = Timestamp.valueOf("2024-01-01 00:20:00").getTime
      assert(out.get(w20).contains(1L),
        s"row-late-but-window-open event was not aggregated: $out")
      val w0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      assert(out.get(w0).contains(1L),
        s"expired-window late event not dropped: $out")
    } finally q.stop()
  }

  test("foreachBatch upsert sink merges incrementally across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val target = java.nio.file.Files
      .createTempDirectory("graft_upsert_sink").toString + "/table"
    val stream = MemoryStream[(Timestamp, String)]
    val agg = stream.toDF().toDF("ts", "event_type")
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type", $"n")
    val q = agg.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamOps.upsertInto(target, batch, Seq("win_start_ms", "event_type"),
          "win_date",
          date_format(timestamp_millis(col("win_start_ms")), "yyyy-MM-dd"))
      }.start()
    try {
      // batch 1: two windows
      stream.addData((ts(1), "a"), (ts(2), "a"), (ts(7), "b"))
      q.processAllAvailable()
      val after1 = spark.read.parquet(target)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val (w0, w5) = (ts(0).getTime, ts(5).getTime)
      assert(after1 == Map((w0, "a") -> 2L, (w5, "b") -> 1L), after1.toString)
      // batch 2: window (w0,a) UPDATES to 3, (w5,a) inserts; (w5,b) untouched
      stream.addData((ts(3), "a"), (ts(6), "a"))
      q.processAllAvailable()
      val after2 = spark.read.parquet(target)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(after2 == Map((w0, "a") -> 3L, (w5, "a") -> 1L, (w5, "b") -> 1L),
        after2.toString)
    } finally q.stop()
  }

  test("tx-publish sink: each trigger swaps the snapshot atomically, one version live") {
    implicit val sqlCtx = spark.sqlContext
    val target = java.nio.file.Files
      .createTempDirectory("graft_txpub").toString + "/table"
    val fmt = "graft.sources.TxManifestSource"
    val stream = MemoryStream[(Timestamp, String)]
    val agg = stream.toDF().toDF("ts", "event_type")
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type", $"n")
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.format(fmt).option("path", target)
          .mode("overwrite").save()
      }.start()
    try {
      def snapshot() = spark.read.format(fmt).option("path", target).load()
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val (w0, w5) = (ts(0).getTime, ts(5).getTime)
      stream.addData((ts(1), "a"), (ts(2), "a"), (ts(7), "b"))
      q.processAllAvailable()
      assert(snapshot() == Map((w0, "a") -> 2L, (w5, "b") -> 1L))
      stream.addData((ts(3), "a"))
      q.processAllAvailable()
      // complete-mode snapshot REPLACED, not merged
      assert(snapshot() == Map((w0, "a") -> 3L, (w5, "b") -> 1L))
      // the swap GC'd the previous version: exactly one version dir
      // referenced, no staging litter
      val files = new java.io.File(target).listFiles()
      assert(files.count(f => f.isDirectory && f.getName.startsWith("v-")) == 1,
        files.mkString(","))
      assert(!files.exists(_.getName.startsWith(".staging-")))
    } finally q.stop()
  }

  test("upsert sink rewrites only touched partitions; others stay byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    val target = java.nio.file.Files
      .createTempDirectory("graft_upsert_part").toString + "/table"
    val stream = MemoryStream[(Timestamp, String)]
    val agg = stream.toDF().toDF("ts", "event_type")
      .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type", $"n")
    // partition on the window HOUR so the two batches land in different dirs
    val q = agg.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamOps.upsertInto(target, batch, Seq("win_start_ms", "event_type"),
          "win_hour",
          date_format(timestamp_millis(col("win_start_ms")), "yyyy-MM-dd-HH"))
      }.start()
    def snapshot(dir: java.io.File): Map[String, (Long, Long)] =
      dir.listFiles().filter(_.isFile)
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    try {
      // batch 1: hour 00 and hour 01 partitions
      stream.addData((ts(1), "a"), (Timestamp.valueOf("2024-01-01 01:01:00"), "b"))
      q.processAllAvailable()
      val hour0 = new java.io.File(target, "win_hour=2024-01-01-00")
      val hour1 = new java.io.File(target, "win_hour=2024-01-01-01")
      assert(hour0.isDirectory && hour1.isDirectory,
        new java.io.File(target).listFiles().mkString(","))
      val before = snapshot(hour0)
      // batch 2 touches ONLY hour 01 (updates b's window count to 2)
      stream.addData((Timestamp.valueOf("2024-01-01 01:02:00"), "b"))
      q.processAllAvailable()
      assert(snapshot(hour0) == before,
        s"untouched partition rewritten: before=$before after=${snapshot(hour0)}")
      val rows = spark.read.parquet(target)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val w0 = ts(0).getTime
      val w61 = Timestamp.valueOf("2024-01-01 01:00:00").getTime
      assert(rows == Map((w0, "a") -> 1L, (w61, "b") -> 2L), rows.toString)
    } finally q.stop()
  }

  test("upsert sink is idempotent under micro-batch replay (foreachBatch retry)") {
    // foreachBatch may re-deliver a batch after a failure; dynamic
    // partition overwrite makes the merge naturally idempotent — the
    // replay rewrites the same partitions with the same content
    val target = java.nio.file.Files
      .createTempDirectory("graft_upsert_retry").toString + "/table"
    val batch = Seq((ts(0).getTime, "a", 2L), (ts(5).getTime, "b", 1L))
      .toDF("win_start_ms", "event_type", "n")
    def apply(): Unit =
      StreamOps.upsertInto(target, batch, Seq("win_start_ms", "event_type"),
        "win_date",
        date_format(timestamp_millis(col("win_start_ms")), "yyyy-MM-dd"))
    apply()
    val first = spark.read.parquet(target)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    apply() // the replay
    val second = spark.read.parquet(target)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(first == second && first.size == 2, s"$first vs $second")
  }

  test("late-drop twin matches the real engine under the declared arrival schedule") {
    // q_stream_late_drop's contract says: feeding the fixture through a
    // real watermarked stream in the declared arrival order (batch =
    // event_id div 1000, laggy sources +3) produces exactly the twin's
    // aggregate. This drives precisely that through MemoryStream: update
    // mode + foreachBatch folds each batch's changed (window, type) rows
    // into a map whose final state is the accepted-events aggregate.
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .withColumn("batch", expr("event_id div 1000") +
        when($"user_id" % 50 === 0, lit(3)).otherwise(lit(0)))
      .collect()
    val byBatch = ev.groupBy(_.getLong(4)).toSeq.sortBy(_._1)
    val stream = MemoryStream[(Timestamp, String)]
    val agg = stream.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type", $"n")
    val state = scala.collection.mutable.Map[(Long, String), Long]()
    val q = agg.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          state((r.getLong(0), r.getString(1))) = r.getLong(2))
      }.start()
    try {
      byBatch.foreach { case (_, rows) =>
        stream.addData(rows.map(r => (r.getTimestamp(1), r.getString(3))): _*)
        q.processAllAvailable() // one arrival batch per micro-batch
      }
    } finally q.stop()
    val twin = StreamOps.lateDrop(spark, sf0001)
      .select($"win_start_ms", $"event_type", $"n")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(state.toMap == twin,
      s"engine/twin divergence: onlyEngine=${state.toMap.toSet.diff(twin.toSet)} " +
        s"onlyTwin=${twin.toSet.diff(state.toMap.toSet)}")
  }

  test("late-drop schedule drops events (the twin differs from plain tumbling)") {
    val dropped = StreamOps.tumbling(spark, sf0001).agg(sum($"n")).head.getLong(0) -
      StreamOps.lateDrop(spark, sf0001).agg(sum($"n")).head.getLong(0)
    assert(dropped > 0, "arrival schedule produced no late events — twin is vacuous")
  }

  test("streaming session_window matches the batch twin on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      (1L, ts(0)), (1L, ts(5)), (1L, ts(30)), // user 1: 2 sessions
      (2L, ts(0)), (2L, ts(25)), (2L, ts(26))) // user 2: 2 sessions
    val stream = MemoryStream[(Long, Timestamp)]
    val agg = stream.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "10 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", unix_millis($"sw.start").as("start_ms"), $"n")
    val q = agg.writeStream.format("memory")
      .queryName("sess_test").outputMode(OutputMode.Append()).start()
    try {
      stream.addData(events: _*)
      q.processAllAvailable()
      stream.addData((1L, ts(59, 59)), (2L, ts(59, 59))) // advance watermark
      q.processAllAvailable()
      val streamed = spark.table("sess_test")
        .filter($"start_ms" < Timestamp.valueOf("2024-01-01 00:59:00").getTime)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = events.toDF("user_id", "ts")
        .groupBy(session_window($"ts", "10 minutes").as("sw"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .select($"user_id", unix_millis($"sw.start").as("start_ms"), $"n")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream/batch divergence:\n stream=$streamed\n batch=$batch")
    } finally q.stop()
  }

  test("session twin tie-break: same-ts events at a session boundary") {
    // q_stream_session's oracle is a LAG/SUM twin of session_window. The
    // round-5 latent hole: the session-id running SUM ordered by ts alone,
    // so two same-user events sharing ONE timestamp at a session boundary
    // could be ordered either way by the engine — the sid increment (new_s=1
    // on exactly one of the pair under the LAG's (ts, event_id) order) could
    // land after the other row, splitting the pair across sessions. The fix
    // orders the SUM by (ts, event_id), same keys as the LAG above it. This
    // plants exactly that shape: one stale event, then TWO events sharing a
    // timestamp >= gap later. session_window (order-insensitive ground
    // truth) puts both in the new session; the twin must agree under both
    // input orders.
    val boundaryPair = Seq((1L, 10L, ts(0)), (1L, 11L, ts(11)), (1L, 12L, ts(11)))
    val expected = boundaryPair.toDF("user_id", "event_id", "ts")
      .groupBy(session_window($"ts", "10 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", unix_millis($"sw.start").as("session_start_ms"), $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected ==
      Set((1L, ts(0).getTime, 1L), (1L, ts(11).getTime, 2L)),
      s"fixture does not plant the boundary it claims: $expected")
    for (perm <- Seq(boundaryPair, boundaryPair.reverse)) {
      perm.toDF("user_id", "event_id", "ts").createOrReplaceTempView("sess_tie")
      // structural mirror of StreamOps.oracleSql("q_stream_session") with
      // DuckDB's epoch_ms spelled unix_millis — keep the window clauses in
      // lockstep with the oracle string
      val twin = spark.sql(
        """WITH marked AS (
          |  SELECT user_id, ts, event_id,
          |    CASE WHEN unix_millis(ts) - unix_millis(LAG(ts) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id)) >= 600000
          |         OR LAG(ts) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM sess_tie),
          |sessioned AS (
          |  SELECT user_id, ts,
          |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                     ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM marked)
          |SELECT user_id, unix_millis(MIN(ts)) AS session_start_ms,
          |  COUNT(*) AS n
          |FROM sessioned GROUP BY user_id, sid""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(twin == expected,
        s"twin diverged from session_window on planted same-ts boundary " +
          s"(input order ${perm.map(_._2)}):\n twin=$twin\n expected=$expected")
    }
  }

  test("stream partition spans are counted per session") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val key = "spark.sql.shuffle.partitions"
    val other = spark.newSession()
    val (prevA, prevB) = (spark.conf.get(key), other.conf.get(key))
    assume(prevB != StreamOps.streamShufflePartitions,
      "the stream budget equals the session default; the spec would be vacuous")
    val aOpen = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    // session A holds its span open until session B's span has run
    val holder = new Thread(() => StreamOps.withStreamPartitions(spark) {
      aOpen.countDown(); bDone.await(20, TimeUnit.SECONDS)
    })
    holder.start()
    assert(aOpen.await(20, TimeUnit.SECONDS))
    @volatile var seenB = ""
    val inner = new Thread(() =>
      try StreamOps.withStreamPartitions(other) { seenB = other.conf.get(key) }
      finally bDone.countDown())
    inner.start(); inner.join(20000); holder.join(20000)
    assert(seenB == StreamOps.streamShufflePartitions,
      "session B's span ran on its default partitions")
    assert(spark.conf.get(key) == prevA && other.conf.get(key) == prevB)
  }
}
