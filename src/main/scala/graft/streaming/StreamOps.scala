package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming operators, declared as their deterministic BATCH TWINS
  * (SURVEY.md §2.4/§7.3-8: micro-batch boundaries make true streaming
  * output non-oracle-checkable; the window()/session_window() expressions
  * are identical in both modes, so the batch run pins the semantics and
  * StreamingSpec drives the same expressions through MemoryStream with
  * watermarks).
  *
  * The reference's only temporal notion is the daily micro-batch
  * (01_classification_pipeline.py:12-15, run_pipeline.sh:6-11); these
  * generalize it to event-time windows over the events table.
  *
  * Money-sum discipline: value is 2-dp exact → DECIMAL(14,2) sums
  * (AggOps.dsum) so partial-agg order can't flip a bit vs DuckDB.
  */
object StreamOps extends graft.QueryModule {

  /** State/shuffle partition budget for the TRUE-streaming queries.
    * A stream's state partition count is a DESIGN-time choice (it is
    * pinned into the checkpoint on first run and cannot change without
    * a state reset), sized to the stateful key domain — here the
    * (window × type) / per-type / per-window domains are all in the
    * hundreds, so 8 partitions is already generous; inheriting the
    * session's corpus-sized shuffle.partitions instead made the
    * per-partition-per-batch state-store file round-trips the dominant
    * cost of every live query (measured at sf0.1 / local[32]:
    * live_tumbling 2.1→1.7 s, upsert_sink 4.2→2.6 s at 32→8). At
    * production state volumes raise SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS
    * — the knob is the same one a real deployment sets per stream. */
  private[graft] def streamShufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8")

  /** Run `body` (a stream definition + start + awaitTermination) with
    * the session's shuffle partitions pinned to the stream budget,
    * restoring the caller's value afterwards.
    *
    * SCOPE CAVEAT: spark.sql.shuffle.partitions is session-global, so
    * anything else planned on this session inside the span (including
    * this stream's own foreachBatch batch jobs — intended) plans with
    * the stream budget. The bench/verify harness runs queries strictly
    * sequentially, so nothing unrelated can land in the span; the
    * per-session depth count below makes nested/overlapping spans on one
    * session restore the OUTERMOST caller's value instead of an inner
    * pinned one, while a span on another session pins its own conf. */
  private val streamConfDepth = scala.collection.mutable.Map.empty[SparkSession, Int]
  private[graft] def withStreamPartitions[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    // an entry lives only while its session has a span open
    def step(delta: Int): Int = streamConfDepth.synchronized {
      val depth = streamConfDepth.getOrElse(spark, 0) + delta
      if (depth == 0) streamConfDepth -= spark else streamConfDepth(spark) = depth
      depth
    }
    val outermost = step(1) == 1
    val prev = spark.conf.get(key)
    if (outermost) spark.conf.set(key, streamShufflePartitions)
    try body finally {
      if (outermost) spark.conf.set(key, prev)
      step(-1)
    }
  }

  /** Drain a configured stream writer: start it with
    * Trigger.AvailableNow under the stream partition budget
    * ([[withStreamPartitions]]) and block until every available input
    * is processed. The caller's writer keeps its own sink, output mode
    * and query name. */
  private[graft] def drain(spark: SparkSession, writer: DataStreamWriter[_]): Unit =
    withStreamPartitions(spark) {
      writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }

  /** Tumbling 15-minute windows: count + exact sum per (window, type). */
  def tumbling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .groupBy(window($"ts", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.ops.AggOps.dsum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type",
        $"n", $"sum_value")
      .orderBy($"win_start_ms", $"event_type")
  }

  /** Sliding 1h windows every 30min — every event lands in exactly 2. */
  def sliding(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.ops.AggOps.dsum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type",
        $"n", $"sum_value")
      .orderBy($"win_start_ms", $"event_type")
  }

  /** Gap-based session windows (10 min) per user. Session start = min ts;
    * a >= 10min silence opens a new session (session_window's half-open
    * [ts, ts+gap) merge rule). */
  def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .groupBy(session_window($"ts", "10 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"), graft.ops.AggOps.dsum($"value").as("sum_value"))
      .select($"user_id", unix_millis($"sw.start").as("session_start_ms"),
        $"n", $"sum_value")
      .orderBy($"user_id", $"session_start_ms")
  }

  /** The file-source events STREAM shared by every TRUE-streaming query:
    * batch loader side-effect sets the nanosAsLong conf, the raw schema
    * is read once, and the ts normalization is Tables.normalizeEventTs —
    * one place to change the events source contract (it adapts to both
    * the nanos-long and the TIMESTAMP_NTZ physical forms of events.ts). */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.events(spark, sfDir) // sets the nanosAsLong conf
    // raw (pre-normalization) schema through Tables' per-session schema
    // memo (flow.Committed) — no per-stream-query footer re-read
    val rawSchema = graft.Tables.table(spark, sfDir, "events").schema
    // two fixture layouts exist: the driver's single FILE
    // events.parquet (stream the parent dir, glob on the file name —
    // pathGlobFilter matches LEAF names, so it would see zero files
    // under a directory table) and the production DIRECTORY layout
    // (e.g. the synthesized sf1) — stream the directory itself. The
    // probe goes through the Hadoop FileSystem of the path (NOT
    // java.io.File, which only answers for local paths and would
    // silently mis-route an HDFS/S3 directory table into the
    // zero-match glob branch).
    val evPath = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val evFs = evPath.getFileSystem(spark.sessionState.newHadoopConf())
    // probe existence FIRST: getFileStatus on a missing path throws a
    // bare FileNotFoundException — a missing fixture should fail with a
    // message naming the fixture, not an unexplained FNF from the
    // layout probe
    require(evFs.exists(evPath),
      s"events fixture missing: $evPath (expected a file or directory " +
        "table under the sf dir)")
    val isDirLayout = evFs.getFileStatus(evPath).isDirectory
    val raw =
      if (isDirLayout)
        spark.readStream.schema(rawSchema).parquet(s"$sfDir/events.parquet")
      else
        spark.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    graft.Tables.normalizeEventTs(raw)
  }

  /** TRUE streaming execution of the tumbling aggregate: parquet file
    * source -> readStream -> windowed agg -> memory sink, driven to
    * completion with Trigger.AvailableNow. Complete-mode final state is
    * exactly the batch aggregate, so this one IS oracle-checkable (same
    * SQL as q_stream_tumbling) — the micro-batch engine itself is under
    * the t2 contract, not just the window expressions. */
  def liveTumbling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = eventsStream(spark, sfDir)
      .groupBy(window($"ts", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.ops.AggOps.dsum($"value").as("sum_value"))
    val name = "live_tumbling_" + java.lang.Integer.toHexString(sfDir.hashCode)
    drain(spark, agg.writeStream.format("memory").queryName(name)
      .outputMode("complete"))
    spark.table(name)
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type",
        $"n", $"sum_value")
      .orderBy($"win_start_ms", $"event_type")
  }

  /** TRUE streaming execution of the SESSION-window aggregate: the
    * micro-batch engine's session_window state machine (merge-on-gap,
    * not just the window expression) runs under the oracle — complete
    * mode's final state equals the batch session twin, so this shares
    * q_stream_session's sessionization-SQL oracle. With tumbling
    * ([[liveTumbling]]) this puts both stateful window KINDS the
    * engine supports through the real readStream path. */
  def liveSession(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = eventsStream(spark, sfDir)
      .groupBy(session_window($"ts", "10 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"),
        graft.ops.AggOps.dsum($"value").as("sum_value"))
    val name = "live_session_" + java.lang.Integer.toHexString(sfDir.hashCode)
    drain(spark, agg.writeStream.format("memory").queryName(name)
      .outputMode("complete"))
    spark.table(name)
      .select($"user_id", unix_millis($"sw.start").as("session_start_ms"),
        $"n", $"sum_value")
      .orderBy($"user_id", $"session_start_ms")
  }

  /** Streaming UPSERT sink (foreachBatch): the tumbling aggregate runs
    * in update mode and each micro-batch's changed (window, type) rows
    * MERGE into a parquet target — read-modify-atomic-swap keyed on the
    * window. This is the standard Spark pattern for maintaining a
    * serving table from a stream without a lakehouse format; with one,
    * foreachBatch's body becomes MERGE INTO and nothing else changes.
    * Final table state equals the batch aggregate, so the declared query
    * shares the tumbling oracle; INCREMENTAL multi-batch behavior is
    * pinned by StreamingSpec (MemoryStream, two add/process rounds). */
  def liveTumblingUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = eventsStream(spark, sfDir)
      .groupBy(window($"ts", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.ops.AggOps.dsum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type",
        $"n", $"sum_value")
    val target = s"${graft.Artifacts.root}/graft_stream_upsert/" +
      java.lang.Integer.toHexString(sfDir.hashCode)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(target))
    drain(spark, agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertInto(target, batch, Seq("win_start_ms", "event_type"),
          "win_date",
          date_format(timestamp_millis(col("win_start_ms")), "yyyy-MM-dd"))
      })
    spark.read.parquet(target)
      .select($"win_start_ms", $"event_type", $"n", $"sum_value")
      .orderBy($"win_start_ms", $"event_type")
  }

  /** q_stream_tx_publish — streaming SNAPSHOT PUBLISH through the
    * transactional DSv2 sink ([[graft.sources.TxManifestSource]]): the
    * per-(window, type) aggregate runs in complete mode and each
    * micro-batch republishes the serving snapshot atomically — one
    * staging write + ONE manifest rename per trigger, so a reader sees
    * the previous complete snapshot or the new one, never a
    * half-written table, and a crashed trigger leaves the old snapshot
    * live (TxSinkSpec's abort contract). The snapshot pattern fits
    * BOUNDED serving aggregates (window × type totals here — the
    * output domain, not the stream, bounds the rewrite); unbounded-key
    * serving tables take the partition-scoped upsert path
    * ([[liveTumblingUpsert]]) instead. Final published snapshot equals
    * the batch aggregate, so this shares the tumbling oracle. */
  def liveTxPublish(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val agg = eventsStream(spark, sfDir)
      .groupBy(window($"ts", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        graft.ops.AggOps.dsum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type",
        $"n", $"sum_value")
    val target = s"${graft.Artifacts.root}/graft_stream_txpub/" +
      java.lang.Integer.toHexString(sfDir.hashCode)
    drain(spark, agg.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.format("graft.sources.TxManifestSource")
          .option("path", target).mode("overwrite").save()
      })
    spark.read.format("graft.sources.TxManifestSource")
      .option("path", target).load()
      .orderBy($"win_start_ms", $"event_type")
  }

  /** MERGE a micro-batch into a parquet target PARTITION-SCOPED: the
    * target is partitioned on a window-derived key (`partCol` =
    * `partExpr`, e.g. the window's calendar date) and each micro-batch
    * rewrites ONLY the partitions containing touched keys, via dynamic
    * partition overwrite. Untouched partitions' files are never read,
    * never rewritten, never deleted — the property that makes a
    * continuously-upserted serving table survive 100 TB, where the
    * previous full-table read-merge-swap did not (a day's partition is
    * rewritten per batch; the other 10 years of history are not).
    *
    * Per batch: (1) the batch's distinct partition keys come to the
    * driver — bounded by the micro-batch's window span (a handful of
    * dates), not by table size; (2) survivors = partition-pruned scan of
    * ONLY those partitions, anti-joined against the batch's keys, then
    * localCheckpoint'd (materializing survivors breaks the
    * read-the-path-being-overwritten cycle, and they are at most a few
    * partitions' rows); (3) survivors ∪ batch written with
    * `partitionOverwriteMode=dynamic`, which stages and commits just the
    * partitions present in the written data.
    *
    * Retry-safe: foreachBatch can re-deliver a batch after a failure;
    * replaying the merge rewrites the same partitions with the same
    * content, so the sink is idempotent without a batchId ledger
    * (StreamingSpec pins this). */
  private[streaming] def upsertInto(target: String, batch: DataFrame,
                                    keys: Seq[String], partCol: String,
                                    partExpr: Column): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return // empty micro-batch: touch nothing
    // one shuffle on the partition key before every write: each partition
    // value lands in ONE task, so a write emits one file per partition dir
    // instead of (tasks x values) small files — the standard pre-write
    // clustering for partitioned targets
    val withPart = batch.withColumn(partCol, partExpr)
      .repartition(col(partCol))
    if (!new java.io.File(target).exists()) {
      withPart.write.mode("overwrite").partitionBy(partCol).parquet(target)
    } else {
      val touched = withPart.select(col(partCol)).distinct()
        .collect().map(_.get(0)).toSeq
      // explicit schema: partition-column TYPE INFERENCE is off the table
      // (an inferred type whose string form differs from the written
      // value — "007" read back as INT 7 — would empty the survivor set
      // and silently drop every non-batch row of a touched partition)
      val survivors = spark.read.schema(withPart.schema).parquet(target)
        .filter(col(partCol).isin(touched: _*)) // partition-pruned scan
        .join(withPart.select(keys.map(col): _*), keys, "left_anti")
        .localCheckpoint()
      survivors.unionByName(withPart)
        .repartition(col(partCol))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(target)
    }
  }

  /** Stream-stream interval join, declared as its deterministic batch
    * twin (both sides bounded — exactly the q_join_range precedent):
    * click events attribute to the view by the same user within the
    * preceding 5 minutes. The TRUE streaming execution of this shape —
    * two watermarked streams, state kept only inside the interval bound —
    * is pinned by StatefulStreamingSpec ("stream-stream interval join
    * matches only within the time bound"); append-mode emission at
    * stream end is watermark-gated, so the batch twin is the
    * oracle-checkable declaration. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
    val views = ev.filter($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id", $"ts".as("v_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id", $"ts".as("c_ts"))
    views.join(clicks, Seq("user_id"))
      .filter($"c_ts" >= $"v_ts" &&
        $"c_ts" <= $"v_ts" + expr("interval 5 minutes"))
      .select($"user_id", $"v_id", $"c_id",
        (unix_millis($"c_ts") - unix_millis($"v_ts")).as("lag_ms"))
      .orderBy($"v_id", $"c_id")
  }

  /** Replay suppression, declared as the batch twin of
    * dropDuplicatesWithinWatermark (whose true cross-micro-batch replay
    * behavior is pinned by StatefulStreamingSpec): events dedup on the
    * idempotency key (user, type, event-time minute), first arrival
    * (min event_id) survives, replay count kept for observability. The
    * streaming form holds only a watermark-bounded slice of keys in
    * state; the batch twin sees the bounded fixture whole, so the
    * result is the oracle-checkable fixpoint of the same contract. */
  def dedupReplays(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .withColumn("minute_ms",
        expr("unix_millis(ts) div 60000") * 60000L)
      .groupBy($"user_id", $"event_type", $"minute_ms")
      .agg(min($"event_id").as("keep_event_id"),
        count(lit(1)).as("n_replays"))
      .orderBy($"user_id", $"event_type", $"minute_ms")
  }

  /** Per-user running state, declared as the batch twin of the
    * flatMapGroupsWithState pipeline pinned by StatefulStreamingSpec:
    * the streaming op keeps (event count, last value) per user and
    * emits on every batch; over a bounded input its FINAL state is this
    * aggregate — count plus the value of the (ts, event_id)-max event
    * (the same deterministic tie-break the spec's update function
    * applies within a batch). */
  def userRunningState(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byUser = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
    val latest = byUser.orderBy($"ts".desc, $"event_id".desc)
    graft.Tables.events(spark, sfDir)
      .withColumn("rk", row_number().over(latest))
      .withColumn("n_events", count(lit(1)).over(byUser))
      .filter($"rk" === 1)
      .select($"user_id", $"n_events", $"value".as("last_value"),
        unix_millis($"ts").as("last_ts_ms"))
      .orderBy($"user_id")
  }

  /** Reference k for the STREAMING CUSUM (cents): the online form of
    * Page's recursion needs a FIXED target — the batch twin's
    * series-mean k is unknowable mid-stream — pinned near the median
    * 15-minute window revenue so the statistic both resets and
    * accumulates on the fixture (non-vacuous shift flags). */
  val CusumK = 5000L
  private val CusumWinMs = 900000L // 15-minute tumbling windows

  /** State fold for [[liveCusum]] (SURVEY §9.2, the round-12 deferral):
    * per key, per-window revenue buckets accumulate in state; when the
    * watermark closes a window, the fold emits it in EVENT-TIME ORDER
    * through the CUSUM recursion S_t = max(0, S_{t−1} + rev_t − k)
    * (Page 1954) and the running peak → drawdown. `closedThroughMs`
    * enforces the watermark contract at the operator level: a row
    * whose window already closed is discarded, never re-emitted — so
    * per-key emission is monotone in event time no matter how arrival
    * interleaves across micro-batches.
    *
    * Scale: state per key = only the OPEN windows (bounded by the
    * lateness horizon / window size) plus three longs — the state
    * store never holds the series history, and the sequential
    * recursion runs per key over closed windows only, exactly the
    * partitioned-stateful shape mapGroupsWithState exists for. */
  def cusumUpdate(key: String, rows: Iterator[SeriesEvent],
                  state: org.apache.spark.sql.streaming.GroupState[SeriesState])
      : Iterator[SeriesOut] = {
    val st = state.getOption.getOrElse(
      SeriesState(Map.empty, 0L, 0L, Long.MinValue))
    val wm = state.getCurrentWatermarkMs()
    var open = st.open
    rows.foreach { e =>
      val ws = Math.floorDiv(e.ts.getTime, CusumWinMs) * CusumWinMs
      if (ws + CusumWinMs > st.closedThroughMs)
        open = open.updated(ws, open.getOrElse(ws, 0L) + e.cents)
    }
    val closable =
      open.keysIterator.filter(_ + CusumWinMs <= wm).toSeq.sorted
    var cusum = st.cusum
    var peak = st.peak
    val out = closable.map { ws =>
      val rev = open(ws)
      cusum = math.max(0L, cusum + rev - CusumK)
      peak = math.max(peak, rev)
      SeriesOut(key, ws, rev, cusum, if (cusum > 2L * CusumK) 1 else 0,
        peak, peak - rev)
    }
    open = open.removedAll(closable)
    val closedThrough =
      if (closable.nonEmpty) closable.last + CusumWinMs
      else st.closedThroughMs
    state.update(SeriesState(open, cusum, peak, closedThrough))
    // re-arm at minOpenEnd−1: event-time timeouts fire on
    // timeoutTs < watermark, so end−1 < wm ⟺ end ≤ wm — the exact
    // closure rule the oracle twin states as win_end ≤ max(ts) − delay
    if (open.nonEmpty)
      state.setTimeoutTimestamp(
        math.max(open.keysIterator.min + CusumWinMs - 1, wm + 1))
    out.iterator
  }

  /** TRUE stateful streaming CUSUM + drawdown: readStream →
    * watermark(10 min) → flatMapGroupsWithState(EventTimeTimeout) per
    * event type, [[cusumUpdate]] closing tumbling windows as the
    * watermark passes them. Fully oracled: the final append-mode
    * output is exactly the windows with win_end ≤ max(ts) − delay,
    * folded in window order — a twin DuckDB states in two running
    * windows via the prefix identity S_t = P_t − min(0, min_{j≤t}
    * P_j), P = cumsum(rev − k). The trailing windows inside the
    * watermark horizon stay OPEN and are correctly absent from both
    * sides (the non-vacuity check the late-drop query established). */
  def liveCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ev = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .select($"event_type", $"ts",
        (graft.ops.AggOps.dec($"value") * 100).cast("long").as("cents"))
      .as[SeriesEvent]
    val out = ev.groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        cusumUpdate)
    val name = "live_cusum_" + java.lang.Integer.toHexString(sfDir.hashCode)
    drain(spark, out.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append"))
    spark.table(name).orderBy($"event_type", $"win_start_ms")
  }

  /** State fold for [[liveTopk]]: the group key IS the tumbling
    * window start, so state is exactly one window's per-type revenue
    * map (bounded by |event types|, never by event count). A window
    * publishes its top-3 ONCE when the watermark passes its end —
    * the `emitted` latch makes any later arrival for a published
    * window a deterministic no-op (the cusumUpdate closedThroughMs
    * rule, per-window form). Production note: published latches are
    * freed once the lateness horizon passes (here they live to end of
    * run — bounded by the fixture's window count). */
  def topkUpdate(ws: Long, rows: Iterator[SeriesEvent],
                 state: org.apache.spark.sql.streaming.GroupState[TopkState])
      : Iterator[TopkOut] = {
    val st = state.getOption.getOrElse(TopkState(Map.empty, emitted = false))
    if (st.emitted) return Iterator.empty // late rows after publish
    var sums = st.sums
    rows.foreach { e =>
      sums = sums.updated(e.event_type, sums.getOrElse(e.event_type, 0L) +
        e.cents)
    }
    val wm = state.getCurrentWatermarkMs()
    if (ws + CusumWinMs <= wm) {
      state.update(TopkState(Map.empty, emitted = true))
      sums.toSeq.sortBy { case (t, c) => (-c, t) }.take(3)
        .zipWithIndex.iterator.map { case ((t, c), i) =>
          TopkOut(ws, i + 1, t, c) }
    } else {
      state.update(TopkState(sums, emitted = false))
      // end−1 < wm ⟺ end ≤ wm (the cusumUpdate re-arm rule)
      state.setTimeoutTimestamp(math.max(ws + CusumWinMs - 1, wm + 1))
      Iterator.empty
    }
  }

  /** TRUE stateful streaming per-window top-k: readStream →
    * watermark(10 min) → flatMapGroupsWithState keyed by WINDOW START
    * — the leaderboard shape (top event types by exact revenue per
    * closed 15-minute window) that complete-mode aggregation cannot
    * express incrementally at scale (complete mode re-emits ALL
    * windows every trigger; this emits each window once, on closure).
    * Fully oracled: the append output is exactly the windows with
    * win_end ≤ max(ts) − delay, each cut to rank ≤ 3 by (revenue
    * desc, type) — the live_cusum closure contract, per-window. */
  def liveTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ev = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .select($"event_type", $"ts",
        (graft.ops.AggOps.dec($"value") * 100).cast("long").as("cents"))
      .as[SeriesEvent]
    val out = ev.groupByKey(e =>
        Math.floorDiv(e.ts.getTime, CusumWinMs) * CusumWinMs)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        topkUpdate)
    val name = "live_topk_" + java.lang.Integer.toHexString(sfDir.hashCode)
    drain(spark, out.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append"))
    spark.table(name).orderBy($"win_start_ms", $"rank")
  }

  /** Watermark late-data drop, declared as its deterministic batch twin
    * (the one streaming-semantics row that previously had no declared
    * query): tumbling aggregation over the events that a 10-minute
    * watermark would ACCEPT, under a pinned arrival order.
    *
    * Contract. Arrival is simulated deterministically: micro-batch k
    * carries events with `event_id div 1000 = k`, except events from
    * laggy sources (`user_id % 50 = 0`), which deliver 3 batches late —
    * the fixture's event times are monotone in event_id, so without the
    * lag simulation nothing would ever be late and the query would pin
    * nothing. Spark's engine rule is applied exactly: the watermark
    * during batch k is max(event time over batches < k) - 10 min
    * (watermarks advance at micro-batch END), and a windowed-aggregation
    * input row is dropped iff its WINDOW has already expired —
    * window.end <= watermark (WatermarkSupport builds the late-data
    * predicate on the window struct's end for aggregations, NOT on the
    * raw event time; a row 12 min late whose 15-min window is still
    * open is aggregated). At sf0.01 this drops 176 of 10 000 events, so
    * the oracle compares a real, non-trivially-filtered aggregate;
    * StreamingSpec drives the same arrival schedule through
    * MemoryStream + withWatermark and checks the engine agrees with the
    * twin.
    *
    * Scale shape: per-batch max event time is a distributed aggregate;
    * the sequential part (running max over batch index) is ONE ROW PER
    * BATCH through a window — exactly the driver-side watermark ledger
    * the real engine keeps — then a broadcast join tags each event with
    * its batch's cutoff. No global sort, no single-partition pass over
    * the events themselves. */
  def lateDrop(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("batch", expr("event_id div 1000") +
        when($"user_id" % 50 === 0, lit(3)).otherwise(lit(0)))
    val batchMax = ev.groupBy($"batch").agg(max($"ts").as("bmax"))
    val wm = org.apache.spark.sql.expressions.Window
      .orderBy($"batch")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // one row per batch: the tiny frame where a global window is fine
    val cutoffs = batchMax
      .withColumn("prev_max", max($"bmax").over(wm))
      .select($"batch", $"prev_max")
    // drop at WINDOW granularity (the engine's aggregation rule):
    // a row is late iff its 15-min window's END is at or below the
    // batch's watermark
    val kept = ev.join(broadcast(cutoffs), Seq("batch"))
      .withColumn("win_end_ms",
        (expr("unix_millis(ts) div 900000") * 900000L + 900000L))
      .filter($"prev_max".isNull ||
        $"win_end_ms" > unix_millis($"prev_max") - 600000L)
    kept
      .groupBy(window($"ts", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.ops.AggOps.dsum($"value").as("sum_value"))
      .select(unix_millis($"w.start").as("win_start_ms"), $"event_type",
        $"n", $"sum_value")
      .orderBy($"win_start_ms", $"event_type")
  }

  /** Stream-static enrichment join (the standard streaming-ETL shape:
    * events enrich against a slowly-changing dimension without any
    * stream-side state): the events stream broadcast-joins the static
    * customer dim per micro-batch, then aggregates per (segment, type).
    * At 100 TB the dim broadcast refreshes per batch — no watermark, no
    * state store. TRUE readStream execution; final complete-mode state
    * equals the batch join+agg, so the query is fully oracled. */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, sfDir)
    val dim = graft.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment")
    val agg = ev.join(broadcast(dim), ev("user_id") === dim("c_custkey"))
      .groupBy($"c_mktsegment", $"event_type")
      .agg(count(lit(1)).as("n"), graft.ops.AggOps.dsum($"value").as("sum_value"))
    val name = "stream_static_" + java.lang.Integer.toHexString(sfDir.hashCode)
    drain(spark, agg.writeStream.format("memory").queryName(name)
      .outputMode("complete"))
    spark.table(name).orderBy($"c_mktsegment", $"event_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_live_tumbling" -> (liveTumbling _),
    "q_stream_live_session" -> (liveSession _),
    "q_stream_upsert_sink" -> (liveTumblingUpsert _),
    "q_stream_static_join" -> (streamStaticJoin _),
    "q_stream_stream_join" -> (streamStreamJoin _),
    "q_stream_dedup_replays" -> (dedupReplays _),
    "q_stream_user_state" -> (userRunningState _),
    "q_stream_tumbling" -> (tumbling _),
    "q_stream_sliding" -> (sliding _),
    "q_stream_session" -> (sessions _),
    "q_stream_late_drop" -> (lateDrop _),
    "q_stream_live_cusum" -> (liveCusum _),
    "q_stream_live_topk" -> (liveTopk _),
    "q_stream_tx_publish" -> (liveTxPublish _))

  private val tumblingOracle: String =
    """SELECT (epoch_ms(ts) // 900000) * 900000 AS win_start_ms, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_stream_late_drop" ->
      """WITH b AS (
        |  SELECT *, event_id // 1000 +
        |    CASE WHEN user_id % 50 = 0 THEN 3 ELSE 0 END AS batch
        |  FROM events),
        |bm AS (SELECT batch, max(ts) AS bmax FROM b GROUP BY batch),
        |cut AS (
        |  SELECT batch, max(bmax) OVER (ORDER BY batch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM bm),
        |kept AS (
        |  SELECT b.* FROM b JOIN cut USING (batch)
        |  WHERE cut.prev_max IS NULL
        |     OR (epoch_ms(b.ts) // 900000) * 900000 + 900000
        |        > epoch_ms(cut.prev_max) - 600000)
        |SELECT (epoch_ms(ts) // 900000) * 900000 AS win_start_ms, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_tumbling" -> tumblingOracle,
    "q_stream_live_tumbling" -> tumblingOracle,
    "q_stream_live_topk" ->
      """WITH w AS (
        |  SELECT event_type,
        |    (epoch_ms(ts) // 900000) * 900000 AS win_start_ms,
        |    CAST(SUM(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT)
        |      AS rev_cents
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT MAX(epoch_ms(ts)) - 600000 AS wm FROM events),
        |closed AS (
        |  SELECT event_type, win_start_ms, rev_cents
        |  FROM w CROSS JOIN m WHERE win_start_ms + 900000 <= wm),
        |r AS (
        |  SELECT win_start_ms,
        |    CAST(row_number() OVER (PARTITION BY win_start_ms
        |      ORDER BY rev_cents DESC, event_type) AS INT) AS rank,
        |    event_type, rev_cents
        |  FROM closed)
        |SELECT win_start_ms, rank, event_type, rev_cents
        |FROM r WHERE rank <= 3
        |ORDER BY win_start_ms, rank""".stripMargin,
    "q_stream_live_cusum" ->
      """WITH w AS (
        |  SELECT event_type,
        |    (epoch_ms(ts) // 900000) * 900000 AS win_start_ms,
        |    CAST(SUM(CAST(value AS DECIMAL(14,2))) * 100 AS BIGINT)
        |      AS rev_cents
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT MAX(epoch_ms(ts)) - 600000 AS wm FROM events),
        |c AS (
        |  SELECT event_type, win_start_ms, rev_cents,
        |    CAST(SUM(rev_cents - 5000) OVER
        |      (PARTITION BY event_type ORDER BY win_start_ms)
        |      AS BIGINT) AS p
        |  FROM w CROSS JOIN m
        |  WHERE win_start_ms + 900000 <= wm),
        |s AS (
        |  SELECT event_type, win_start_ms, rev_cents,
        |    p - LEAST(CAST(MIN(p) OVER
        |      (PARTITION BY event_type ORDER BY win_start_ms)
        |      AS BIGINT), 0) AS cusum_cents,
        |    CAST(MAX(rev_cents) OVER
        |      (PARTITION BY event_type ORDER BY win_start_ms)
        |      AS BIGINT) AS peak_cents
        |  FROM c)
        |SELECT event_type, win_start_ms, rev_cents, cusum_cents,
        |  CASE WHEN cusum_cents > 10000 THEN 1 ELSE 0 END AS shift_flag,
        |  peak_cents, peak_cents - rev_cents AS drawdown_cents
        |FROM s ORDER BY event_type, win_start_ms""".stripMargin,
    "q_stream_upsert_sink" -> tumblingOracle,
    "q_stream_tx_publish" -> tumblingOracle,
    "q_stream_stream_join" ->
      """SELECT v.user_id AS user_id, v.event_id AS v_id, c.event_id AS c_id,
        |  epoch_ms(c.ts) - epoch_ms(v.ts) AS lag_ms
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 5 MINUTE
        |ORDER BY v_id, c_id""".stripMargin,
    "q_stream_user_state" ->
      """SELECT user_id, n_events, last_value, last_ts_ms FROM (
        |  SELECT user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rk,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_events,
        |    value AS last_value, epoch_ms(ts) AS last_ts_ms
        |  FROM events)
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,
    "q_stream_dedup_replays" ->
      """SELECT user_id, event_type,
        |  (epoch_ms(ts) // 60000) * 60000 AS minute_ms,
        |  MIN(event_id) AS keep_event_id, COUNT(*) AS n_replays
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, minute_ms""".stripMargin,
    "q_stream_static_join" ->
      """SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_sliding" ->
      """WITH assigned AS (
        |  SELECT (epoch_ms(ts) // 1800000) * 1800000 AS win_start_ms,
        |         event_type, value FROM events
        |  UNION ALL
        |  SELECT (epoch_ms(ts) // 1800000) * 1800000 - 1800000 AS win_start_ms,
        |         event_type, value FROM events)
        |SELECT win_start_ms, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_live_session" -> sessionOracle,
    "q_stream_session" -> sessionOracle)

  private val sessionOracle: String =
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    -- gap compared in MICROSECONDS: session_window merges at full
        |    -- timestamp precision, and an ms-truncated oracle would split
        |    -- a pair whose exact gap is 599999.9 ms (latent mismatch on
        |    -- any future sub-ms fixture; ts is us-precision after
        |    -- Tables.normalizeEventTs)
        |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id))
        |           >= 600000000
        |         OR LAG(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessioned AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        |FROM sessioned GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin
}

/** Shapes for the stateful CUSUM/drawdown operator — top level so
  * Spark can derive the case-class encoders. */
final case class SeriesEvent(event_type: String, ts: java.sql.Timestamp,
                             cents: Long)

/** Per-key state: open (un-closed) window buckets, the CUSUM after
  * the last closed window, the running peak, and the event-time
  * high-water mark of closed windows (late-row discard rule). */
final case class SeriesState(open: Map[Long, Long], cusum: Long,
                             peak: Long, closedThroughMs: Long)

final case class SeriesOut(event_type: String, win_start_ms: Long,
                           rev_cents: Long, cusum_cents: Long,
                           shift_flag: Int, peak_cents: Long,
                           drawdown_cents: Long)

/** Shapes for the stateful per-window top-k operator: state is the
  * exact per-type revenue map of ONE tumbling window plus the
  * emitted latch (late rows arriving after the window published are
  * discarded, never re-emitted). */
final case class TopkState(sums: Map[String, Long], emitted: Boolean)

final case class TopkOut(win_start_ms: Long, rank: Int,
                         event_type: String, rev_cents: Long)
