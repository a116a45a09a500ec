package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scan/sink operators (SURVEY.md §2.3 "scans"/"sinks"; reference D6/D7/D27
  * — csv scan/sink at 00_training_pipeline.py:129-132, partition config at
  * 00_training_pipeline.py:123-125).
  *
  * 100 TB notes: explicit schemas on every scan (never infer on the hot
  * path); parquet for anything large; csv only at ingest boundaries. The
  * csv/partitioned queries roundtrip through a deterministic temp dir so the
  * DuckDB oracle (which only sees the fixture parquet) can still check them:
  * a lossless roundtrip must equal the source table.
  */
object ScanOps extends graft.QueryModule {

  private def tmpDir(tag: String, sfDir: String): String = {
    val key = java.lang.Integer.toHexString(sfDir.hashCode)
    s"${graft.Artifacts.root}/graft_roundtrip/${tag}_$key"
  }

  /** Run-local scratch root: unique per JVM, so artifacts whose content
    * comes from CODE (literal dims) can be rewritten freely without ever
    * racing a concurrent run over the same shared artifact root. */
  private lazy val runLocalDir: String =
    java.nio.file.Files.createTempDirectory("graft_run_").toString

  /** Explicit-schema parquet scan: schema declared, not inferred; Catalyst
    * prunes to the 4 projected columns (check ReadSchema in explain). */
  def scanParquet(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    spark.read.schema(schema).parquet(s"$sfDir/lineitem.parquet")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** CSV sink+scan roundtrip (reference `;`-delimited header csv, D6/D7):
    * write customer as `;`-csv, read it back with an explicit schema and
    * multiLine quoting. Equal to the source table iff the roundtrip is
    * lossless, which is exactly what the oracle asserts. */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("customer_csv", sfDir)
    graft.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .write.mode("overwrite")
      .option("header", true).option("delimiter", ";").csv(path)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_mktsegment", StringType)))
    spark.read.schema(schema)
      .option("header", true).option("delimiter", ";")
      .option("multiLine", true).csv(path)
      .orderBy($"c_custkey")
  }

  /** q_sink_tx_roundtrip — the WRITE-side DataSource V2 commit
    * protocol under the oracle contract
    * ([[graft.sources.TxManifestSource]], SURVEY §9.1): a
    * per-(flag, status) aggregate of lineitem is written through the
    * transactional sink (task staging → version dir → atomic manifest
    * rename; overwrite = truncate + manifest swap) and read back
    * through the same provider's manifest-driven scan, so the sink's
    * happy path is exact or the hash breaks. TxSinkSpec pins the
    * failure half: a writer killed mid-batch aborts with the previous
    * version fully visible and no staging litter. */
  def txRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("tx_sink", sfDir)
    graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        AggOps.dsum($"l_quantity").as("sum_qty"))
      .write.format("graft.sources.TxManifestSource")
      .option("path", path).mode("overwrite").save()
    spark.read.format("graft.sources.TxManifestSource")
      .option("path", path).load()
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** q_sink_compaction — the small-files maintenance pass every
    * long-lived 100 TB table needs: a streaming/CDC-ingested partition
    * accumulates one file per micro-batch until the NameNode/manifest
    * chokes and every scan pays per-file open cost. The operator reads
    * a fragmented partitioned table, rewrites each partition to
    * ceil(rows / targetRowsPerFile) files (row-count-based sizing —
    * deterministic, unlike byte-based — via a day repartition plus the
    * writer's maxRecordsPerFile cap), and reports
    * (day, files_before, files_after, n_rows). The rewrite here lands
    * in a fresh directory (static overwrite of a scratch target); an
    * IN-PLACE production compaction must additionally set
    * partitionOverwriteMode=dynamic and gate on files_before exceeding
    * a threshold so healthy partitions are never rewritten — the
    * upsert sink (StreamOps.upsertInto) shows that exact write shape.
    * Declared rows-only (file layout is not SQL-observable);
    * CompactionSpec pins the invariants: per-day ROW COUNTS survive
    * (the report's rows_preserved column; content equality is asserted
    * by the spec's total-count cross-check, not per-byte) and the file
    * count drops to the computed target. The report join is FULL OUTER
    * on day so a partition lost or invented by the rewrite surfaces as
    * a row with rows_preserved=false instead of vanishing. */
  def compaction(spark: SparkSession, sfDir: String): DataFrame =
    compactionWith(spark, sfDir, targetRows = 4096)

  /** targetRows exposed for the spec, which uses a tiny target to
    * exercise the multi-file-per-partition split path. */
  private[ops] def compactionWith(
      spark: SparkSession, sfDir: String, targetRows: Int): DataFrame = {
    import spark.implicits._
    val frag = tmpDir("events_frag", sfDir)
    val compacted = tmpDir("events_compact", sfDir)
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("day", to_date($"ts"))
    // build the pathology deterministically: 8 files per day
    ev.repartition(8, $"event_id").write
      .mode("overwrite").partitionBy("day").parquet(frag)
    def filesPerDay(path: String) =
      spark.read.parquet(path)
        // project the (deterministic) _metadata.file_path column first —
        // input_file_name() is non-deterministic and rejected in aggs
        .select($"day", col("_metadata.file_path").as("f"))
        .groupBy($"day").agg(
          countDistinct($"f").as("n_files"), count(lit(1)).as("n_rows"))
    val before = filesPerDay(frag)
    // compact: repartition on day co-locates each partition's rows in
    // one task (AQE may merge small days into one task — the writer
    // still splits per day directory), and maxRecordsPerFile caps each
    // file, so files_after = ceil(rows/target) EXACTLY — the writer's
    // split is deterministic where a bucketized-shuffle assignment
    // depends on hash-bucket occupancy
    spark.read.parquet(frag)
      .repartition($"day")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRows.toLong)
      .partitionBy("day").parquet(compacted)
    val after = filesPerDay(compacted)
    // FULL OUTER on day: a partition lost or invented by the rewrite
    // must surface as rows_preserved=false, not vanish from the report
    // (an inner join would silently drop exactly the failure case)
    before.select($"day", $"n_files".as("files_before"),
        $"n_rows")
      .join(after.select($"day".as("day_after"),
        $"n_files".as("files_after"), $"n_rows".as("rows_after")),
        $"day" <=> $"day_after", "full")
      .select(coalesce($"day", $"day_after").as("day"),
        coalesce($"files_before", lit(0L)).as("files_before"),
        coalesce($"files_after", lit(0L)).as("files_after"),
        coalesce($"n_rows", lit(0L)).as("n_rows"),
        ($"n_rows" <=> $"rows_after").as("rows_preserved"))
      .orderBy($"day")
  }

  /** Partitioned parquet write (D27's dynamic-partition intent done the
    * Spark way: write.partitionBy) then a partition-pruned scan: only the
    * l_returnflag='R' directory is read back (PartitionFilters in explain). */
  def partitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("lineitem_part", sfDir)
    graft.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    spark.read.parquet(path)
      .filter($"l_returnflag" === "R")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        AggOps.dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** JSON-lines sink+scan roundtrip (the interchange format of most
    * LLM-corpus tooling): write a deterministic 1-in-10 slice of orders
    * as jsonl, read back with an explicit schema. Doubles/longs/strings
    * survive JSON exactly; the oracle replays the same slice. The slice
    * keeps the roundtrip's write volume proportionate to what the
    * operator demonstrates (format fidelity, not bulk-write throughput —
    * q_sink_partitioned_write covers the bulk path). */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("orders_json", sfDir)
    graft.Tables.orders(spark, sfDir)
      .filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    spark.read.schema(schema).json(path)
      .orderBy($"o_orderkey")
  }

  /** ORC sink+scan roundtrip — the other columnar format Spark ships.
    * DuckDB can't read ORC, but it doesn't need to: lossless roundtrip
    * means result == source table, which IS the oracle. */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("part_orc", sfDir)
    graft.Tables.part(spark, sfDir)
      .select($"p_partkey", $"p_brand", $"p_size", $"p_retailprice")
      .write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .filter($"p_size" >= 10)
      .orderBy($"p_partkey")
  }

  /** Avro sink+scan roundtrip — the row-wise binary interchange format of
    * ingest/streaming stacks (Kafka payloads, log shippers), built into
    * this Spark distribution. Avro's binary encoding roundtrips longs,
    * doubles and timestamp-micros logical types exactly. DuckDB can't
    * read Avro and doesn't need to: lossless roundtrip means result ==
    * source slice, which IS the oracle. The timestamp column is emitted
    * as epoch millis on both sides (the repo-wide convention for
    * portable timestamp comparison). */
  def avroRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // this distribution bundles the avro FileFormat inside spark-sql but
    // does NOT service-register its short name — address the class
    // directly (lookupDataSource resolves a FQCN without the registry)
    val avro = "org.apache.spark.sql.avro.AvroFileFormat"
    val path = tmpDir("orders_avro", sfDir)
    graft.Tables.orders(spark, sfDir)
      .filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
      .write.mode("overwrite").format(avro).save(path)
    spark.read.format(avro).load(path)
      // avro reads the local-timestamp logical type back as TIMESTAMP_NTZ;
      // the session is pinned UTC repo-wide, so the cast is lossless
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        unix_millis($"o_orderdate".cast("timestamp")).as("odate_ms"))
      .orderBy($"o_orderkey")
  }

  /** XML sink+scan roundtrip — the remaining text interchange format
    * Spark 4 ships natively (feeds/exports from legacy enterprise
    * systems). Write supplier rows as <supplier> elements, read back
    * with an explicit schema. Doubles survive the text roundtrip exactly
    * (Java's Double.toString/parseDouble round-trip guarantee); as with
    * csv, an explicit read schema keeps inference off the hot path. */
  def xmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("supplier_xml", sfDir)
    graft.Tables.supplier(spark, sfDir)
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
      .write.mode("overwrite").format("xml")
      .option("rowTag", "supplier").save(path)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType)))
    spark.read.schema(schema).format("xml")
      .option("rowTag", "supplier").load(path)
      .orderBy($"s_suppkey")
  }

  /** Upsert / MERGE-INTO semantics on a parquet target (no table format
    * needed): source rows update matching keys and insert new ones, via
    * full-outer join + coalesce, then atomic overwrite + readback. This is
    * the batch SCD pattern; at 100 TB the join shuffles on the key once —
    * same cost class as any MERGE — and the rewrite is partition-scoped
    * when the target is partitioned. Source derives deterministically from
    * the fixture (key%7 -> update, key%13 -> shifted-key insert) so the
    * oracle can replay the merge in SQL. */
  def upsertMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val target = graft.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
    val source = target.filter($"c_custkey" % 7 === 0)
      .withColumn("c_acctbal", $"c_acctbal" + lit(100.0))
      .unionByName(target.filter($"c_custkey" % 13 === 0)
        .withColumn("c_custkey", $"c_custkey" + 1000000L))
    val merged = target.alias("t")
      .join(source.alias("s"), Seq("c_custkey"), "full")
      .select($"c_custkey",
        coalesce($"s.c_name", $"t.c_name").as("c_name"),
        coalesce($"s.c_acctbal", $"t.c_acctbal").as("c_acctbal"),
        coalesce($"s.c_mktsegment", $"t.c_mktsegment").as("c_mktsegment"))
    val path = tmpDir("customer_merged", sfDir)
    merged.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).orderBy($"c_custkey")
  }

  /** SCD Type-2 apply (the history-keeping sibling of [[upsertMerge]]):
    * applying a change batch to a dimension produces versioned history —
    * a changed key's current row closes (valid_to = batch id) and the
    * new values open a fresh row (valid_from = batch id, valid_to NULL);
    * untouched keys carry through. One shuffle on the key; at 100 TB the
    * rewrite scopes to changed partitions exactly like any MERGE. The
    * change batch derives deterministically from the fixture
    * (key % 7 = 0 -> +100 balance) so the oracle replays the apply. */
  def scd2Apply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = graft.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
      .withColumn("valid_from", lit(0))
      .withColumn("valid_to", lit(null).cast("int"))
    val changes = dim.filter($"c_custkey" % 7 === 0)
      .withColumn("c_acctbal", $"c_acctbal" + lit(100.0))
    val changedKeys = changes.select($"c_custkey")
    val closed = dim.join(changedKeys, Seq("c_custkey"), "left_semi")
      .withColumn("valid_to", lit(1))
    val untouched = dim.join(changedKeys, Seq("c_custkey"), "left_anti")
    val opened = changes.withColumn("valid_from", lit(1))
    val path = tmpDir("customer_scd2", sfDir)
    closed.unionByName(untouched).unionByName(opened)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
      .orderBy($"c_custkey", $"valid_from")
  }

  /** Schema evolution on read: two parquet batches written with different
    * schemas (the second adds a column), unified by mergeSchema — rows
    * from the old batch surface the new column as NULL. This is how a
    * long-lived 100 TB table absorbs schema drift without rewriting
    * history. Batches split deterministically on key parity so the
    * oracle can reconstruct which rows carry the column. */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("orders_evolved", sfDir)
    // 1-in-5 slice: the capability shown is schema drift on read, not
    // bulk-write throughput; the oracle replays the same predicate
    val orders = graft.Tables.orders(spark, sfDir)
      .filter($"o_orderkey" % 5 === 0)
    orders.filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").parquet(s"$path/batch=1")
    orders.filter($"o_orderkey" % 2 === 1)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .write.mode("overwrite").parquet(s"$path/batch=2")
    spark.read.option("mergeSchema", true).parquet(path)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_orderkey")
  }

  /** q_scan_corrupt_records — PERMISSIVE ingestion of a dirty JSONL
    * feed: well-formed rows parse (missing fields become NULL),
    * type-mismatched rows keep their salvageable fields and land the
    * RAW line in the corrupt-record column, syntactically-broken rows
    * go all-NULL + raw — nothing is ever silently dropped, which is
    * the ingestion contract a production pipeline needs before a
    * quarantine split (the FAILFAST/DROPMALFORMED alternatives either
    * kill the job or destroy evidence). The planted feed is
    * code-literal (run-local scratch, same discipline as dppJoin's
    * dim), so the expected output is a constant the DuckDB oracle
    * states as VALUES — the oracle pins Spark's exact per-row
    * PERMISSIVE semantics. Sort keys are null-coalesced so both
    * engines' NULL ordering is irrelevant. */
  def corruptRecords(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val path = s"$runLocalDir/dirty_feed.jsonl"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"rec_id":1,"name":"alpha","score":1.5}
        |{"rec_id":2,"name":"beta","score":2.0}
        |{"rec_id":3,"name":"gamma"}
        |{"rec_id":"four","name":"delta","score":3.0}
        |not json at all
        |{"rec_id":6,"name":"zeta","score":
        |""".stripMargin)
    val sch = StructType(Seq(
      StructField("rec_id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("_corrupt", StringType)))
    spark.read.schema(sch)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .select($"rec_id", $"name", $"score",
        $"_corrupt".isNotNull.cast("int").as("quarantined"),
        coalesce($"_corrupt", lit("")).as("corrupt_raw"))
      .orderBy($"quarantined", coalesce($"rec_id", lit(-1L)),
        coalesce($"name", lit("")), $"corrupt_raw")
  }

  /** The 16-bit Morton interleave of two 8-bit normalized keys, as an
    * UNROLLED integer expression (32 shift/mask terms — whole-stage
    * codegen in Spark, the identical operator text in DuckDB). */
  private def mortonSpark(p: String, s: String): String =
    (0 until 8).map(i =>
      s"shiftleft(shiftright($p, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright($s, $i) & 1, ${2 * i + 1})")
      .mkString(" + ")

  private def mortonDuck(p: String, s: String): String =
    (0 until 8).map(i =>
      s"((($p >> $i) & 1) << ${2 * i}) + ((($s >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** q_sink_zorder_stats — Z-ORDER clustered write + the min/max
    * data-skipping readout (the Morton-curve layout Delta/Iceberg
    * expose as OPTIMIZE ZORDER BY; Morton 1966): both cluster keys
    * normalize to 8 bits, interleave to a 16-bit Z-value, and the top
    * 6 bits name one of 64 Z-cells — each cell a 1/8 × 1/8 rectangle
    * of the (partkey, suppkey) key space, so a range predicate on
    * EITHER key intersects ~8 of 64 cells, where a single-column sort
    * prunes one key and nothing on the other. The write is REAL
    * (partitionBy(zbucket) — one directory per cell), and the readout
    * is computed FROM THE WRITTEN FILES: per-cell row count and raw
    * min/max of both keys — exactly the footer stats a data-skipping
    * reader consults. The oracle derives the same 64 rows from the
    * SOURCE table, so green proves the clustered write lossless and
    * the cell math right; ZOrderSkipSpec turns the readout into the
    * skipping claim itself (≤16 of 64 cells survive a 1/8-range probe
    * on each axis) AND drives it: the parquet reader's scan metrics
    * show <2/5 of rows returned under a pushed range probe on EITHER
    * key, where a partkey-sorted comparison layout returns ~all rows
    * for the suppkey probe (r16).
    *
    * Scale: one exchange on the bucket key (the clustering shuffle
    * every OPTIMIZE pays), then per-cell hash aggs; the readout frame
    * is 64 rows. At 100 TB the same layout writes one FILE SET per
    * cell and the reader prunes on footer min/max without this query
    * ever scanning data. */
  def zorderStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = tmpDir("lineitem_zorder", sfDir)
    val li = graft.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    val ext = li.agg(max($"l_partkey").as("pmax"),
      max($"l_suppkey").as("smax"))
    li.crossJoin(broadcast(ext)) // 1-row extents frame
      .withColumn("p8", expr("(l_partkey * 256) div (pmax + 1)"))
      .withColumn("s8", expr("(l_suppkey * 256) div (smax + 1)"))
      .withColumn("zbucket",
        expr(s"shiftright(${mortonSpark("p8", "s8")}, 10)"))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        $"zbucket")
      // the clustering exchange the scaladoc promises: without it every
      // scan task writes its own file per touched cell (tasks×64 small
      // files); clustered, the layout is one file set per cell and the
      // stats read-back opens 64 files instead of hundreds
      .repartition($"zbucket")
      .write.mode("overwrite").partitionBy("zbucket").parquet(path)
    spark.read.parquet(path)
      .groupBy($"zbucket".cast("long").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min($"l_partkey").as("min_p"), max($"l_partkey").as("max_p"),
        min($"l_suppkey").as("min_s"), max($"l_suppkey").as("max_s"))
      .orderBy($"zbucket")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sink_zorder_stats" -> (zorderStats _),
    "q_scan_corrupt_records" -> (corruptRecords _),
    "q_scan_schema_evolution" -> (schemaEvolution _),
    "q_sink_upsert_merge" -> (upsertMerge _),
    "q_sink_scd2" -> (scd2Apply _),
    "q_scan_parquet" -> (scanParquet _),
    "q_scan_csv_roundtrip" -> (csvRoundtrip _),
    "q_scan_json_roundtrip" -> (jsonRoundtrip _),
    "q_scan_orc_roundtrip" -> (orcRoundtrip _),
    "q_scan_avro_roundtrip" -> (avroRoundtrip _),
    "q_scan_xml_roundtrip" -> (xmlRoundtrip _),
    "q_sink_partitioned_write" -> (partitionedWrite _),
    "q_sink_tx_roundtrip" -> (txRoundtrip _),
    "q_sink_compaction" -> (compaction _),
    "q_join_dpp_pruned" -> (dppJoin _))

  /** Dynamic partition pruning: the fact table is PARTITIONED on the
    * join key (event_type); the dim side's selective filter is only
    * known at runtime, so Catalyst injects a dynamicpruning subquery
    * into the fact scan's PartitionFilters — the fact reads 2 of 5
    * partition directories without any static filter on it. This is the
    * flagship star-schema scale feature (a 100 TB fact joined to a
    * filtered date/category dim reads only matching partitions); the
    * dynamicpruning PartitionFilter is pinned in PlanSpec and the result
    * is fully oracled (pruning never changes the answer). Both sides
    * are one-time parquet artifacts so the pruning acts on real
    * directories, not an in-memory relation. The fact is REUSED across
    * runs (content-keyed, unlike the roundtrip dirs, which are
    * rewritten on every run). */
  def dppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val factPath = graft.Artifacts.ensure("graft_roundtrip/events_by_type_",
        sfDir, "events.parquet", "v1") { tmp =>
      graft.Tables.events(spark, sfDir)
        .select($"event_id", $"user_id", $"value", $"event_type")
        .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    }
    // the dim's CONTENT is this 5-row literal, not anything derived from
    // the source data — a content key can't protect it, and rewriting a
    // SHARED dir every call would let one run's overwrite race another
    // run's read. 5 literal rows cost nothing to rewrite, so they go to
    // a RUN-LOCAL dir (unique per JVM, no cross-run visibility at all)
    val dimPath = s"$runLocalDir/event_type_dim"
    Seq(("purchase", "conversion"), ("signup", "conversion"),
      ("view", "browse"), ("click", "browse"), ("error", "ops"))
      .toDF("event_type", "category")
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val fact = spark.read.parquet(factPath)
    val dim = spark.read.parquet(dimPath).filter($"category" === "conversion")
    fact.join(dim, Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), AggOps.dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  def oracle: Map[String, String] = Map(
    // derived from the SOURCE table — equality against the Spark
    // readout (computed from the written files) proves the clustered
    // write lossless and the Z-cell math identical
    "q_sink_zorder_stats" ->
      s"""WITH ext AS (
        |  SELECT MAX(l_partkey) AS pmax, MAX(l_suppkey) AS smax
        |  FROM lineitem),
        |z AS (
        |  SELECT l_partkey, l_suppkey,
        |    (l_partkey * 256) // (pmax + 1) AS p8,
        |    (l_suppkey * 256) // (smax + 1) AS s8
        |  FROM lineitem, ext),
        |zb AS (
        |  SELECT l_partkey, l_suppkey,
        |    (${mortonDuck("p8", "s8")}) >> 10 AS zbucket
        |  FROM z)
        |SELECT CAST(zbucket AS BIGINT) AS zbucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(l_partkey) AS min_p, MAX(l_partkey) AS max_p,
        |  MIN(l_suppkey) AS min_s, MAX(l_suppkey) AS max_s
        |FROM zb GROUP BY 1 ORDER BY 1""".stripMargin,
    // the dim is the literal 5-row type->category map; pruning never
    // changes the answer, so the oracle is the equivalent IN-filter
    "q_join_dpp_pruned" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_scan_corrupt_records" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(1.5 AS DOUBLE), 0, ''),
        |  (CAST(2 AS BIGINT), 'beta', CAST(2.0 AS DOUBLE), 0, ''),
        |  (CAST(3 AS BIGINT), 'gamma', CAST(NULL AS DOUBLE), 0, ''),
        |  (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS DOUBLE), 1, 'not json at all'),
        |  (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS DOUBLE), 1,
        |   '{"rec_id":6,"name":"zeta","score":'),
        |  (CAST(NULL AS BIGINT), 'delta', CAST(3.0 AS DOUBLE), 1,
        |   '{"rec_id":"four","name":"delta","score":3.0}')
        |) t(rec_id, name, score, quarantined, corrupt_raw)
        |ORDER BY quarantined, COALESCE(rec_id, -1), COALESCE(name, ''),
        |  corrupt_raw""".stripMargin,
    "q_scan_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_sink_tx_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_scan_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
        |    AS o_orderpriority
        |FROM orders WHERE o_orderkey % 5 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "q_sink_upsert_merge" ->
      """WITH source AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal,
        |         c_mktsegment
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 13 = 0)
        |SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
        |  COALESCE(s.c_name, t.c_name) AS c_name,
        |  COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
        |  COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment
        |FROM customer t FULL OUTER JOIN source s
        |  ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_sink_scd2" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
        |changed AS (SELECT c_custkey FROM dim WHERE c_custkey % 7 = 0)
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    0 AS valid_from, 1 AS valid_to
        |  FROM dim WHERE c_custkey IN (SELECT c_custkey FROM changed)
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    0 AS valid_from, NULL AS valid_to
        |  FROM dim WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 100.0, c_mktsegment,
        |    1 AS valid_from, NULL AS valid_to
        |  FROM dim WHERE c_custkey % 7 = 0)
        |ORDER BY c_custkey, valid_from""".stripMargin,
    "q_scan_json_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "q_scan_orc_roundtrip" ->
      """SELECT p_partkey, p_brand, p_size, p_retailprice
        |FROM part WHERE p_size >= 10 ORDER BY p_partkey""".stripMargin,
    "q_scan_avro_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  epoch_ms(o_orderdate) AS odate_ms
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "q_scan_xml_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_sink_partitioned_write" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
