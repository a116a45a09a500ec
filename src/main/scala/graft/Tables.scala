package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated fixture tables
  * (`/root/testdata/<sf>/<name>.parquet`, schemas in FIXTURES.md §B).
  *
  * 100 TB rule (SURVEY.md §4.4): Parquet on the hot path — self-describing
  * schema, column pruning + predicate pushdown reach the scan for free.
  * Each table's schema is inferred once per file commit and session
  * ([[graft.flow.Committed.parquet]]): a rewritten fixture or another
  * nanosAsLong setting gets its own inference, and the data is still
  * read from parquet by every query.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.flow.Committed.parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark 4 refuses to read
    * as a timestamp — PARQUET_TYPE_ILLEGAL — so we read raw nanos via the
    * legacy conf and truncate to µs), and plain TIMESTAMP(MICROS) without
    * timezone (which Spark 4 reads as TIMESTAMP_NTZ). Normalize both to
    * TimestampType here so every downstream consumer sees one contract.
    * The session is pinned UTC repo-wide, so the NTZ→instant cast is a
    * numeric no-op. For the nanos form, `div` (integer division) is
    * mandatory: `/` on longs goes through double, which cannot represent
    * ~1.7e18 ns exactly. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** ts-column normalizer shared by the batch loader and the streaming
    * file source (StreamOps.eventsStream): long nanos → µs-truncated
    * timestamp; TIMESTAMP_NTZ → instant (UTC session, a numeric no-op);
    * TimestampType passes through. Any OTHER physical form fails
    * loudly: a silent cast would mangle batch and stream IDENTICALLY,
    * keeping the fixture-equality oracles green on wrong instants —
    * the silent-drift mode the round-8 hard crash at least surfaced. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts arrived as unhandled physical type $other — " +
          "extend Tables.normalizeEventTs deliberately instead of casting blind")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  /** also registers graft's native SQL functions (dot_f32) — every
    * embedding consumer resolves dot products through the registry */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    table(s, d, "embeddings")
  }
}
