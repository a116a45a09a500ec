package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-level exact prefix: a running sum or rank over a GLOBAL
  * order (per `by` group) without a keyless window over the data.
  *
  * The naive plan, `SUM(w) OVER (ORDER BY o)` or `ROW_NUMBER() OVER
  * (ORDER BY o)`, is a single-partition window: every row funnels
  * through one task, the one shape that cannot survive 100 TB. Here the
  * caller cuts the order into buckets (doc_id ranges, hash ranges,
  * value ranges, approx-percentile cuts) and the prefix splits in two:
  *  1. each row gets its running value INSIDE its `(by…, bucket)`
  *     partition — one shuffle, all buckets in parallel;
  *  2. the per-`(by…, bucket)` totals frame — bounded by the bucket
  *     count, not the corpus — gets exclusive prefix offsets, and the
  *     offsets broadcast back: global(x) = off(bucket) + local(x).
  *
  * Exactness: global(x) equals the single keyless window exactly when
  * buckets are contiguous in the order (within a `by` group every row
  * of a smaller bucket precedes every row of a larger one — negative
  * and sparse bucket ids are fine) and `order` is unique within a
  * bucket (so the ROWS frame and row_number are deterministic). The
  * bucket boundaries affect only balance, never the values; the
  * DuckDB twins of the callers keep the one keyless window and prove
  * it. `by` and `bucket` must be non-null: the offsets join back on
  * them. */
object Prefix {

  /** One row per `(by…, bucket)`: `bw` = Σ weight (the row count when
    * `weight` is None) and `off` = Σ bw over the earlier buckets of the
    * same `by` group, 0 for the first. The window runs over the
    * bounded bucket frame only. */
  def offsets(df: DataFrame, by: Seq[String], bucket: String,
              weight: Option[Column]): DataFrame =
    df.groupBy((by :+ bucket).map(col): _*)
      .agg(weight.fold(count(lit(1)))(w => sum(w)).as("bw"))
      .withColumn("off", coalesce(sum(col("bw")).over(
        Window.partitionBy(by.map(col): _*).orderBy(col(bucket))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))

  /** `df` plus `out` = the global running Σ weight (or, with no
    * weight, the 1-based global row number) over `order` within each
    * `by` group: `off` plus the within-bucket ROWS-frame value, the
    * offsets broadcast-joined back on `(by…, bucket)`. */
  def running(df: DataFrame, by: Seq[String], bucket: String,
              order: Seq[Column], weight: Option[Column],
              out: String): DataFrame = {
    val keys = by :+ bucket
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val local = weight.fold(row_number().over(w).cast("long"))(x =>
      sum(x).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offs = offsets(df, by, bucket, weight)
      .select((keys :+ "off").map(col): _*)
    df.withColumn(out, local)
      .join(broadcast(offs), keys)
      .withColumn(out, col("off") + col(out))
      .select((df.columns.toSeq :+ out).map(col): _*)
  }
}
