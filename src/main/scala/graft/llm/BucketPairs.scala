package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Map-side C(m,2) candidate-pair emission, the near-dup candidate step
  * every modality shares: group rows by a bucket key, collect each
  * bucket's members, and emit every a < b member pair from the
  * collected list. The output holds ONE row per bucket-pair instance —
  * callers count shared buckets, take a min score or `distinct`, so a
  * pair colliding in k buckets appears k times.
  *
  * Two modes share one enumeration loop: [[ids]] emits (a, b) from
  * bigint member ids; [[scored]] emits (a, b, score) from
  * [id, feature…] members, so the score is computed in place and never
  * needs a join back to the feature table. The loop is a UDF because
  * the higher-order-function spelling is a CodegenFallback that
  * re-inlines the array per element.
  *
  * The collect buffers a bucket's whole member list in ONE
  * non-spillable aggregation buffer, and the emitter materializes the
  * bucket's whole pair array on ONE task's heap, so every bucket is
  * bounded by [[MaxMembers]], checked on its actual size at run time.
  * A caller whose bucket membership has no semantic cap must either
  * bound it with [[underCap]] or keep a codegen'd self-join, which
  * streams the same m² rows across all tasks (on simhash's uncapped band
  * buckets the collect-and-emit shape measured 1.5 → 18-21 s at sf0.1;
  * DedupOps.simhash records the rule). */
object BucketPairs {

  /** Largest bucket any emitter may collect. 128 members ⇒ at most
    * 8 128 pairs ≈ 130 KB per emitted array: far under task memory,
    * and small enough that the interpreted emitter stays cheaper than a
    * self-join's shuffle. */
  val MaxMembers = 128

  /** Fails the task when a collected bucket is larger than
    * [[MaxMembers]], instead of a silent single-task O(m²) allocation. */
  def requireBounded(members: Int): Unit =
    if (members > MaxMembers) throw new IllegalStateException(
      s"bucket of $members members exceeds BucketPairs.MaxMembers = " +
        s"$MaxMembers: cap the bucket upstream or use a self-join")

  final case class Pair(a: Long, b: Long)
  final case class Scored(a: Long, b: Long, score: Long)

  private def enumerate[M, P: scala.reflect.ClassTag](ms: IndexedSeq[M])(
      pair: (M, M) => P): Array[P] = {
    val n = ms.length
    requireBounded(n)
    val out = new Array[P](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) { out(k) = pair(ms(i), ms(j)); k += 1; j += 1 }
      i += 1
    }
    out
  }

  /** Id mode: array<bigint> member ids → array<struct<a, b>>, a < b in
    * id order (equal ids pair up as (x, x)). */
  val ids: UserDefinedFunction =
    udf((ms: Seq[Long]) => enumerate(ms.sorted.toIndexedSeq)(Pair(_, _)))

  /** Scored mode: array<array<bigint>> members, each [id, feature…] →
    * array<struct<a, b, score>> with score(member a, member b). */
  def scored(score: (Seq[Long], Seq[Long]) => Long): UserDefinedFunction =
    udf((ms: Seq[Seq[Long]]) =>
      enumerate(ms.sortBy(_.head).toIndexedSeq)((x, y) =>
        Scored(x.head, y.head, score(x, y))))

  /** Pairs of every bucket of `rows` keyed by `key`, one row per
    * bucket-pair instance: columns (a, b), or (a, b, score) when `mode`
    * is [[scored]]. */
  def of(rows: DataFrame, key: Seq[String], member: Column,
         mode: UserDefinedFunction = ids): DataFrame =
    rows.groupBy(key.map(col): _*).agg(collect_list(member).as("ms"))
      .select(explode(mode(col("ms"))).as("p")).select("p.*")

  /** [[of]] over the buckets with at most `cap` rows; larger buckets
    * drop. The census is a map-side-combined count, so a flooded
    * bucket contributes one partial row per mapper, never its whole
    * membership on one task (a window count would sort the flood on one
    * task). The surviving keys join back shuffle-hash with the
    * one-row-per-key census as the build side: nothing is broadcast,
    * flooded members stream through the probe and drop, and the join
    * output is already keyed for the collect, which adds no exchange. */
  def underCap(rows: DataFrame, key: Seq[String], member: Column, cap: Long,
               mode: UserDefinedFunction = ids): DataFrame = {
    val kept = rows.groupBy(key.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") <= cap).select(key.map(col): _*)
    of(rows.join(kept.hint("shuffle_hash"), key), key, member, mode)
  }
}
