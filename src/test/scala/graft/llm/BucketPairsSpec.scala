package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Flood spec for [[BucketPairs]]: both pair modes against a naive
  * uncapped C(m,2) reference over random buckets, the census cap, and
  * the run-time member bound. Raw ScalaCheck generators with fixed
  * seeds (see TextPropertySpec). */
class BucketPairsSpec extends SparkTestBase {
  import BucketPairs.MaxMembers

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // bucket sizes over the whole allowed range, MaxMembers itself included
  private val sizeGen: Gen[Int] =
    Gen.frequency(1 -> Gen.const(MaxMembers), 6 -> Gen.choose(0, MaxMembers))

  // ids drawn from a small range so a bucket can repeat an id
  private val bucketsGen: Gen[List[List[Long]]] = Gen.choose(1, 6).flatMap(
    Gen.listOfN(_, sizeGen.flatMap(Gen.listOfN(_, Gen.choose(0L, 300L)))))

  /** Every i < j pair of the bucket in id order — no cap, no Spark. */
  private def naive[M](bucket: Seq[M])(id: M => Long): Seq[(M, M)] = {
    val s = bucket.sortBy(id)
    for (i <- s.indices; j <- s.indices if i < j) yield (s(i), s(j))
  }

  private def rows(buckets: Seq[Seq[Long]]): DataFrame = {
    import spark.implicits._
    buckets.zipWithIndex
      .flatMap { case (b, k) => b.map(m => (k.toLong, m)) }.toDF("k", "m")
  }

  private def idPairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("id mode emits exactly the naive pair multiset of every bucket") {
    samples(bucketsGen, 12).foreach { buckets =>
      val want = buckets.flatMap(naive(_)(identity)).sorted
      val got = idPairs(BucketPairs.of(rows(buckets), Seq("k"), col("m")))
      assert(got == want, s"bucket sizes ${buckets.map(_.size)}")
    }
  }

  test("scored mode emits exactly the naive (a, b, score) multiset") {
    import spark.implicits._
    // members [id, f1, f2]; ids unique per bucket so member order is total
    val memberGen = Gen.zip(Gen.choose(0L, 1L << 20), Gen.choose(0L, 1L << 20))
    val scoredGen = Gen.choose(1, 5).flatMap(Gen.listOfN(_,
      sizeGen.flatMap(m => Gen.listOfN(m, memberGen).map(fs =>
        fs.zipWithIndex.map { case ((f1, f2), i) => Seq(i * 7L, f1, f2) }))))
    val score = (x: Seq[Long], y: Seq[Long]) =>
      java.lang.Long.bitCount(x(1) ^ y(1)) + 3L * (x(2) - y(2)).abs
    samples(scoredGen, 12).foreach { buckets =>
      val want = buckets.flatMap(naive(_)(_.head))
        .map { case (x, y) => (x.head, y.head, score(x, y)) }.sorted
      val df = buckets.zipWithIndex
        .flatMap { case (b, k) => b.map(m => (k.toLong, m(0), m(1), m(2))) }
        .toDF("k", "id", "f1", "f2")
      val got = BucketPairs.of(df, Seq("k"), array($"id", $"f1", $"f2"),
          BucketPairs.scored(score))
        .select("a", "b", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got == want, s"bucket sizes ${buckets.map(_.size)}")
    }
  }

  test("census drops every bucket above its cap and keeps every one at or below") {
    // unique ids (bucket * 1000 + j) so each pair names its bucket
    val sizesGen = Gen.listOfN(10, Gen.choose(0, 24))
    samples(Gen.zip(sizesGen, Gen.choose(1L, 16L)), 12).foreach {
      case (sizes, cap) =>
        val buckets = sizes.zipWithIndex.map { case (m, k) =>
          (0 until m).map(j => k * 1000L + j).toList }
        val kept = buckets.filter(_.size <= cap)
        val got = idPairs(BucketPairs.underCap(
          rows(buckets), Seq("k"), col("m"), cap))
        assert(got == kept.flatMap(naive(_)(identity)).sorted,
          s"cap $cap, sizes $sizes")
        assert(got.map(_._1 / 1000).toSet ==
          kept.filter(_.size >= 2).map(_.head / 1000).toSet)
    }
  }

  test("a bucket of MaxMembers + 1 fails the job with the bound message") {
    val big = List((0L until (MaxMembers + 1).toLong).toList)
    val bound = s"bucket of ${MaxMembers + 1} members exceeds " +
      s"BucketPairs.MaxMembers = $MaxMembers"
    val e1 = intercept[Exception](
      BucketPairs.of(rows(big), Seq("k"), col("m")).count())
    assert(messages(e1).contains(bound), messages(e1))
    // a census cap looser than the bound does not lift it
    val e2 = intercept[Exception](BucketPairs.underCap(
      rows(big), Seq("k"), col("m"), Long.MaxValue).count())
    assert(messages(e2).contains(bound), messages(e2))
    // scored mode shares the check
    val e3 = intercept[Exception](BucketPairs.of(rows(big), Seq("k"),
      array(col("m")), BucketPairs.scored((_, _) => 0L)).count())
    assert(messages(e3).contains(bound), messages(e3))
  }
}
