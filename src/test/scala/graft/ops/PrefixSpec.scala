package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Prefix]] against the one keyless (or per-`by`) window it replaces,
  * on small seeded frames: unique order key `x`, weights with zeros,
  * and buckets contiguous in `x`. */
class PrefixSpec extends SparkTestBase {

  /** rows (g, x, w, bkt): per group, `n` distinct x from [lo, lo + span)
    * in shuffled order, bucket = floorDiv(x, width). */
  private def frame(groups: Seq[String], n: Int, lo: Long, span: Int,
                    width: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    groups.flatMap { g =>
      rnd.shuffle((0 until span).toList).take(n).map { k =>
        val x = lo + k
        (g, x, rnd.nextInt(10).toLong, Math.floorDiv(x, width))
      }
    }.toDF("g", "x", "w", "bkt")
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** `running` in sum and in rank mode equals the window over the whole
    * `by` group, and keeps the input columns in order. */
  private def assertRunningExact(df: DataFrame, by: Seq[String]): Unit = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("x"))
    val modes: Seq[(Option[Column], Column)] = Seq(
      Some(col("w")) -> sum(col("w")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
      None -> row_number().over(w).cast("long"))
    for ((weight, keyless) <- modes) {
      val got = Prefix.running(df, by, "bkt", Seq(col("x")), weight, "out")
      assert(got.columns.toSeq == df.columns.toSeq :+ "out")
      assert(sorted(got) == sorted(df.withColumn("out", keyless)),
        s"weight=$weight by=$by")
    }
  }

  test("running: two by groups, negative bucket ids") {
    val df = frame(Seq("a", "b"), n = 150, lo = -300L, span = 600,
      width = 37L, seed = 1L)
    assert(df.filter(col("bkt") < 0).count() > 0)
    assertRunningExact(df, Seq("g"))
  }

  test("running: no by columns, a one-row bucket") {
    import spark.implicits._
    val lone = Seq(("a", 10000L, 7L, 10000L / 37L)).toDF("g", "x", "w", "bkt")
    val df = frame(Seq("a"), n = 80, lo = 0L, span = 200, width = 37L,
      seed = 2L).union(lone)
    assert(df.groupBy("bkt").count().filter(col("count") === 1L).count() > 0)
    assertRunningExact(df, Nil)
  }

  test("running: more than 64 buckets") {
    val df = frame(Seq("a", "b"), n = 400, lo = -100L, span = 500,
      width = 3L, seed = 3L)
    assert(df.select("bkt").distinct().count() > 64)
    assertRunningExact(df, Seq("g"))
  }

  test("offsets: off is 0 for each group's first bucket, then the exclusive prefix") {
    val df = frame(Seq("a", "b"), n = 120, lo = -200L, span = 400,
      width = 29L, seed = 4L)
    for (weight <- Seq(Some(col("w")), None)) {
      val got = Prefix.offsets(df, Seq("g"), "bkt", weight).collect()
        .map(r => (r.getAs[String]("g"), r.getAs[Long]("bkt")) ->
          (r.getAs[Long]("bw"), r.getAs[Long]("off"))).toMap
      val rows = df.collect().map(r => (r.getString(0), r.getLong(3),
        if (weight.isDefined) r.getLong(2) else 1L))
      for (g <- Seq("a", "b")) {
        val bws = rows.filter(_._1 == g).groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (b, rs) => b -> rs.map(_._3).sum }
        assert(got((g, bws.head._1))._2 == 0L)
        val offs = bws.map(_._2).scanLeft(0L)(_ + _)
        bws.zip(offs).foreach { case ((b, bw), off) =>
          assert(got((g, b)) == (bw, off), s"g=$g bkt=$b")
        }
      }
      assert(got.size == df.select("g", "bkt").distinct().count())
    }
  }
}
