package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second decade of scale evidence (round-17 verdict item #4): the
  * 100 TB extrapolation previously rested on ONE measured 10× step
  * (sf0.1 → synthesized sf1). This tool synthesizes sf10 from the sf1
  * synth (another 10×, so the worst shapes get a second measured
  * decade) and spot-runs the five most expensive shapes, writing
  * SCALESPOT.json with per-decade exponents.
  *
  * sf10 synthesis = 10 re-keyed replicas of sf1, SECOND-level
  * mutations chosen so the decade is shard-independent like the first:
  *  - keys shift by replica·1e11 (the sf1 level used 1e9; a second
  *    1e9 shift would COLLIDE replica 1 of shard 2 with replica 0 of
  *    shard 3)
  *  - documents: tokens suffixed `~s<i>` (distinct from sf1's `~r<i>`)
  *    — within-shard token/shingle stats preserved, cross-replica
  *    similarity zero, vocabulary ×10 again (the documented
  *    pessimistic-linear vocab trade)
  *  - embeddings: replica i multiplies by a SEEDED Rademacher sign
  *    vector (i=0 identity). A second circular shift would collide:
  *    sf1 shifts are 0..9, so second-level shifts j would make
  *    (i+j) repeat total-shift values of the SAME base vector and
  *    manufacture cosine-1 duplicate clusters. A diagonal ±1 map is
  *    orthogonal — within-replica cosines are EXACTLY preserved —
  *    and cross-replica cosine of the same base vector is a
  *    sign-weighted sum of squares with E=0, Var ~ 1/d_eff, i.e.
  *    random-pair statistics.
  *
  * Only the tables the five spot shapes read are synthesized
  * (lineitem, documents, embeddings) — ~1.6 GB, not a full testdata
  * tree. Timing = min over two sweep-separated count() passes
  * (ScaleSweep's discipline); exponents are per decade
  * (log10(t_next / t_prev)).
  */
object ScaleSpot {

  /** the r16 verdict's worst-five list (embedding_cosine_lsh post-fix) */
  val Shapes: Seq[String] = Seq(
    "q_ml_bradley_terry",
    "q_dedup_audio_fingerprint_files",
    "q_dedup_embedding_cosine_lsh",
    "q_graph_kcore",
    "q_text_textrank")

  private val Off10 = 100000000000L // second-level key offset (1e11)

  private def shift(df: DataFrame, cols: Seq[String], i: Int): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Off10)))

  def synthesize(spark: SparkSession, sf1: String, out: String,
                 reps: Int = 10): Unit = {
    val marker = java.nio.file.Paths.get(s"$out/_SYNTH_OK")
    if (java.nio.file.Files.exists(marker)) return
    def replicate(name: String, keyCols: Seq[String],
                  mutate: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$sf1/$name.parquet")
      (0 until reps)
        .map(i => mutate(shift(src, keyCols, i), i))
        .reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"),
      (df, _) => df)
    replicate("documents", Seq("doc_id"),
      (df, i) =>
        if (i == 0) df
        else df
          .withColumn("text", expr(
            s"array_join(transform(split(text, ' '), t -> " +
              s"concat(t, '~s$i')), ' ')"))
          .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", Seq("vec_id"),
      (df, i) =>
        if (i == 0) df
        else {
          val rnd = new scala.util.Random(424200L + i)
          val signs = Array.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f)
          df.withColumn("embedding",
            zip_with(col("embedding"), typedLit(signs),
              (x, s) => x * s).cast("array<float>"))
        })
    java.nio.file.Files.writeString(marker, s"base=$sf1 reps=$reps\n")
  }

  private def time(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sf01 = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val sf1 = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val sf10 = if (args.length > 2) args(2) else "/root/repo/target/sf10"
    // iteration filter: with `only` set, times just those shapes and
    // SKIPS the JSON write (SCALESPOT.json records full runs only)
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm-up
    ScaleSweep.synthesize(spark, sf01, sf1)
    synthesize(spark, sf1, sf10)
    val shapes = Shapes.filter(q => only.isEmpty || only(q))
    def sweepAt(dir: String): Map[String, Double] = {
      val p1 = shapes.map(q => q -> time(spark, q, dir)).toMap
      val p2 = shapes.map(q => q -> time(spark, q, dir)).toMap
      shapes.map(q => q -> math.min(p1(q), p2(q))).toMap
    }
    val t01 = sweepAt(sf01)
    val t1 = sweepAt(sf1)
    val t10 = sweepAt(sf10)
    def f(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    val rows = shapes.map { q =>
      val e1 = math.log10(t1(q) / t01(q))
      val e2 = math.log10(t10(q) / t1(q))
      System.out.println(
        f"SCALESPOT $q%-34s sf0.1=${f(t01(q))}s sf1=${f(t1(q))}s " +
          f"sf10=${f(t10(q))}s exp(d1)=${f(e1)} exp(d2)=${f(e2)}")
      s"""{"query":"$q","t_sf01":${f(t01(q))},"t_sf1":${f(t1(q))},""" +
        s""""t_sf10":${f(t10(q))},"exp_decade1":${f(e1)},""" +
        s""""exp_decade2":${f(e2)}}"""
    }
    val out = s"""{"base":"$sf01","sf1":"$sf1","sf10":"$sf10",""" +
      s""""method":"min of 2 sweep-separated count() passes per scale",""" +
      s""""shapes":[${rows.mkString(",")}]}"""
    println(s"SCALESPOT_JSON: $out")
    if (only.isEmpty)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/root/repo/SCALESPOT.json"), out + "\n")
    spark.stop()
  }
}
