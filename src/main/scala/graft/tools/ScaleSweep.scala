package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling sweep (round-14 verdict item #1): run the
  * slowest-N declared shapes at sf0.1 AND a synthesized sf1 and record
  * the OBSERVED growth exponent next to the claimed one, converting
  * the repo's O()-argument scale claims into measurements.
  *
  * sf1 synthesis: 10 re-keyed replicas of sf0.1 (the driver generates
  * only up to sf0.1). Keys shift by replica·1e9 so every foreign-key
  * join stays consistent and the overflow-safe mod-first hashes stay
  * in range. Content is made SHARD-INDEPENDENT, not duplicated:
  *  - documents: replica i>0 suffixes every token with `~r<i>` — the
  *    within-shard token/shingle statistics (and thus the similarity
  *    density the dedup family's candidate counts depend on) are
  *    preserved exactly, while cross-replica similarity is zero. A
  *    naive text copy would create 10-cliques of exact near-dups and
  *    quadratically inflate every candidate-pair frame — measuring a
  *    corpus no real 10× crawl looks like. Trade-off, documented in
  *    SCALE.md: vocabulary grows ×10 (real corpora grow ~Heaps-
  *    sublinearly), so vocabulary-bounded shapes measure at their
  *    pessimistic linear bound here.
  *  - embeddings: replica i circularly shifts the vector by i
  *    dimensions — norms and coordinate distributions preserved,
  *    cross-replica cosine decorrelated (a scalar nudge would leave
  *    cosine ≈ 1 and manufacture duplicate clusters).
  *  - orders/lineitem/events keep their timestamps: the calendar is
  *    the SAME at both scales, which is exactly what the calendar-
  *    bounded claims (theil_sen) promise to be invariant to.
  *
  * Timing = min over two full sweeps of `df.count()` (Bench's
  * discipline: sweep-separated passes so one ambient stall cannot
  * inflate both; artifact-building first passes are dropped by the
  * min, matching how the persisted-index dedup queries run warm in
  * production). Exponent = log10(t_sf1 / t_sf0.1) since the scales
  * are exactly 10× apart.
  */
object ScaleSweep {

  /** (query, claimed exponent, one-line claim source). Claims quote
    * SCALE.md; 1.0 = linear in corpus, 0.0 = corpus-size-invariant
    * (calendar/domain-bounded core plus one linear scan whose constant
    * is small at these sizes). */
  val Shapes: Seq[(String, Double, String)] = Seq(
    ("q_agg_theil_sen", 0.0,
      "calendar-bounded pair frame; corpus enters via one partial-agg scan"),
    ("q_agg_weighted_median", 1.0,
      "one pass + 64-range two-level cumsum; offsets frame bounded"),
    ("q_dedup_triangles", 1.0,
      "linear in candidate pairs; shard-independent corpus => pairs x10"),
    ("q_dedup_ngram_jaccard_cutoff", 1.0,
      "sum df^2 over per-shard postings; df cutoff bounds fan-out"),
    ("q_dedup_prefix_filter", 1.0,
      "All-Pairs prefix bound: candidates from rarest shingles only"),
    ("q_dedup_containment", 1.0,
      "posting join bounded by df order; verify on candidates only"),
    ("q_graph_adamic_adar", 1.0,
      "wedge join on support-filtered edges; anti-join before scoring"),
    ("q_graph_kcore", 1.0,
      "constant peeling rounds, each linear in surviving edges"),
    ("q_text_textrank", 1.0,
      "vocabulary-bounded frame; synthetic vocab grows x10 (pessimistic)"),
    ("q_simsearch_topk_hnsw", 1.0,
      "top-layer exact scan E[n/64] + bucket-join beam descent"),
    // round-14 graph wave: constant-round iterative + wedge shapes
    ("q_graph_label_propagation", 1.0,
      "4 constant LPA rounds, each linear in support-filtered adjacency"),
    ("q_graph_modularity", 1.0,
      "LPA rounds + two bounded hash aggs over the edge list"),
    ("q_graph_local_clustering", 1.0,
      "closed-wedge join over support-filtered adjacency (adamic_adar)"),
    // round-15 wave: image-dedup + the MM-round shape
    ("q_dedup_image_phash", 1.0,
      "narrow render/decode/hash pass + capped band-bucket join"),
    ("q_dedup_image_threshold_curve", 1.0,
      "same capped pairs once, broadcast 9-row theta dim cross"),
    ("q_ml_bradley_terry", 1.0,
      "one corpus scan to the win matrix; 6 constant MM rounds on " +
        "supplier-bounded frames (r16: budget cut by the shipped curve)"),
    // round-16 wave: artifact-backed media consumers (the min-of-2
    // discipline measures the warm READ path — the build pass is the
    // first run, same caveat as the LPA artifact, noted in SCALE.md),
    // the files-ingest shape, and the incremental fold-in
    ("q_multimodal_dedup_consensus", 1.0,
      "three artifact pair frames read + doc-keyed semi-joins; " +
        "pairs grow ~linearly on the shard-independent corpus"),
    ("q_multimodal_keep_list", 1.0,
      "confirmed-pair graph is planted-dup-sized; component pass + " +
        "doc-keyed keep join"),
    ("q_dedup_image_phash_files", 1.0,
      "binaryFile scan is one split per file; codec pass batch-narrow; " +
        "capped band join"),
    ("q_dedup_incremental_phash", 1.0,
      "batch-only codec work + band join vs the persisted index " +
        "(reads warm; the 4% batch scales with the corpus)"),
    ("q_dedup_audio_fingerprint_files", 1.0,
      "one WAV object per doc: binaryFile list+decode is the honest " +
        "linear file-scan cost; capped bucket join after"),
    ("q_dedup_video_framehash_files", 1.0,
      "one PNG per (video, sampled frame) on a 20% slice: frame-dump " +
        "list+decode linear in frame files; capped join after"),
    // round-17 wave: the r16 verdict's top sf1 spenders join the sweep —
    // the discipline exists precisely so the expensive shapes carry
    // measured exponent claims
    ("q_dedup_embedding_cosine_lsh", 1.0,
      "48x4 recall bands; band-collision combos die at a codegen " +
        "popcount (1024-bit packed-simhash prefilter in the join), " +
        "survivors ~ qualifying pairs drive all downstream"),
    ("q_dedup_simhash", 1.0,
      "one-pass codegen fingerprint; 8-byte candidates through the " +
        "byte-band self-join, Hamming on bit_count(xor)"),
    ("q_dedup_semantic", 1.0,
      "cell-keyed self-join over persisted IVF cells; 2x probe " +
        "fan-out, cells bounded — no all-pairs side"),
    ("q_dedup_ngram_jaccard", 1.0,
      "rep-collapsed postings join; within-shard shingle df preserved " +
        "by the shard-independent synth"),
    // round-18 wave: the r17-verdict fix target joins the sweep with
    // its settled self-join candidate stage
    ("q_dedup_minhash_lsh", 1.0,
      "rep-collapsed 21-band self-join candidates ~ linear on the " +
        "shard-independent synth; exact jaccard verify on reps"))

  private val Off = 1000000000L // replica key offset; > any sf1 key

  private def shift(df: DataFrame, cols: Seq[String], i: Int): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Off)))

  /** Replicate one table `reps`× with re-keyed ids (replica 0 is the
    * original bytes modulo parquet re-encode). */
  private def replicate(spark: SparkSession, base: String, out: String,
                        name: String, reps: Int,
                        keyCols: Seq[String],
                        mutate: (DataFrame, Int) => DataFrame): Unit = {
    val src = spark.read.parquet(s"$base/$name.parquet")
    val all = (0 until reps)
      .map(i => mutate(shift(src, keyCols, i), i))
      .reduce(_.unionAll(_))
    all.write.mode("overwrite").parquet(s"$out/$name.parquet")
  }

  private def idmut(df: DataFrame, i: Int): DataFrame = df

  def synthesize(spark: SparkSession, base: String, out: String,
                 reps: Int = 10): Unit = {
    val marker = java.nio.file.Paths.get(s"$out/_SYNTH_OK")
    if (java.nio.file.Files.exists(marker)) return
    // dimension tables stay as-is: a 10x fact corpus over the same
    // nation/region star is the realistic growth mode
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    replicate(spark, base, out, "customer", reps, Seq("c_custkey"), idmut)
    replicate(spark, base, out, "supplier", reps, Seq("s_suppkey"), idmut)
    replicate(spark, base, out, "part", reps, Seq("p_partkey"), idmut)
    replicate(spark, base, out, "orders", reps,
      Seq("o_orderkey", "o_custkey"), idmut)
    replicate(spark, base, out, "lineitem", reps,
      Seq("l_orderkey", "l_partkey", "l_suppkey"), idmut)
    // events: read through the ns-long normalizer, write micros
    val ev = graft.Tables.events(spark, base)
    (0 until reps).map(i => shift(ev, Seq("event_id", "user_id"), i))
      .reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    replicate(spark, base, out, "documents", reps, Seq("doc_id"),
      (df, i) =>
        if (i == 0) df
        else df
          .withColumn("text", expr(
            s"array_join(transform(split(text, ' '), t -> " +
              s"concat(t, '~r$i')), ' ')"))
          .withColumn("n_chars", length(col("text")).cast("long")))
    replicate(spark, base, out, "embeddings", reps, Seq("vec_id"),
      (df, i) =>
        if (i == 0) df
        else df.withColumn("embedding", expr(
          s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
            s"slice(embedding, 1, $i))")))
    java.nio.file.Files.writeString(marker, s"base=$base reps=$reps\n")
  }

  private def time(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val synth = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JIT warm-up
    synthesize(spark, base, synth)
    val shapes = Shapes.filter(s => only.isEmpty || only(s._1))
    def sweepAt(dir: String): Map[String, Double] = {
      val p1 = shapes.map(s => s._1 -> time(spark, s._1, dir)).toMap
      val p2 = shapes.map(s => s._1 -> time(spark, s._1, dir)).toMap
      shapes.map(s => s._1 -> math.min(p1(s._1), p2(s._1))).toMap
    }
    val tSmall = sweepAt(base)
    val tLarge = sweepAt(synth)
    def f(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    val rows = shapes.map { case (q, claimed, why) =>
      val (a, b) = (tSmall(q), tLarge(q))
      val obs = math.log10(b / a)
      System.out.println(
        f"SCALESWEEP $q%-32s sf0.1=${f(a)}s sf1=${f(b)}s " +
          f"observed=${f(obs)} claimed=${f(claimed)}")
      s"""{"query":"$q","t_sf01":${f(a)},"t_sf1":${f(b)},""" +
        s""""observed_exp":${f(obs)},"claimed_exp":$claimed,""" +
        s""""claim":"$why"}"""
    }
    val out = s"""{"base":"$base","synth":"$synth","factor":10,""" +
      s""""method":"min of 2 sweep-separated count() passes",""" +
      s""""shapes":[${rows.mkString(",")}]}"""
    println(s"SCALESWEEP_JSON: $out")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/SCALESWEEP.json"), out + "\n")
    spark.stop()
  }
}
