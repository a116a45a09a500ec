package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the `documents` table through a PERSISTED
  * inverted index — the working-set pattern (fingerprint / shingle /
  * pair-graph indexes) applied to search: postings are built once per
  * corpus generation and every query reads only the partitions its
  * terms live in.
  *
  * Index layout (one atomic artifact, two frames — the minhash-index
  * discipline):
  *   postings/ — (tok, doc_id, tf, dl), written `partitionBy(bucket)`
  *     with bucket = pmod(xxhash64(tok), 64): a query computes its
  *     terms' buckets and the scan partition-prunes to those
  *     directories — at 100 TB a 3-term query touches 3/64ths of the
  *     index bytes at most, and never the corpus text. 64 buckets is
  *     the fixture setting; production sizes buckets so one bucket ≈
  *     one HDFS block times parallelism (the knob is a constant).
  *   docstats/ — (doc_id, dl): per-doc token length, so ranking needs
  *     corpus length statistics without re-tokenizing text.
  *
  * Two declared queries share the index:
  *   q_text_keyword_search — exact conjunctive (AND) match, the recall
  *     surface: every doc containing ALL query terms, with total hit
  *     count. Pure integer arithmetic, fully oracled.
  *   q_text_bm25_topk — Okapi BM25 ranked top-20 (Robertson et al.,
  *     TREC-3, the `ln(1 + (N-df+0.5)/(df+0.5))` idf variant), the
  *     precision surface. Scores are IEEE doubles built from exact
  *     integer inputs with the SAME operation order in the DuckDB twin,
  *     rounded to 6 dp before ranking; ties break on doc_id.
  *
  * Plan shape: postings filter (bucket ∈ query buckets && tok ∈ terms)
  * → per-doc aggregate over ≤ |terms| rows → join back to documents
  * for display columns (keyword) / a top-k heap (BM25 — the
  * RewriteTopKWindow rule plans the rank window as TopKPerKeyExec).
  * Nothing in either query scans text, and the only shuffle is on
  * doc_id over rows already filtered to the query terms.
  */
object SearchOps extends graft.QueryModule {

  /** Fixture query — three mid-frequency tokens of the synthetic
    * vocabulary; conjunctive selectivity ~10-15% of docs. */
  private[text] val Terms = Seq("vector", "stream", "hash")
  private val Buckets = 64

  /** Build (or reuse) the inverted-index artifact. */
  private[text] def buildIndex(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.Artifacts.ensure("graft_postings/", sfDir, "documents.parquet", "v1") { tmp =>
      val toks = graft.Tables.documents(spark, sfDir)
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", size($"t").as("dl"), explode($"t").as("tok"))
      toks.groupBy($"tok", $"doc_id", $"dl")
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(xxhash64($"tok"), lit(Buckets)))
        .repartition($"bucket") // one file per bucket dir, not tasks×buckets
        .write.partitionBy("bucket").mode("overwrite").parquet(s"$tmp/postings")
      toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
        .write.mode("overwrite").parquet(s"$tmp/docstats")
    }
  }

  /** The terms' bucket ids, computed through Spark's own xxhash64 (a
    * driver-side reimplementation could drift from the engine's hash);
    * bounded collect: |terms| rows. */
  private def termBuckets(spark: SparkSession): Seq[Long] = {
    import spark.implicits._
    Terms.toDF("tok")
      .select(pmod(xxhash64($"tok"), lit(Buckets)).as("b"))
      .distinct().as[Long].collect().toSeq
  }

  /** Partition-pruned postings rows for the query terms. */
  private def queryPostings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"${buildIndex(spark, sfDir)}/postings")
      .filter($"bucket".isin(termBuckets(spark): _*) &&
        $"tok".isin(Terms: _*))
  }

  /** q_text_keyword_search — conjunctive match over the postings. */
  def keywordSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hits = queryPostings(spark, sfDir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"tf").as("n_hits"))
      .filter($"n_terms" === Terms.size)
      .select($"doc_id", $"n_hits")
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source")
      .join(hits, Seq("doc_id"))
      .orderBy($"doc_id")
  }

  /** q_text_bm25_topk — BM25 ranked top-20, disjunctive (OR) match.
    * k1 = 1.2, b = 0.75. Corpus stats (N, Σdl) come from docstats as a
    * broadcast 1-row aggregate (the histogram pattern — no driver
    * round-trip); df per term from the pruned postings themselves. */
  def bm25TopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val idx = buildIndex(spark, sfDir)
    val post = queryPostings(spark, sfDir)
    val stats = broadcast(spark.read.parquet(s"$idx/docstats")
      .agg(count(lit(1)).as("n"), sum($"dl").as("sdl")))
    val df_ = post.groupBy($"tok").agg(count(lit(1)).as("df"))
    // per-(doc, term) score part; every arithmetic step mirrored
    // verbatim in the oracle so the doubles are bit-identical
    val part = post.join(broadcast(df_), Seq("tok")).crossJoin(stats)
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("p",
        $"idf" * ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) *
            (lit(0.25) + lit(0.75) * $"dl" / ($"sdl".cast("double") / $"n"))))
    val scored = part.groupBy($"doc_id")
      .pivot("tok", Terms)
      .agg(first($"p"))
      // fixed left-to-right addition order — grouped sum() would be
      // partial-aggregation-order-dependent across engines
      .select($"doc_id", Terms.map(t => coalesce(col(t), lit(0.0)))
        .reduceLeft(_ + _).as("score"))
      .withColumn("score", round($"score", 6))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"score".desc, $"doc_id")))
      .filter($"rank" <= 20)
      .select($"rank", $"doc_id", $"score")
      .orderBy($"rank")
  }

  /** q_search_hybrid_rrf — hybrid retrieval: reciprocal-rank fusion
    * (Cormack et al., SIGIR 2009; k = 60) of the BM25 keyword leg with
    * an embedding leg seeded by pseudo-relevance feedback (Rocchio
    * shape): the top-3 BM25 docs THAT HAVE embeddings (at sf0.1 only a
    * prefix of docs carries vectors) define a query vector as the
    * per-dimension SUM of their floor(x*1000) integer quantizations —
    * cosine is scale-invariant, so the sum needs no division and stays
    * exact. The vector leg is brute-force cosine at fixture scale (the
    * IVF index is the 100 TB swap-in, same contract); both legs are
    * top-20, fused as Σ 1/(60+rank) over the legs a doc appears in,
    * top-10 out.
    *
    * Scale: the keyword leg is the partition-pruned postings plan; the
    * PRF vector is a ≤3-row bounded frame folded to ONE broadcast row
    * (no driver round-trip); the fusion is an outer join of two 20-row
    * frames. All rank windows are row_number-≤-k shapes the
    * RewriteTopKWindow rule plans as two-phase TopKPerKeyExec. */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // pinned: the 20-row keyword leg feeds BOTH the PRF seed collect and
    // the final fusion join — without the pin the whole BM25 subplan
    // (postings, pivot, top-k) executes once per consumer
    val bm = bm25TopK(spark, sfDir).localCheckpoint()
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", transform($"embedding",
        x => floor(x.cast("double") * 1000.0).cast("long")).as("qv"))
    // bounded collect: ≤3 seed rows of 64 longs. Collecting here (a)
    // guards LOUDLY against a degenerate PRF (no top-20 doc carries an
    // embedding ⇒ the vector leg would rank on a null score), and (b)
    // keeps the BM25 subplan out of the PRF/anti-join legs — DataFrame
    // subtrees are re-executed per occurrence, so the inline spelling
    // ran the whole keyword plan three times
    val seedRows = bm.join(emb, bm("doc_id") === emb("vec_id"))
      .orderBy($"rank").limit(PrfSeeds)
      .select($"vec_id", $"qv").as[(Long, Seq[Long])].collect()
    require(seedRows.nonEmpty,
      "hybrid RRF: no BM25 top-20 doc has an embedding — PRF vector " +
        "would be empty; widen the keyword leg or the embedding corpus")
    val seedIds = seedRows.map(_._1)
    // PRF vector: exact per-dimension integer sums over the seed rows;
    // its self-norm is a constant, computed once
    val pv = seedRows.map(_._2).toSeq.transpose.map(_.sum)
    val np = math.sqrt(pv.map(x => (x * x).toDouble).sum)
    val vec = emb.filter(!$"vec_id".isin(seedIds: _*))
      .withColumn("dt", aggregate(
        zip_with($"qv", lit(pv.toArray), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("nq", aggregate(transform($"qv", x => x * x),
        lit(0L), (acc, x) => acc + x))
      .withColumn("score", round($"dt".cast("double") /
        (sqrt($"nq".cast("double")) * lit(np)), 6))
      .withColumn("r_vec", row_number().over(
        Window.orderBy($"score".desc, $"vec_id")))
      .filter($"r_vec" <= 20)
      .select($"vec_id".as("doc_id"), $"r_vec")
    bm.select($"doc_id", $"rank".as("r_kw"))
      .join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + $"r_kw"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + $"r_vec"), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.orderBy($"rrf".desc, $"doc_id")))
      .filter($"rank" <= 10)
      .select($"rank", $"doc_id", $"r_kw", $"r_vec", $"rrf")
      .orderBy($"rank")
  }

  private val RrfK = 60
  private val PrfSeeds = 3

  /** q_search_ndcg — NDCG@{5,10,20} of the BM25 ranking (Järvelin &
    * Kekäläinen, TOIS 2002), the graded retrieval-eval readout a
    * search stack ships with: graded relevance comes from a
    * RANKER-INDEPENDENT rule — rel = total query-term occurrences in
    * the doc, capped at 25 — above every fixture tf, so effectively the raw term-frequency mass (the cap only bounds the 2^rel gain; NOT the ranker's
    * score: BM25's tf saturation + length normalization reorder it,
    * so the measured NDCG sits strictly below 1, non-vacuous at every scale) —
    * DCG@k sums (2^rel − 1)/log2(rank+1) over the BM25 top-k, IDCG@k
    * over the ideal (rel desc, doc_id) ordering, NDCG = DCG/IDCG.
    * Per-position terms are round(,6)::DECIMAL and summed exactly (the
    * double-sum-order discipline); the final ratio divides once in
    * double, micro-floored.
    *
    * Scale: the ranking is the existing BM25 top-k heap; the ideal
    * ranking is a global top-20 (TakeOrderedAndProject) over the
    * rel frame, its rank window running over exactly 20 rows (the
    * dsir pattern); the cutoff fan-out joins a 3-row k frame to
    * ≤20-row frames — every NDCG-specific structure is bounded. */
  def ndcg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w20 = org.apache.spark.sql.expressions.Window
      .orderBy($"rel".desc, $"doc_id".asc) // runs over the 20-row cut
    val ranked = bm25TopK(spark, sfDir).select($"rank", $"doc_id")
    val rel = graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        least(lit(25), size(filter(split($"text", " "),
          t => t.isin(Terms: _*)))).as("rel"))
    val dcgTerms = ranked.join(rel, Seq("doc_id"))
      .withColumn("g", round((pow(lit(2.0), $"rel") - 1.0) /
        log2($"rank" + 1.0), 6).cast("decimal(18,6)"))
    val idealTerms = rel.orderBy($"rel".desc, $"doc_id".asc).limit(20)
      .withColumn("irank", row_number().over(w20))
      .withColumn("ig", round((pow(lit(2.0), $"rel") - 1.0) /
        log2($"irank" + 1.0), 6).cast("decimal(18,6)"))
    val ks = Seq(5, 10, 20).toDF("k")
    val dcg = ks.join(dcgTerms, $"rank" <= $"k")
      .groupBy($"k").agg(sum($"g").as("dcg"))
    val idcg = ks.join(idealTerms, $"irank" <= $"k")
      .groupBy($"k").agg(sum($"ig").as("idcg"))
    dcg.join(idcg, Seq("k"))
      .select($"k", $"dcg".cast("double").as("dcg"),
        $"idcg".cast("double").as("idcg"),
        (floor($"dcg".cast("double") / $"idcg".cast("double") * 1e6)
          .cast("long") / 1e6).as("ndcg"))
      .orderBy($"k")
  }

  /** q_search_map_mrr — MAP@{5,10,20} + MRR of the BM25 ranking, the
    * BINARY-relevance companion to [[ndcg]]'s graded readout (Voorhees,
    * TREC; the pair every retrieval eval ships): relevant = the docs
    * containing ALL query terms (the conjunctive q_text_keyword_search
    * set — ranker-independent, BM25 matches disjunctively). AP@k =
    * Σ_{i≤k, rel} P@i / min(R, k) with each P@i = round(hits_i/i,6)::
    * DECIMAL summed exactly and ONE micro-floored division; MRR =
    * 1/rank of the first relevant hit (0.0 when the top-20 has none,
    * both engines spelling the same CASE).
    *
    * Scale: relevance comes from the partition-pruned postings (never
    * the corpus text), R is a 1-row aggregate, and every
    * MAP/MRR-specific structure — the cumulative-hit window, the
    * cutoff fan-out — runs over the 20-row ranked cut (the ndcg
    * rationale). */
  def mapMrr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w20 = org.apache.spark.sql.expressions.Window
      .orderBy($"rank") // runs over the 20-row ranked cut
    val ranked = bm25TopK(spark, sfDir).select($"rank", $"doc_id")
    val rel = queryPostings(spark, sfDir)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_terms"))
      .filter($"n_terms" === Terms.size)
      .select($"doc_id", lit(1L).as("is_rel"))
    val nRel = rel.agg(count(lit(1)).as("n_rel")) // 1 row
    val flags = ranked.join(rel, Seq("doc_id"), "left")
      .withColumn("r", coalesce($"is_rel", lit(0L)))
      .withColumn("cum", sum($"r").over(w20))
      .withColumn("pterm", when($"r" === 1L,
        round($"cum".cast("double") / $"rank", 6).cast("decimal(18,6)")))
    val firstRel = flags.filter($"r" === 1L)
      .agg(min($"rank").as("fr")) // 1 row (NULL fr when no hit)
    def micro(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(c * 1e6).cast("long") / 1e6
    Seq(5, 10, 20).toDF("k").join(flags, $"rank" <= $"k")
      .groupBy($"k")
      .agg(sum($"r").as("hits_at_k"),
        sum($"pterm").as("sum_p")) // ≤20 rows per k
      .crossJoin(broadcast(nRel)).crossJoin(broadcast(firstRel))
      .select($"k", $"hits_at_k",
        micro($"hits_at_k".cast("double") / $"k").as("prec_at_k"),
        // r13 advisory: with no fully-relevant document (n_rel = 0)
        // the AP denominator least(n_rel, k) is 0 — NaN in Spark vs a
        // cast error in DuckDB. AP is undefined over an empty relevant
        // set, so NULL, mirrored by the CASE guard in the oracle.
        when($"n_rel" > 0L,
          micro(coalesce($"sum_p", lit(0).cast("decimal(18,6)"))
            .cast("double") / least($"n_rel", $"k"))).as("ap_at_k"),
        when($"fr".isNotNull, micro(lit(1.0) / $"fr"))
          .otherwise(lit(0.0)).as("mrr"))
      .orderBy($"k")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_search_map_mrr" -> (mapMrr _),
    "q_text_keyword_search" -> (keywordSearch _),
    "q_text_bm25_topk" -> (bm25TopK _),
    "q_search_ndcg" -> (ndcg _),
    "q_search_hybrid_rrf" -> (hybridRrf _))

  private def termList = Terms.map(t => s"'$t'").mkString(", ")

  def oracle: Map[String, String] = Map(
    "q_text_keyword_search" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM tok
         |  WHERE tok IN ($termList) GROUP BY doc_id, tok),
         |hits AS (
         |  SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS n_hits
         |  FROM tf GROUP BY doc_id)
         |SELECT d.doc_id, d.lang, d.source, h.n_hits
         |FROM documents d JOIN hits h ON d.doc_id = h.doc_id
         |WHERE h.n_terms = ${Terms.size}
         |ORDER BY d.doc_id""".stripMargin,
    "q_text_bm25_topk" ->
      s"""$bm25Ctes
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
         |    AS rank,
         |  doc_id, score
         |FROM sc ORDER BY rank LIMIT 20""".stripMargin,
    "q_search_map_mrr" ->
      s"""$bm25Ctes,
         |ranked AS (
         |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |    AS INT) AS rank, doc_id
         |  FROM sc ORDER BY rank LIMIT 20),
         |rel AS (
         |  SELECT doc_id FROM tf GROUP BY doc_id
         |  HAVING count(*) = ${Terms.size}),
         |nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rel),
         |flags AS (
         |  SELECT r.rank,
         |    CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END AS r
         |  FROM ranked r LEFT JOIN rel ON r.doc_id = rel.doc_id),
         |cumf AS (
         |  SELECT rank, r,
         |    CAST(SUM(r) OVER (ORDER BY rank) AS BIGINT) AS cum
         |  FROM flags),
         |pterms AS (
         |  SELECT rank, r, cum,
         |    CASE WHEN r = 1 THEN CAST(round(CAST(cum AS DOUBLE) / rank, 6)
         |      AS DECIMAL(18,6)) END AS pterm
         |  FROM cumf),
         |fr AS (SELECT MIN(rank) AS fr FROM pterms WHERE r = 1),
         |ks AS (SELECT unnest([5, 10, 20]) AS k),
         |g AS (
         |  SELECT k, CAST(SUM(r) AS BIGINT) AS hits_at_k,
         |    SUM(pterm) AS sum_p
         |  FROM ks JOIN pterms ON rank <= k GROUP BY k)
         |SELECT k, hits_at_k,
         |  CAST(floor(CAST(hits_at_k AS DOUBLE) / k * 1e6) AS BIGINT) / 1e6
         |    AS prec_at_k,
         |  CASE WHEN n_rel > 0 THEN
         |    CAST(floor(CAST(coalesce(sum_p, 0) AS DOUBLE) /
         |      least(n_rel, k) * 1e6) AS BIGINT) / 1e6 END AS ap_at_k,
         |  CASE WHEN fr IS NOT NULL THEN
         |    CAST(floor(CAST(1.0 AS DOUBLE) / fr * 1e6) AS BIGINT) / 1e6
         |    ELSE 0.0 END AS mrr
         |FROM g CROSS JOIN nrel CROSS JOIN fr ORDER BY k""".stripMargin,
    "q_search_ndcg" ->
      s"""$bm25Ctes,
         |ranked AS (
         |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |    AS INT) AS rank, doc_id
         |  FROM sc ORDER BY rank LIMIT 20),
         |rel AS (
         |  SELECT doc_id,
         |    least(25, len(list_filter(string_split(text, ' '),
         |      t -> list_contains([$termList], t)))) AS rel
         |  FROM documents),
         |dcgt AS (
         |  SELECT r.rank,
         |    CAST(round((pow(2.0, rel.rel) - 1.0) / log2(r.rank + 1.0), 6)
         |      AS DECIMAL(18,6)) AS g
         |  FROM ranked r JOIN rel USING (doc_id)),
         |ideal AS (
         |  SELECT CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
         |    AS INT) AS irank, rel
         |  FROM rel ORDER BY rel DESC, doc_id LIMIT 20),
         |idt AS (
         |  SELECT irank,
         |    CAST(round((pow(2.0, rel) - 1.0) / log2(irank + 1.0), 6)
         |      AS DECIMAL(18,6)) AS ig
         |  FROM ideal),
         |ks AS (SELECT unnest([5, 10, 20]) AS k),
         |d AS (SELECT k, CAST(SUM(g) AS DOUBLE) AS dcg
         |  FROM ks JOIN dcgt ON rank <= k GROUP BY k),
         |i AS (SELECT k, CAST(SUM(ig) AS DOUBLE) AS idcg
         |  FROM ks JOIN idt ON irank <= k GROUP BY k)
         |SELECT d.k, d.dcg, i.idcg,
         |  CAST(floor(d.dcg / i.idcg * 1e6) AS BIGINT) / 1e6 AS ndcg
         |FROM d JOIN i USING (k) ORDER BY k""".stripMargin,
    "q_search_hybrid_rrf" ->
      s"""$bm25Ctes,
         |bm AS (
         |  SELECT rank, doc_id FROM (
         |    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |      AS INT) AS rank, doc_id FROM sc) WHERE rank <= 20),
         |emb AS (
         |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x*1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |seeds AS (
         |  SELECT e.vec_id, e.qv FROM bm JOIN emb e ON bm.doc_id = e.vec_id
         |  ORDER BY bm.rank LIMIT $PrfSeeds),
         |prf AS (
         |  SELECT list(s ORDER BY d) AS pv FROM (
         |    SELECT d, CAST(SUM(q) AS BIGINT) AS s FROM (
         |      SELECT unnest(qv) AS q, generate_subscripts(qv, 1) AS d
         |      FROM seeds) GROUP BY d)),
         |vecscore AS (
         |  SELECT e.vec_id,
         |    round(CAST(list_sum(list_transform(range(1, len(e.qv)+1),
         |        i -> e.qv[i] * p.pv[i])) AS DOUBLE) /
         |      (sqrt(CAST(list_sum(list_transform(range(1, len(e.qv)+1),
         |          i -> e.qv[i] * e.qv[i])) AS DOUBLE)) *
         |       sqrt(CAST(list_sum(list_transform(range(1, len(p.pv)+1),
         |          i -> p.pv[i] * p.pv[i])) AS DOUBLE))), 6) AS score
         |  FROM emb e CROSS JOIN prf p
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM seeds)),
         |vec AS (
         |  SELECT doc_id, r_vec FROM (
         |    SELECT vec_id AS doc_id, CAST(row_number() OVER (
         |      ORDER BY score DESC, vec_id) AS INT) AS r_vec
         |    FROM vecscore) WHERE r_vec <= 20),
         |fused AS (
         |  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         |    b.rank AS r_kw, v.r_vec,
         |    round(coalesce(1.0 / (${RrfK} + b.rank), 0.0) +
         |          coalesce(1.0 / (${RrfK} + v.r_vec), 0.0), 6) AS rrf
         |  FROM bm b FULL OUTER JOIN vec v ON b.doc_id = v.doc_id)
         |SELECT rank, doc_id, r_kw, r_vec, rrf FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
         |    AS rank, doc_id, r_kw, r_vec, rrf
         |  FROM fused) WHERE rank <= 10 ORDER BY rank""".stripMargin)

  /** Shared BM25 CTE chain (tok → dl → stats → tf → df → part → sc) —
    * one string so the BM25 query and the hybrid-fusion query cannot
    * drift in scoring arithmetic. */
  private def bm25Ctes: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
       |tf AS (
       |  SELECT doc_id, tok, count(*) AS tf FROM tok
       |  WHERE tok IN ($termList) GROUP BY doc_id, tok),
       |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |part AS (
       |  SELECT t.doc_id, t.tok,
       |    ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5)) *
       |      (t.tf * 2.2) /
       |      (t.tf + 1.2 *
       |        (0.25 + 0.75 * d.dl / (CAST(s.sdl AS DOUBLE) / s.n))) AS p
       |  FROM tf t JOIN df f ON t.tok = f.tok
       |  JOIN dl d ON t.doc_id = d.doc_id CROSS JOIN stats s),
       |sc AS (
       |  SELECT doc_id, round(
       |    ${Terms.map(t => s"coalesce(max(CASE WHEN tok = '$t' THEN p END), 0.0)")
                  .mkString("\n       |      + ")}, 6) AS score
       |  FROM part GROUP BY doc_id)""".stripMargin
}
