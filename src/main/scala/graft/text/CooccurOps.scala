package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.AggOps.micro

/** Token co-occurrence statistics and cheap corpus LMs — the signals a
  * pretraining-data pipeline computes between tokenization and quality
  * gating (ref: the reference's TF-pipeline stops at per-doc token
  * vectors, `03_ml_pipeline.py`; these are the corpus-level upgrades).
  *
  * Three declared queries, all fully DuckDB-oracled:
  *
  *   q_text_skipgram_ppmi — positive PMI over skip-gram co-occurrence
  *     pairs (window ±2, the word2vec default shape; Levy & Goldberg,
  *     NIPS 2014 showed SGNS factorizes exactly this matrix). Unlike
  *     q_text_bigram_pmi (adjacent pairs only), the skip-gram window
  *     catches collocations with an intervening token.
  *   q_text_bigram_lm_nll — add-one-smoothed bigram LM trained on the
  *     corpus itself, scored per document as average negative log
  *     likelihood: the classic cheap perplexity gate (CCNet uses a
  *     KenLM; the bigram LM is its exact-arithmetic stand-in with the
  *     same plan shape — count tables joined back to the token stream).
  *   q_text_vocab_coverage — per-language coverage of a top-K corpus
  *     vocabulary: what fraction of running tokens a K-entry tokenizer
  *     vocab would cover, plus the distinct OOV type count. The
  *     standard "is the tokenizer vocab big enough for this language"
  *     report.
  *
  * Scale discipline (100 TB):
  *  - Co-occurrence pairs are emitted MAP-SIDE from each doc's own
  *    token array by a tight JVM UDF ([[windowPairsUdf]] /
  *    [[bigramsUdf]]) — linear in corpus size × window width, zero
  *    corpus-sized exchanges (the r17 rewrite; the earlier
  *    offset-shifted equi-join paid two corpus shuffles to pair tokens
  *    adjacent in the SAME array). Never a per-doc quadratic
  *    range-join (a doc_id-only join with a position filter
  *    degenerates to O(len²) per doc, fatal on book-length docs).
  *  - All model tables (pair counts, context counts, vocab) are
  *    token-keyed distributed aggregates; corpus totals are broadcast
  *    1-row aggregates over those tables (no second corpus scan).
  *  - Double sums follow the proven unigram_logprob discipline: each
  *    per-row log is rounded to 6 dp, summed as DECIMAL(18,6) (exact,
  *    order-free), divided once in double — bit-identical across
  *    engines and across partitionings.
  *  - The top-K vocab is bounded (K = 100) and broadcast; the coverage
  *    join never shuffles the corpus on a low-cardinality key.
  */
object CooccurOps extends graft.QueryModule {

  private val Window = 2      // skip-gram window ±2
  private val MinPair = 5     // kill the noisy co-occurrence tail
  private val VocabK = 100    // coverage vocabulary size

  /** (doc_id, pos, tok) token stream; pos is 1-based to match DuckDB's
    * generate_subscripts. */
  private def toks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p0", "tok")))
      .select($"doc_id", ($"p0" + 1).as("pos"), $"tok")
  }

  /** all (tok_i, tok_{i+o}) pair instances of one doc's token sequence,
    * o = 1..width, in (i, o) order, emitted MAP-side — the offset-shifted
    * union + (doc_id, pos) shuffle join this replaces paid two corpus
    * exchanges to pair tokens that sit adjacent in the SAME array.
    * Null-guarded: split(null) hands the UDF a null Seq, and the old
    * posexplode shape silently emitted no rows for null docs — this
    * must match. */
  private def pairsUdf(width: Int) =
    udf((toks: Seq[String]) => {
      if (toks == null) Array.empty[(String, String)]
      else {
        val n = toks.length
        val out = Array.newBuilder[(String, String)]
        out.sizeHint(n * width)
        var i = 0
        while (i < n) {
          var o = 1
          while (o <= width && i + o < n) {
            out += ((toks(i), toks(i + o)))
            o += 1
          }
          i += 1
        }
        out.result()
      }
    })

  /** skip-gram window pairs, o = 1..[[Window]] */
  private val windowPairsUdf = pairsUdf(Window)
  /** ordered adjacent (tok_i, tok_{i+1}) bigram instances */
  private val bigramsUdf = pairsUdf(1)

  private def pairInstances(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(explode(windowPairsUdf(split($"text", " "))).as("p"))
      // canonical unordered form via the engine's own string ordering
      // (least/greatest exactly as before — no UDF-side comparisons)
      .select(least($"p._1", $"p._2").as("a"),
        greatest($"p._1", $"p._2").as("b"))
  }

  /** q_text_skipgram_ppmi — PPMI over unordered skip-gram pairs.
    * p(a,b) over pair instances, p(a)/p(b) over the unigram stream;
    * PPMI = max(0, ln(p(ab)/(p(a)p(b)))), rounded once. */
  def skipgramPpmi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val uni = toks(spark, sfDir).groupBy($"tok").agg(count(lit(1)).as("c"))
    val pairs = pairInstances(spark, sfDir)
      .groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
    val nUni = broadcast(uni.agg(sum($"c").cast("double").as("n_uni")))
    val nPair = broadcast(pairs.agg(sum($"c_ab").cast("double").as("n_pair")))
    pairs.filter($"c_ab" >= MinPair)
      .join(uni.select($"tok".as("a"), $"c".as("c_a")), Seq("a"))
      .join(uni.select($"tok".as("b"), $"c".as("c_b")), Seq("b"))
      .crossJoin(nUni).crossJoin(nPair)
      .withColumn("ppmi", round(greatest(lit(0.0),
        log(($"c_ab" / $"n_pair") /
          (($"c_a" / $"n_uni") * ($"c_b" / $"n_uni")))), 6))
      .select(concat($"a", lit(" "), $"b").as("pair"),
        $"c_ab", $"c_a", $"c_b", $"ppmi")
      .orderBy($"ppmi".desc, $"pair")
      .limit(20)
  }

  /** q_text_bigram_lm_nll — per-doc avg negative log likelihood under
    * an add-one bigram LM: p(b|a) = (c_ab + 1) / (c_ctx(a) + V), with
    * c_ctx(a) = Σ_b c_ab (times a opens a bigram) and V = |token
    * types|. Docs with < 2 tokens have no bigrams and drop out (the
    * oracle mirrors this universe). */
  def bigramLmNll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = toks(spark, sfDir)
    // adjacent-pair instances map-side (the pairInstances rewrite,
    // window 1, ORDER KEPT: bigrams are directed)
    val bg = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", explode(bigramsUdf(split($"text", " "))).as("p"))
      .select($"doc_id", $"p._1".as("a"), $"p._2".as("b"))
    val cAb = bg.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
    val cCtx = cAb.groupBy($"a").agg(sum($"c_ab").as("c_ctx"))
    val vocab = broadcast(
      t.select($"tok").distinct().agg(count(lit(1)).as("v")))
    bg.join(cAb, Seq("a", "b")).join(cCtx, Seq("a")).crossJoin(vocab)
      .withColumn("lp",
        round(log(($"c_ab" + lit(1)).cast("double") /
          ($"c_ctx" + $"v").cast("double")), 6).cast("decimal(18,6)"))
      .groupBy($"doc_id")
      // floor-at-micro, not round: the avg can land exactly on a
      // 5e-7 rounding tie, which the engines' HALF_UP paths resolve
      // differently (r11 evidence at sf0.1); floor of the IEEE-identical
      // quotient is bit-deterministic everywhere
      .agg(count(lit(1)).as("n_bigrams"),
        micro(-(sum($"lp").cast("double")) / count(lit(1))).as("nll"))
      .orderBy($"doc_id")
  }

  /** q_text_vocab_coverage — per-language running-token coverage of the
    * top-K corpus vocabulary (K = 100, ties on token string), plus the
    * distinct OOV type count: integer sums throughout, one division at
    * the end. The vocab is a bounded top-K (broadcast both as the join
    * side and in spirit — 100 rows), so the corpus-side join is a
    * broadcast hash join, never a shuffle on `tok`. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = toks(spark, sfDir)
      .join(graft.Tables.documents(spark, sfDir).select($"doc_id", $"lang"),
        Seq("doc_id"))
    val vocab = broadcast(
      t.groupBy($"tok").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"tok").limit(VocabK)
        .select($"tok", lit(1).as("in_vocab")))
    t.join(vocab, Seq("tok"), "left")
      .withColumn("iv", coalesce($"in_vocab", lit(0)))
      .groupBy($"lang")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum($"iv").as("n_covered"),
        round(sum($"iv").cast("double") / count(lit(1)), 6).as("coverage"),
        countDistinct(when($"iv" === 0, $"tok")).as("n_oov_types"))
      .orderBy($"lang")
  }

  /** q_text_lexical_diversity — per-language lexical-diversity report:
    * type count, token count, type-token ratio, and Shannon entropy of
    * the token distribution (nats). High-entropy/high-TTR languages
    * need bigger tokenizer vocabs and dilute n-gram dedup signals —
    * the report that sizes both. Entropy follows the unigram_logprob
    * determinism discipline: one term per TYPE (vocabulary-bounded),
    * each rounded to 6 dp, summed as exact DECIMAL. */
  def lexicalDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = toks(spark, sfDir)
      .join(graft.Tables.documents(spark, sfDir).select($"doc_id", $"lang"),
        Seq("doc_id"))
    val counts = t.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy($"lang").agg(sum($"c").as("nt"))
    counts.join(broadcast(totals), Seq("lang"))
      .withColumn("term", round(
        ($"c".cast("double") / $"nt") * log($"c".cast("double") / $"nt"), 6)
        .cast("decimal(18,6)"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_types"),
        first($"nt").as("n_tokens"),
        round(count(lit(1)).cast("double") / first($"nt"), 6).as("ttr"),
        round(-sum($"term").cast("double"), 6).as("entropy"))
      .orderBy($"lang")
  }

  /** q_text_textrank — WEIGHTED TextRank keyword centrality (Mihalcea
    * & Tarau, EMNLP 2004, §3.1's weighted-graph variant): PageRank
    * over the word co-occurrence graph — nodes are CONTENT words (the
    * pinned NLTK stopword list filtered out), edge weight = the
    * co-occurrence instance count within the ±2 window over the
    * original token sequence ([[pairInstances]] reused). The WEIGHTED
    * walk is load-bearing here: the synthetic vocabulary is ~31 types,
    * so the unweighted co-occurrence graph is COMPLETE and unweighted
    * rank degenerates to a constant — counts are where the structure
    * lives (measured: top-20 rank values all equal unweighted, all
    * distinct weighted).
    *
    * Determinism (the GraphOps integer contract, extended to weights):
    * each directed edge's transition share is quantized ONCE to
    * millionths — share = (w·10⁶) div wdeg_src — and a node's
    * contribution is (pr div 10⁶)·share + ((pr mod 10⁶)·share) div 10⁶,
    * the EXACT algebraic identity for (pr·share) div 10⁶ that never
    * forms the overflowing product (pr can reach |V|·10¹², share 10⁶).
    * Integer sums → bit-identical across partitionings and engines;
    * the quantization loses < deg(u) millionths of u's outflow,
    * deterministic and far below rank gaps. 3 iterations, damping
    * 85/100, top-20 words by (rank, word).
    *
    * Scale: pair generation is the linear offset-shifted equi-join;
    * the weighted edge list is VOCABULARY-sized, so each iteration is
    * one shuffle over |V|·avg-deg rows, never the corpus; the final
    * cut is a TakeOrderedAndProject heap. */
  def textrank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stop = Stopwords.tokensOnly
    val pairs = pairInstances(spark, sfDir)
      .filter($"a" =!= $"b" &&
        !$"a".isin(stop: _*) && !$"b".isin(stop: _*))
      .groupBy($"a", $"b").agg(count(lit(1)).as("w"))
    val edges = pairs.select($"a".as("src"), $"b".as("dst"), $"w")
      .union(pairs.select($"b".as("src"), $"a".as("dst"), $"w"))
    val wdeg = edges.groupBy($"src").agg(sum($"w").as("wdeg"),
      count(lit(1)).as("deg"))
    val eshare = edges.join(wdeg.select($"src", $"wdeg"), Seq("src"))
      .select($"src", $"dst", expr("(w * 1000000L) div wdeg").as("share"))
      .localCheckpoint() // vocabulary-sized, feeds every iteration
    val nodes = wdeg.localCheckpoint()
    var pr = nodes.select($"src".as("id"), lit(1000000000000L).as("pr"))
    for (_ <- 1 to 3) {
      val sums = eshare.join(pr, eshare("src") === pr("id"))
        .select($"dst", expr("(pr div 1000000L) * share + " +
          "((pr % 1000000L) * share) div 1000000L").as("c"))
        .groupBy($"dst").agg(sum($"c").as("s"))
      pr = nodes.select($"src".as("id"))
        .join(sums, $"id" === $"dst", "left")
        .select($"id",
          expr("150000000000L + (85L * coalesce(s, 0L)) div 100L").as("pr"))
    }
    pr.join(nodes.select($"src".as("id"), $"deg", $"wdeg"), Seq("id"))
      .select($"id".as("word"), $"deg".as("degree"),
        $"wdeg".as("weight_degree"), $"pr".as("pr_scaled"))
      .orderBy($"pr_scaled".desc, $"word").limit(20) // top-k heap
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_textrank" -> (textrank _),
    "q_text_skipgram_ppmi" -> (skipgramPpmi _),
    "q_text_bigram_lm_nll" -> (bigramLmNll _),
    "q_text_vocab_coverage" -> (vocabCoverage _),
    "q_text_lexical_diversity" -> (lexicalDiversity _))

  /** one unrolled weighted-integer-PageRank iteration (the GraphOps
    * prIterSql shape on word keys with the millionth-share identity;
    * per-iteration BIGINT cast — DuckDB SUM promotes to HUGEINT) */
  private def trIterSql(k: Int): String =
    s"""s$k AS (
       |  SELECT e.dst AS id,
       |    CAST(SUM((p.pr // 1000000) * e.share +
       |             ((p.pr % 1000000) * e.share) // 1000000) AS BIGINT) AS s
       |  FROM eshare e JOIN pr${k - 1} p ON e.src = p.id GROUP BY 1),
       |pr$k AS (
       |  SELECT n.src AS id,
       |    CAST(150000000000 + (85 * coalesce(s.s, 0)) // 100 AS BIGINT)
       |      AS pr
       |  FROM nodes n LEFT JOIN s$k s ON n.src = s.id)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_text_textrank" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS tok,
         |    generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |pd AS (
         |  SELECT least(t1.tok, t2.tok) AS a,
         |    greatest(t1.tok, t2.tok) AS b, COUNT(*) AS w
         |  FROM t t1 JOIN t t2
         |    ON t1.doc_id = t2.doc_id
         |   AND t2.pos - t1.pos BETWEEN 1 AND $Window
         |  WHERE t1.tok <> t2.tok
         |    AND NOT list_contains(${Stopwords.duckdbArray}, t1.tok)
         |    AND NOT list_contains(${Stopwords.duckdbArray}, t2.tok)
         |  GROUP BY 1, 2),
         |edges(src, dst, w) AS (
         |  SELECT a, b, w FROM pd UNION ALL SELECT b, a, w FROM pd),
         |nodes AS (
         |  SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg,
         |    COUNT(*) AS deg
         |  FROM edges GROUP BY 1),
         |eshare AS (
         |  SELECT e.src, e.dst, (e.w * 1000000) // n.wdeg AS share
         |  FROM edges e JOIN nodes n ON e.src = n.src),
         |pr0 AS (
         |  SELECT src AS id, CAST(1000000000000 AS BIGINT) AS pr
         |  FROM nodes),
         |${(1 to 3).map(trIterSql).mkString(",\n")}
         |SELECT p.id AS word, n.deg AS degree, n.wdeg AS weight_degree,
         |  p.pr AS pr_scaled
         |FROM pr3 p JOIN nodes n ON p.id = n.src
         |ORDER BY pr_scaled DESC, word LIMIT 20""".stripMargin,
    "q_text_skipgram_ppmi" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS tok,
         |    generate_subscripts(string_split(text, ' '), 1) AS pos
         |  FROM documents),
         |uni AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
         |nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni),
         |pi AS (
         |  SELECT least(t1.tok, t2.tok) AS a, greatest(t1.tok, t2.tok) AS b
         |  FROM t t1 JOIN t t2
         |    ON t1.doc_id = t2.doc_id
         |   AND t2.pos - t1.pos BETWEEN 1 AND $Window),
         |pc AS (SELECT a, b, COUNT(*) AS c_ab FROM pi GROUP BY 1, 2),
         |np AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_pair FROM pc),
         |scored AS (
         |  SELECT pc.a || ' ' || pc.b AS pair, pc.c_ab,
         |    ua.c AS c_a, ub.c AS c_b,
         |    round(greatest(0.0, ln((pc.c_ab / n_pair) /
         |      ((ua.c / n_uni) * (ub.c / n_uni)))), 6) AS ppmi
         |  FROM pc
         |  JOIN uni ua ON pc.a = ua.tok
         |  JOIN uni ub ON pc.b = ub.tok
         |  CROSS JOIN nu CROSS JOIN np
         |  WHERE pc.c_ab >= $MinPair)
         |SELECT pair, c_ab, c_a, c_b, ppmi FROM scored
         |ORDER BY ppmi DESC, pair LIMIT 20""".stripMargin,
    "q_text_bigram_lm_nll" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT t1.doc_id, t1.tok AS a, t2.tok AS b
        |  FROM t t1 JOIN t t2
        |    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1),
        |cab AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_ctx FROM cab GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM t)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(floor(-CAST(SUM(CAST(round(ln(CAST(cab.c_ab + 1 AS DOUBLE) /
        |      CAST(ctx.c_ctx + v.v AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1e6) AS BIGINT)
        |    / 1e6 AS nll
        |FROM bg
        |JOIN cab ON bg.a = cab.a AND bg.b = cab.b
        |JOIN ctx ON bg.a = ctx.a
        |CROSS JOIN v
        |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,
    "q_text_lexical_diversity" ->
      """WITH t AS (
        |  SELECT d.lang, unnest(string_split(d.text, ' ')) AS tok
        |  FROM documents d),
        |c AS (SELECT lang, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nt FROM c GROUP BY 1)
        |SELECT c.lang, COUNT(*) AS n_types, CAST(max(n.nt) AS BIGINT) AS n_tokens,
        |  round(CAST(COUNT(*) AS DOUBLE) / max(n.nt), 6) AS ttr,
        |  round(-CAST(SUM(CAST(round(
        |      (CAST(c.c AS DOUBLE) / n.nt) * ln(CAST(c.c AS DOUBLE) / n.nt),
        |    6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS entropy
        |FROM c JOIN n ON c.lang = n.lang
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin,
    "q_text_vocab_coverage" ->
      s"""WITH t AS (
         |  SELECT d.doc_id, d.lang, unnest(string_split(d.text, ' ')) AS tok
         |  FROM documents d),
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, COUNT(*) AS c FROM t GROUP BY 1
         |    ORDER BY c DESC, tok LIMIT $VocabK)),
         |m AS (
         |  SELECT t.lang, t.doc_id, t.tok,
         |    CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS iv
         |  FROM t LEFT JOIN vocab v ON t.tok = v.tok)
         |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
         |  COUNT(*) AS n_tokens,
         |  CAST(SUM(iv) AS BIGINT) AS n_covered,
         |  round(CAST(SUM(iv) AS DOUBLE) / COUNT(*), 6) AS coverage,
         |  COUNT(DISTINCT CASE WHEN iv = 0 THEN tok END) AS n_oov_types
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin)
}
