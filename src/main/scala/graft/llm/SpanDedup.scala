package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-SPAN (substring-level) deduplication over the `documents`
  * table — the W-token-window form of exact substring dedup (Lee et al.,
  * "Deduplicating Training Data Makes Language Models Better", ACL'22,
  * arXiv:2107.06499). The published tool builds a corpus-wide suffix
  * array on one machine; the shuffle-friendly re-expression is: slide a
  * W-token window over every document, call a window value DUPLICATED
  * when it occurs in >= 2 distinct documents, and scrub every token
  * covered by a duplicated window. Any cross-document repeated substring
  * of >= W tokens is the union of its length-W windows, so W-window
  * coverage equals suffix-array coverage for runs >= W — shorter repeats
  * are deliberately below the detection floor (same W-or-longer contract
  * as the paper's MinLen).
  *
  * Scale shape (the 100 TB plan):
  *  - windows(): one narrow pass — split + transform + posexplode, no
  *    shuffle; output is ~1 row per corpus token (linear).
  *  - the dup-span aggregate is THE heavy shuffle: group by span string
  *    with partial aggregation; countDistinct(doc_id) two-phases on
  *    (span, doc_id). At 100 TB key the shuffle on xxhash64(span) (a
  *    collision only ever merges two span groups — p ~ n²/2⁶⁵ — and the
  *    8-byte key shrinks the shuffle ~6x); the fixture queries keep the
  *    raw string so the DuckDB oracle is exact.
  *  - flag/scrub joins are span- or (doc_id, pos)-keyed shuffle-hash
  *    joins — never a corpus broadcast.
  *  - a df-cap on pathological spans (boilerplate that appears in
  *    millions of docs) bounds the coverage join's fan-out the same way
  *    ngramJaccardWithCutoff caps hot shingles; not needed at fixture
  *    scale, noted here as the production knob.
  */
object SpanDedup extends graft.QueryModule {

  /** Window width in tokens. 8 on the fixture's ~30-word synthetic
    * vocabulary plays the role 50 plays for BPE tokens in the paper:
    * long enough that chance collisions are rare, short enough that
    * planted near-dup runs are found. */
  private val W = 8

  /** (doc_id, i, span): every W-token window, i 1-based. Docs shorter
    * than W tokens produce no windows (and are untouched by scrub). */
  private[llm] def windows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= W)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(1, size(t) - ${W - 1}), i -> concat_ws(' ', slice(t, i, $W)))")))
      .select($"doc_id", ($"pos" + 1).as("i"), $"col".as("span"))
  }

  /** Spans occurring in >= 2 distinct docs, derived from an
    * already-built [[windows]] frame (taking the frame instead of the
    * docs keeps flag/scrub at ONE corpus-wide window pass per plan —
    * Catalyst clones subtrees per reference, it does not CSE them). */
  private[llm] def dupSpans(wins: DataFrame): DataFrame = {
    import wins.sparkSession.implicits._
    wins.groupBy($"span")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
      .filter($"n_docs" >= 2)
  }

  /** The corpus-wide duplicated-span index: (span, n_docs, n_occ). */
  private[llm] def spanIndexOf(docs: DataFrame): DataFrame =
    dupSpans(windows(docs)).orderBy("span")

  /** Per-doc duplicated-window readout — the quality-gate form: a doc
    * whose window set is mostly duplicated is boilerplate or a near-copy
    * and gets dropped before training. */
  private[llm] def spanFlagOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // the windows subtree is cloned under the agg and the join legs —
    // deliberate: it is a narrow no-shuffle pass, and re-running it is
    // cheaper than materializing ~1 row per corpus token (measured: a
    // localCheckpoint here made the query slower at sf0.1)
    val w = windows(docs)
    val dup = dupSpans(w).select($"span", lit(1).as("isdup"))
    w.join(dup, Seq("span"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"), count($"isdup").as("n_dup_windows"))
      .withColumn("dup_frac",
        round($"n_dup_windows".cast("double") / $"n_windows", 6))
      .orderBy($"doc_id")
  }

  /** Scrubbed corpus: every token covered by a duplicated window is
    * removed; survivors keep their original order. All docs appear
    * (fully-duplicated docs come back with n_kept=0, text_clean=''). */
  private[llm] def spanScrubOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = windows(docs) // cloned per leg on purpose — see spanFlagOf
    // covered positions: each duplicated window contributes its W token
    // positions; left_semi keeps the join skinny (no dup-side columns)
    val cov = w.join(dupSpans(w).select($"span"), Seq("span"), "left_semi")
      .select($"doc_id", explode(expr(s"sequence(i, i + ${W - 1})")).as("p"))
      .distinct()
    val toks = docs.select($"doc_id", posexplode(split($"text", " ")))
      .select($"doc_id", ($"pos" + 1).as("p"), $"col".as("tok"))
    val kept = toks.join(cov, Seq("doc_id", "p"), "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct($"p", $"tok"))).as("pts"))
      .select($"doc_id", $"n_kept",
        concat_ws(" ", expr("transform(pts, x -> x.tok)")).as("text_clean"))
    docs.select($"doc_id").join(kept, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"text_clean", lit("")).as("text_clean"))
      .orderBy($"doc_id")
  }

  def spanIndex(spark: SparkSession, sfDir: String): DataFrame =
    spanIndexOf(graft.Tables.documents(spark, sfDir))
  def spanFlag(spark: SparkSession, sfDir: String): DataFrame =
    spanFlagOf(graft.Tables.documents(spark, sfDir))
  def spanScrub(spark: SparkSession, sfDir: String): DataFrame =
    spanScrubOf(graft.Tables.documents(spark, sfDir))

  /** Persisted CORPUS span set (distinct spans of the non-batch slice)
    * — the incremental-ingestion state for span dedup, the same
    * discipline as the fingerprint / MinHash-band indexes: one column,
    * pre-distinct, a fraction of corpus bytes, built once per corpus
    * generation and committed atomically. In production each accepted
    * batch appends its new spans. */
  private[llm] def buildCorpusSpanIndex(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.Artifacts.ensure("graft_span_index/", sfDir, "documents.parquet", "v1") { tmp =>
      windows(graft.Tables.documents(spark, sfDir)
          .filter($"doc_id" % 3 =!= 0))
        .select($"span").distinct()
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** q_dedup_span_incremental — the continuous-ingestion form: a new
    * batch (doc_id % 3 = 0, the slice convention the incremental
    * exact/MinHash queries share) is flagged against the PERSISTED
    * corpus span set; the corpus text is never re-windowed per batch.
    * Cross-slice contamination only — intra-batch duplication is
    * [[spanFlag]]'s job on the batch itself. */
  def spanIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpusSpans = spark.read
      .parquet(buildCorpusSpanIndex(spark, sfDir))
      .withColumn("isdup", lit(1))
    windows(graft.Tables.documents(spark, sfDir)
        .filter($"doc_id" % 3 === 0))
      .join(corpusSpans, Seq("span"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"), count($"isdup").as("n_dup_windows"))
      .withColumn("dup_frac",
        round($"n_dup_windows".cast("double") / $"n_windows", 6))
      .orderBy($"doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_span_index" -> (spanIndex _),
    "q_dedup_span_flag" -> (spanFlag _),
    "q_dedup_span_scrub" -> (spanScrub _),
    "q_dedup_span_incremental" -> (spanIncremental _))

  // shared CTE text: W-token windows + the duplicated-span set
  private val winsSql =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |wins AS (
       |  SELECT doc_id, i, array_to_string(t[i:i+${W - 1}], ' ') AS span
       |  FROM toks, LATERAL (
       |    SELECT unnest(generate_series(1, len(t) - ${W - 1})) AS i) g
       |  WHERE len(t) >= $W),
       |dup AS (
       |  SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
       |  FROM wins GROUP BY span HAVING count(DISTINCT doc_id) >= 2)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_dedup_span_incremental" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |wins AS (
         |  SELECT doc_id, array_to_string(t[i:i+${W - 1}], ' ') AS span
         |  FROM toks, LATERAL (
         |    SELECT unnest(generate_series(1, len(t) - ${W - 1})) AS i) g
         |  WHERE len(t) >= $W),
         |corpus_spans AS (
         |  SELECT DISTINCT span FROM wins WHERE doc_id % 3 <> 0)
         |SELECT b.doc_id, count(*) AS n_windows,
         |  count(c.span) AS n_dup_windows,
         |  round(CAST(count(c.span) AS DOUBLE) / count(*), 6) AS dup_frac
         |FROM (SELECT * FROM wins WHERE doc_id % 3 = 0) b
         |LEFT JOIN corpus_spans c ON b.span = c.span
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "q_dedup_span_index" ->
      s"""WITH $winsSql
         |SELECT span, n_docs, n_occ FROM dup ORDER BY span""".stripMargin,
    "q_dedup_span_flag" ->
      s"""WITH $winsSql
         |SELECT w.doc_id, count(*) AS n_windows,
         |  count(d.span) AS n_dup_windows,
         |  round(CAST(count(d.span) AS DOUBLE) / count(*), 6) AS dup_frac
         |FROM wins w LEFT JOIN dup d ON w.span = d.span
         |GROUP BY w.doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_span_scrub" ->
      s"""WITH $winsSql,
         |cov AS (
         |  SELECT DISTINCT w.doc_id, g.p
         |  FROM wins w JOIN dup d ON w.span = d.span,
         |  LATERAL (SELECT unnest(generate_series(w.i, w.i + ${W - 1})) AS p) g),
         |tok AS (
         |  SELECT doc_id, p, t[p] AS tok
         |  FROM toks, LATERAL (
         |    SELECT unnest(generate_series(1, len(t))) AS p) g),
         |kept AS (
         |  SELECT t.doc_id, count(*) AS n_kept,
         |    array_to_string(list(t.tok ORDER BY t.p), ' ') AS text_clean
         |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
         |  WHERE c.p IS NULL GROUP BY t.doc_id)
         |SELECT d.doc_id, coalesce(k.n_kept, 0) AS n_kept,
         |  coalesce(k.text_clean, '') AS text_clean
         |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
         |ORDER BY d.doc_id""".stripMargin)
}
