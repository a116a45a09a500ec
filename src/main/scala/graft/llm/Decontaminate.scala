package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination for LLM training corpora (SURVEY.md §2.4
  * capability extension; the reference has no corpus ops — its dataset is
  * 500 rows, 00_training_pipeline.py:13).
  *
  * The training-data problem: any document that shares n-grams with a
  * held-out evaluation set leaks the benchmark into training. The standard
  * remedy (GPT-3 appendix C, The Pile §6.3) is n-gram overlap: flag every
  * corpus document sharing at least one shingle with any benchmark
  * document. Here the benchmark set is the fixture slice `doc_id % 50 = 0`
  * (a stand-in for a real eval suite).
  *
  * 100 TB design: eval suites are tiny (MBs) next to the corpus, so the
  * benchmark shingle set is BROADCAST — the corpus side stays a narrow
  * scan → explode → broadcast-hash-join → partial-count, with no shuffle
  * of corpus text at all. The only wide exchange is the final per-doc
  * count aggregation, keyed on doc_id. At a benchmark too big to
  * broadcast, drop the hint and the same plan degrades to a shuffle join
  * on the shingle key — still posting-sized rows, never full documents.
  */
object Decontaminate extends graft.QueryModule {

  /** Corpus docs that overlap the benchmark slice: doc_id + how many
    * distinct shingles leak. Shingles are distinct per doc
    * ([[DedupOps.shingleCol]]), so count(*) after the join IS the
    * distinct-overlap count. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", DedupOps.shingleCol($"text").as("sh"))
      .filter(size($"sh") > 0)
    val benchShingles = docs.filter($"doc_id" % 50 === 0)
      .select(explode($"sh").as("shingle")).distinct()
    docs.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id", explode($"sh").as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_leaked_shingles"))
      .orderBy($"doc_id")
  }

  /** The composed eval-harness shape every training run needs: a
    * deterministic hash split (same multiplicative-hash envelope as
    * MlOps.deterministicSplit: 80% train / 20% eval on doc_id) followed
    * by decontamination of the EVAL side against the TRAIN side — an
    * eval doc is dropped when its ENTIRE distinct-3-gram shingle set
    * appears in the train side (complete containment: the doc is a
    * tiling of training n-grams — the exact-contamination rule), so
    * reported eval numbers cannot be inflated by train/eval leakage.
    * The predicate is pure-integer (n_leak = n_shingles; nothing
    * fractional crosses the engine boundary). Complete containment is
    * the one cut that stays NON-VACUOUS at both fixture scales: on
    * this ~30-word synthetic vocabulary every eval doc shares SOME
    * trigram with train (any-overlap keeps nothing at either scale)
    * and at sf0.1 the leak-fraction floor is 0.889 (a half-leak cut
    * keeps nothing there either); production corpora with real
    * vocabularies would run the same shape with a tunable fraction.
    * Unlike [[decontaminate]]'s small-benchmark broadcast, the train
    * shingle set here is corpus-sized: the overlap count is a SHUFFLE
    * join on the shingle key (never a broadcast), then one join back
    * on doc_id — both linear, both AQE-skew-safe. Fully oracled (plain
    * SQL composition). */
  def evalSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // shingles come from the dedup family's PERSISTED shingle artifact
    // (< 3 tokens → absent row), so the query re-shingles NOTHING after
    // the artifact's one-time build; the three shingle-consuming legs
    // read parquet
    val shingled = spark.read
      .parquet(DedupOps.buildShingleIndex(spark, sfDir))
      .select($"doc_id", $"sh",
        (pmod(pmod($"doc_id", lit(1000L)) * 2654435761L, lit(1000L)) < 800).as("is_train"))
    val trainShingles = shingled.filter($"is_train")
      .select(explode($"sh").as("shingle")).distinct()
    val evalSh = shingled.filter(!$"is_train")
    val leaks = evalSh.select($"doc_id", explode($"sh").as("shingle"))
      .join(trainShingles, Seq("shingle"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_leak"))
    graft.Tables.documents(spark, sfDir)
      .filter(pmod(pmod($"doc_id", lit(1000L)) * 2654435761L, lit(1000L)) >= 800)
      .select($"doc_id", $"lang", $"source")
      .join(evalSh.select($"doc_id", size($"sh").as("n_sh")),
        Seq("doc_id"), "left")
      .join(leaks, Seq("doc_id"), "left")
      // keep: under-containment leakage, or no shingles at all (a doc
      // below the 3-token shingle floor is absent from the artifact and
      // cannot leak)
      .filter(coalesce($"n_sh", lit(0)) === 0 ||
        coalesce($"n_leak", lit(0L)) < $"n_sh")
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_dedup_decontaminate" -> (decontaminate _),
      "q_pipeline_eval_split" -> (evalSplit _))

  def oracle: Map[String, String] = Map(
    "q_dedup_decontaminate" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                     string_split(text, ' ')[i+1],
        |                     string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |bench AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM docs
        |  WHERE doc_id % 50 = 0),
        |corpus AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM docs
        |  WHERE doc_id % 50 <> 0)
        |SELECT c.doc_id, COUNT(*) AS n_leaked_shingles
        |FROM corpus c JOIN bench b USING (shingle)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q_pipeline_eval_split" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, source,
        |    ((doc_id % 1000) * 2654435761) % 1000 < 800 AS is_train,
        |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
        |      list_distinct(list_transform(
        |        generate_series(1, len(string_split(text, ' ')) - 2),
        |        i -> concat_ws(' ', string_split(text, ' ')[i],
        |                       string_split(text, ' ')[i+1],
        |                       string_split(text, ' ')[i+2])))
        |      ELSE [] END AS sh
        |  FROM documents),
        |train_sh AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM docs WHERE is_train),
        |leaks AS (
        |  SELECT e.doc_id, count(*) AS n_leak
        |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM docs
        |        WHERE NOT is_train) e
        |  JOIN train_sh t USING (shingle)
        |  GROUP BY e.doc_id)
        |SELECT d.doc_id, d.lang, d.source
        |FROM docs d LEFT JOIN leaks l ON d.doc_id = l.doc_id
        |WHERE NOT d.is_train
        |  AND (len(d.sh) = 0 OR coalesce(l.n_leak, 0) < len(d.sh))
        |ORDER BY d.doc_id""".stripMargin)
}
