package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.AggOps.micro

/** Language-model estimation statistics over the corpus's TRIGRAM
  * event space — the one n-gram order where the fixture is genuinely
  * sparse (singleton trigrams exist at every sf; the 31-token unigram
  * and 961-bigram domains are saturated), so smoothing and richness
  * estimators are exercised non-vacuously. The trigram multiset comes
  * from one tight UDF pass per document ([[Ngrams.trigrams]]); every
  * downstream frame is bounded by the trigram TYPE count, and the
  * corpus is scanned once per query. All three operators are exact-integer until the one
  * micro-floored division per readout column.
  */
object LmOps extends graft.QueryModule {

  private def trigramCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(explode(Ngrams.trigrams($"text")).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("n"))
  }

  /** q_text_good_turing — Turing's frequency-of-frequencies discounts
    * (Good, Biometrika 1953): r* = (r+1)·N_{r+1}/N_r re-estimates the
    * probability mass of types seen r times, and the unseen mass is
    * P₀ = N₁/N — the quantity a corpus pipeline uses to decide whether
    * more crawl will still surface new n-grams. Readout over the
    * bounded r ∈ [0, 10] dim: observed type counts, the GT-adjusted
    * count, and each class's probability mass. The corpus collapses to
    * the freq-of-freqs table (≤ max-multiplicity rows) in two hash
    * aggregations; everything after is a ≤11-row frame. */
  def goodTuring(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = trigramCounts(spark, sfDir)
    val fof = c.groupBy($"n".as("r")).agg(count(lit(1)).as("nr"))
    val tot = c.agg(sum($"n").as("tn")) // 1-row scalar frame
    val rdim = (0L to 10L).toDF("r")
    rdim
      .join(broadcast(fof), Seq("r"), "left")
      .join(broadcast(fof.select(($"r" - 1L).as("r"), $"nr".as("nr_next"))),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select($"r", coalesce($"nr", lit(0L)).as("n_types"),
        when($"r" >= 1L && $"nr" > 0L && $"nr_next" > 0L,
          micro(($"r" + 1L) * $"nr_next".cast("double") /
            $"nr".cast("double"))).as("r_star"),
        when($"r" === 0L,
          micro($"nr_next".cast("double") / $"tn".cast("double")))
          .otherwise(micro(coalesce($"nr", lit(0L)).cast("double") * $"r" /
            $"tn".cast("double"))).as("p_mass"))
      .orderBy($"r")
  }

  /** q_text_chao1 — Chao1 species-richness and Good's coverage per
    * language (Chao, Scand. J. Statist. 1984, bias-corrected form):
    * chao1 = V + f₁(f₁−1)/(2(f₂+1)) lower-bounds the TRUE trigram
    * vocabulary a bigger crawl of the same language would reach, and
    * coverage = 1 − f₁/N says what fraction of the next sample is
    * already known — the stop-crawling diagnostics. One aggregation to
    * (lang, type), one to the 5-language readout; exact integers to
    * two micro-floored divisions. */
  def chao1(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"lang", explode(Ngrams.trigrams($"text")).as("g"))
      .groupBy($"lang", $"g").agg(count(lit(1)).as("n"))
      .groupBy($"lang")
      .agg(sum($"n").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when($"n" === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when($"n" === 2L, 1L).otherwise(0L)).as("f2"))
      .select($"lang", $"n_tokens", $"n_types", $"f1", $"f2",
        micro($"n_types" + $"f1".cast("double") * ($"f1" - 1L) /
          (lit(2.0) * ($"f2" + 1L))).as("chao1"),
        micro(lit(1.0) - $"f1".cast("double") / $"n_tokens".cast("double"))
          .as("coverage"))
      .orderBy($"lang")
  }

  /** q_text_kneser_ney — interpolated Kneser–Ney trigram probabilities
    * with fixed discount d = 0.75 and one backoff level to the
    * CONTINUATION unigram (Kneser & Ney ICASSP'95; fixed-d variant per
    * Chen & Goodman 1998 §2.7): P(w₃|w₁w₂) = max(c₁₂₃−d,0)/c₁₂ +
    * d·N₁₊(w₁w₂·)/c₁₂ · N₁₊(··w₃)/B. The continuation count N₁₊(··w₃)
    * — in how many distinct contexts w₃ completes a trigram — is what
    * distinguishes KN from Katz backoff. Σ_{w₃} P(w₃|ctx) = 1 exactly
    * (the max-0 sum leaves d·N₁₊(ctx)/c₁₂, and ΣP_cont = 1), pinned in
    * the replay. All counts are one hash aggregation over the trigram
    * TYPE frame; the three component joins are hash joins on
    * ctx/w₃; top-20 rides TakeOrderedAndProject. */
  def kneserNey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = split($"g", " ")
    val c3 = trigramCounts(spark, sfDir)
      .select(concat_ws(" ", parts.getItem(0), parts.getItem(1)).as("ctx"),
        parts.getItem(2).as("w3"), $"n".as("c123"))
    val byCtx = c3.groupBy($"ctx")
      .agg(sum($"c123").as("c12"), count(lit(1)).as("n1p_ctx"))
    val byW3 = c3.groupBy($"w3").agg(count(lit(1)).as("n1p_w3"))
    val btot = c3.agg(count(lit(1)).as("b")) // 1-row: distinct trigrams
    val d = lit(0.75)
    c3.join(byCtx, Seq("ctx")).join(byW3, Seq("w3"))
      .crossJoin(broadcast(btot))
      .select($"ctx", $"w3", $"c123", $"c12", $"n1p_ctx", $"n1p_w3",
        micro($"n1p_w3".cast("double") / $"b".cast("double")).as("pcont"),
        micro(greatest($"c123" - d, lit(0.0)) / $"c12".cast("double") +
          d * $"n1p_ctx".cast("double") / $"c12".cast("double") *
          ($"n1p_w3".cast("double") / $"b".cast("double"))).as("p_kn"))
      .orderBy($"c123".desc, $"ctx", $"w3")
      .limit(20)
  }

  private val triSqlBase =
    """toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
      |idx AS (SELECT lang, t, unnest(range(1, len(t) - 1)) AS i FROM toks),
      |tri AS (SELECT lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |        FROM idx)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_good_turing" -> (goodTuring _),
    "q_text_chao1" -> (chao1 _),
    "q_text_kneser_ney" -> (kneserNey _))

  def oracle: Map[String, String] = Map(
    "q_text_good_turing" ->
      s"""WITH $triSqlBase,
        |c AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY 1),
        |fof AS (SELECT n AS r, CAST(COUNT(*) AS BIGINT) AS nr
        |        FROM c GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c),
        |rdim AS (SELECT CAST(unnest(range(0, 11)) AS BIGINT) AS r)
        |SELECT rdim.r AS r, COALESCE(f.nr, 0) AS n_types,
        |  CASE WHEN rdim.r >= 1 AND f.nr > 0 AND fn.nr > 0 THEN
        |    CAST(floor((rdim.r + 1) * CAST(fn.nr AS DOUBLE) /
        |      CAST(f.nr AS DOUBLE) * 1e6) AS BIGINT) / 1e6
        |  END AS r_star,
        |  CASE WHEN rdim.r = 0 THEN
        |    CAST(floor(CAST(fn.nr AS DOUBLE) / CAST(tn AS DOUBLE) * 1e6)
        |      AS BIGINT) / 1e6
        |  ELSE
        |    CAST(floor(CAST(COALESCE(f.nr, 0) AS DOUBLE) * rdim.r /
        |      CAST(tn AS DOUBLE) * 1e6) AS BIGINT) / 1e6
        |  END AS p_mass
        |FROM rdim
        |LEFT JOIN fof f ON f.r = rdim.r
        |LEFT JOIN fof fn ON fn.r = rdim.r + 1
        |CROSS JOIN tot ORDER BY r""".stripMargin,
    "q_text_chao1" ->
      s"""WITH $triSqlBase,
        |c AS (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM tri GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |  CAST(floor((COUNT(*) +
        |      CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) *
        |      (SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1) /
        |      (2.0 * (SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) + 1))) * 1e6)
        |    AS BIGINT) / 1e6 AS chao1,
        |  CAST(floor((1.0 -
        |      CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |      CAST(SUM(n) AS DOUBLE)) * 1e6) AS BIGINT) / 1e6 AS coverage
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_kneser_ney" ->
      s"""WITH $triSqlBase,
        |c3 AS MATERIALIZED (
        |  SELECT t1 || ' ' || t2 AS ctx, t3 AS w3,
        |    CAST(COUNT(*) AS BIGINT) AS c123
        |  FROM (SELECT string_split(g, ' ')[1] AS t1,
        |          string_split(g, ' ')[2] AS t2,
        |          string_split(g, ' ')[3] AS t3 FROM tri)
        |  GROUP BY 1, 2),
        |byctx AS (SELECT ctx, CAST(SUM(c123) AS BIGINT) AS c12,
        |    CAST(COUNT(*) AS BIGINT) AS n1p_ctx FROM c3 GROUP BY 1),
        |byw3 AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS n1p_w3
        |         FROM c3 GROUP BY 1),
        |btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM c3)
        |SELECT ctx, w3, c123, c12, n1p_ctx, n1p_w3,
        |  CAST(floor(CAST(n1p_w3 AS DOUBLE) / CAST(b AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS pcont,
        |  CAST(floor((greatest(c123 - 0.75, 0.0) / CAST(c12 AS DOUBLE) +
        |    0.75 * CAST(n1p_ctx AS DOUBLE) / CAST(c12 AS DOUBLE) *
        |    (CAST(n1p_w3 AS DOUBLE) / CAST(b AS DOUBLE))) * 1e6)
        |    AS BIGINT) / 1e6 AS p_kn
        |FROM c3 JOIN byctx USING (ctx) JOIN byw3 USING (w3)
        |CROSS JOIN btot
        |ORDER BY c123 DESC, ctx, w3 LIMIT 20""".stripMargin)
}
