package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hash-agg / grouping operators (SURVEY.md §2.3 "agg" rows).
  *
  * Oracle-determinism discipline (SURVEY.md §2.5, §7.3-1): every monetary
  * double is cast to DECIMAL(18,4) *before* summing — the fixture doubles
  * are exact 2-dp values, so decimal aggregation is exact and bit-identical
  * between Spark and DuckDB regardless of partial-aggregation order. The
  * final column is cast back to double (nearest-double of the same exact
  * decimal on both sides). No round() needed, so no round-tie divergence.
  */
object AggOps extends graft.QueryModule {

  /** x as an exact DECIMAL(14,2) — fixture money columns are 2-dp exact.
    * Width is kept small so chained decimal multiplies stay ≤ 38 digits in
    * BOTH engines: DuckDB silently converts a decimal product wider than 38
    * to double (observed: sum_charge mismatch at the last ulp), Spark keeps
    * decimal — narrow inputs keep both exact. */
  def dec(c: Column): Column = c.cast(DecimalType(14, 2))

  /** rate columns (discount/tax, 2-dp exact, |x| < 10) as DECIMAL(8,4) */
  def rate(c: Column): Column = c.cast(DecimalType(8, 4))

  /** exact decimal sum surfaced as double */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** deterministic avg: exact decimal sum / count, divided in double space
    * identically on both engines. */
  def davg(c: Column): Column =
    sum(dec(c)).cast("double") / count(c).cast("double")

  /** Flagship: TPC-H Q1-shaped pricing summary over lineitem.
    * Generalizes the reference's agg-free relational surface per
    * SURVEY.md §2.3 (scan→filter→agg→sort); reference evidence for the
    * scan/filter/derive chain: 00_training_pipeline.py:129-135. */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        // round(…,6) BEFORE the double cast: keeps the decimal's scaled
        // integer < 2^53 so DuckDB's int128/10^scale cast is exact too
        // (at scale 10 the cast is off by 1 ulp there).
        round(sum(dec($"l_extendedprice") * (lit(BigDecimal(1)) - rate($"l_discount"))), 6)
          .cast("double").as("sum_disc_price"),
        round(sum(dec($"l_extendedprice") * (lit(BigDecimal(1)) - rate($"l_discount"))
          * (lit(BigDecimal(1)) + rate($"l_tax"))), 6).cast("double").as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val pricingSummaryOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(8,4)))), 6) AS DOUBLE) AS sum_disc_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(8,4))) * (1 + CAST(l_tax AS DECIMAL(8,4)))), 6) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Exact count-distinct per group (dedup-adjacent; north-star). */
  def countDistinctAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_suppkey").as("n_supp"),
        countDistinct($"l_partkey").as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** approx_count_distinct (HLL++) — declared WITHOUT oracle (SURVEY.md
    * §2.5-4: sketch results are impl-specific); bounds property-tested in
    * AggSpec instead. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"))
      .orderBy($"l_returnflag")
  }

  /** ROLLUP: hierarchical subtotals (status → priority → grand total). */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.orders(spark, sfDir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(dec($"o_totalprice")), 6).cast("double").as("total"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  /** CUBE: all grouping-set combinations of the two flag columns. */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Sketch-based quantiles (approx_percentile — Greenwald-Khanna with
    * bounded accuracy=10000): the 100 TB path where an exact percentile's
    * per-group sort buffer is unaffordable; the sketch is mergeable
    * across partials like HLL/CMS. Declared rows-only (GK internals are
    * engine-specific); ApproxSpec pins |approx - exact| within the 1/acc
    * rank bound against q_agg_percentiles. */
  def approxPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        round(approx_percentile($"l_quantity", lit(0.25), lit(10000)), 6).as("p25"),
        round(approx_percentile($"l_quantity", lit(0.5), lit(10000)), 6).as("p50"),
        round(approx_percentile($"l_quantity", lit(0.75), lit(10000)), 6).as("p75"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** Exact interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`: linear interpolation between closest ranks). */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        round(percentile($"l_quantity", lit(0.25)), 6).as("p25"),
        round(percentile($"l_quantity", lit(0.5)), 6).as("p50"),
        round(percentile($"l_quantity", lit(0.75)), 6).as("p75"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** Statistical moments + bivariate stats. Rounding discipline: corr is
    * scale-free (round 6 safe); stddev/var/covar arguments are small
    * (quantity ≤ 50, discount ≤ 0.1) so double partial-sum noise sits far
    * below 1e-6 — covar against extendedprice (1e5-magnitude) would NOT
    * survive the hash-match and is deliberately avoided. */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        round(stddev_samp($"l_quantity"), 6).as("sd_qty"),
        round(var_samp($"l_quantity"), 6).as("var_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_discount"), 6).as("covar_qty_disc"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** Filtered aggregation: count_if / conditional sums (FILTER clause
    * semantics) — nulls from the unmatched branch are skipped by sum(). */
  def conditionalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.orders(spark, sfDir)
      .groupBy($"o_orderstatus")
      .agg(
        count_if($"o_totalprice" > 100000).as("n_big"),
        count_if($"o_totalprice" <= 100000).as("n_small"),
        coalesce(sum(when($"o_orderpriority".like("1%"), dec($"o_totalprice"))),
          lit(BigDecimal(0))).cast("double").as("sum_urgent"),
        count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")
  }

  /** max_by / min_by (argmax-style pick). Ordering value o_orderkey is
    * unique -> deterministic pick, no tiebreaker gymnastics needed. */
  def minmaxBy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.orders(spark, sfDir)
      .groupBy($"o_orderstatus")
      .agg(
        max_by($"o_orderpriority", $"o_orderkey").as("last_priority"),
        min_by($"o_orderpriority", $"o_orderkey").as("first_priority"),
        max($"o_orderkey").as("max_key"),
        min($"o_orderkey").as("min_key"))
      .orderBy($"o_orderstatus")
  }

  /** Set collection surfaced as a deterministic string: sorted distinct
    * members joined with ',' (array columns hash differently between
    * engines; a canonical string is oracle-stable). Nation names are
    * ASCII so binary sort order agrees between Spark and DuckDB. */
  def collectAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.nation(spark, sfDir)
      .groupBy($"n_regionkey")
      .agg(
        concat_ws(",", sort_array(collect_set($"n_name"))).as("names"),
        countDistinct($"n_name").as("n_nations"))
      .orderBy($"n_regionkey")
  }

  /** q_agg_histogram — 20 equal-width buckets over o_totalprice with the
    * min/max bounds computed in the SAME plan (broadcast 1-row agg, the
    * tfidf pattern — no driver round-trip, no second scan job). Bucket
    * arithmetic is two IEEE double ops in identical order on both
    * engines, so floor() agrees bit-for-bit; the max value clamps into
    * the last bucket with least(). */
  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nb = 20
    val orders = graft.Tables.orders(spark, sfDir)
    val bounds = broadcast(orders.agg(
      min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi")))
    orders.crossJoin(bounds)
      .withColumn("bucket",
        least(floor(($"o_totalprice" - $"lo") / ($"hi" - $"lo") * nb),
          lit(nb - 1)).cast("int"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"bucket")
  }

  /** q_agg_retention_cohorts — the classic cohort-retention triangle:
    * users grouped by first-activity day, retention(k) = the fraction
    * of a cohort still active k days later. Three aggregates over the
    * DISTINCT (user, day) activity frame — dedup, per-user min-day, the
    * (cohort, k) distinct count — plus a broadcast of the tiny k=0
    * cohort-size row back on. The activity dedup is the only
    * data-sized shuffle; the triangle itself is bounded by days² at
    * any scale. Fraction is an integer-ratio double rounded 6dp. */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val activity = graft.Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    // cohort via a user-partitioned min window, NOT a groupBy+self-join:
    // the join spelling scans events once per branch (4 scans with the
    // sizes reuse below); this reads it ONCE
    val withCohort = activity.withColumn("cohort_day",
      min($"day").over(Window.partitionBy($"user_id")))
    val grid = withCohort
      .groupBy($"cohort_day", datediff($"day", $"cohort_day").as("k"))
      .agg(count(lit(1)).as("n_users")) // (user, day) already distinct
      .localCheckpoint() // <= days^2 rows; reused by sizes AND output
    val sizes = grid.filter($"k" === 0)
      .select($"cohort_day", $"n_users".as("cohort_size"))
    grid.join(broadcast(sizes), Seq("cohort_day"))
      .select($"cohort_day", $"k", $"n_users",
        round($"n_users".cast("double") / $"cohort_size", 6)
          .as("retention"))
      .orderBy($"cohort_day", $"k")
  }

  /** q_agg_ab_test — two-proportion z-test (the standard experiment
    * readout): arms split deterministically on o_orderkey parity,
    * success = a high-value order (>200k), z computed from the pooled
    * rate. One aggregate pass builds all four counts FILTER-style; the
    * scalar algebra runs on a 1-row frame. Engine-portable because
    * every step is IEEE-exact on identical inputs: integer-ratio
    * divisions and a correctly-rounded sqrt (required by IEEE 754 —
    * unlike ln, which needs the rounded-term discipline elsewhere);
    * the 6dp rounds are display stability, not correctness. */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = graft.Tables.orders(spark, sfDir)
      .agg(
        count(when(pmod($"o_orderkey", lit(2)) === 0, 1)).as("n_a"),
        count(when(pmod($"o_orderkey", lit(2)) === 1, 1)).as("n_b"),
        count(when(pmod($"o_orderkey", lit(2)) === 0 &&
          $"o_totalprice" > 200000, 1)).as("c_a"),
        count(when(pmod($"o_orderkey", lit(2)) === 1 &&
          $"o_totalprice" > 200000, 1)).as("c_b"))
    counts
      .withColumn("p_a", $"c_a".cast("double") / $"n_a")
      .withColumn("p_b", $"c_b".cast("double") / $"n_b")
      .withColumn("p_pool",
        ($"c_a" + $"c_b").cast("double") / ($"n_a" + $"n_b"))
      .withColumn("z",
        ($"p_a" - $"p_b") /
          sqrt($"p_pool" * (lit(1.0) - $"p_pool") *
            (lit(1.0) / $"n_a" + lit(1.0) / $"n_b")))
      .select($"n_a", $"n_b", $"c_a", $"c_b",
        round($"p_a", 6).as("p_a"), round($"p_b", 6).as("p_b"),
        round($"z", 6).as("z"),
        (abs($"z") > 1.959964).cast("int").as("significant"))
  }

  /** q_agg_sample_estimate — Horvitz-Thompson estimation from a
    * deterministic 1/16 hash sample, read out AGAINST ground truth:
    * per returnflag, the exact count/quantity-sum next to the
    * sample-scaled estimate (x16) and the relative error. This is the
    * estimation-quality audit a 100 TB shop runs before trusting
    * sampled dashboards — the sample membership test is the shared
    * integer Knuth hash on (orderkey, linenumber) (id reduced mod
    * 1e9+7 first, the kfold overflow envelope), so the SAME rows are
    * in-sample on every engine and every run; at scale only the
    * sampled branch is cheap, and here both branches are ONE shared
    * scan feeding two conditional aggregates (no second pass).
    * Estimates stay exact BIGINT (x16 of integral quantities);
    * rel_err is the one rounded double. */
  def sampleEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val inSample =
      pmod(pmod($"l_orderkey", lit(1000000007L)) * 2654435761L +
        $"l_linenumber" * 1000003L, lit(16)) === 0
    graft.Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_quantity",
        inSample.cast("long").as("s"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("exact_n"),
        sum($"l_quantity".cast("long")).as("exact_qty"),
        (sum($"s") * 16L).as("est_n"),
        (sum(($"l_quantity".cast("long")) * $"s") * 16L).as("est_qty"))
      .select($"l_returnflag", $"exact_n", $"est_n",
        round(abs($"est_n" - $"exact_n").cast("double") /
          $"exact_n".cast("double"), 6).as("n_rel_err"),
        $"exact_qty", $"est_qty",
        round(abs($"est_qty" - $"exact_qty").cast("double") /
          $"exact_qty".cast("double"), 6).as("qty_rel_err"))
      .orderBy($"l_returnflag")
  }

  /** q_agg_weighted_median — EXACT weighted percentiles (p50/p90) of
    * line price weighted by quantity, per return flag: the weighted
    * order statistic percentile_approx cannot give exactly. Chosen
    * value = smallest price whose cumulative weight clears q·W, with
    * the threshold as a PURE INTEGER compare (2·cum ≥ W, 10·cum ≥ 9·W
    * — no float quantile anywhere).
    *
    * Scale: a per-flag running sum over all distinct prices would
    * sort each flag in ONE partition (3 partitions for the corpus —
    * the keyless-window trap). Instead the globalShuffle/pack_sequences
    * two-level decomposition: prices land in 64 fixed ranges, the
    * 3×64 per-(flag, bucket) totals frame computes prefix offsets
    * (bounded window), and the within-bucket running sum partitions
    * by (flag, bucket) — cum(x) = offset(bucket) + local_cum(x).
    * Equality with the single-window DuckDB twin proves the
    * decomposition IS the global weighted cumsum. */
  def weightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w2 = org.apache.spark.sql.expressions.Window
    val g = graft.Tables.lineitem(spark, sfDir)
      .select($"l_returnflag".as("f"), $"l_extendedprice".as("x"),
        $"l_quantity".cast("long").as("q"))
      .groupBy($"f", $"x").agg(sum($"q").as("w"))
      .withColumn("bkt", least(floor($"x" / 2048.0).cast("long"), lit(63L)))
    val offsets = g.groupBy($"f", $"bkt").agg(sum($"w").as("bw"))
      .withColumn("off", coalesce(sum($"bw").over(
        w2.partitionBy($"f").orderBy($"bkt")
          .rowsBetween(w2.unboundedPreceding, -1)), lit(0L)))
      .select($"f", $"bkt", $"off") // 3 x 64 bounded frame
    val cum = g.join(offsets, Seq("f", "bkt"))
      .withColumn("cw", $"off" + sum($"w").over(
        w2.partitionBy($"f", $"bkt").orderBy($"x")))
    val tot = g.groupBy($"f").agg(sum($"w").as("wtot"))
    cum.join(broadcast(tot), Seq("f"))
      .groupBy($"f", $"wtot")
      .agg(min(when($"cw" * 2L >= $"wtot", $"x")).as("w_median"),
        min(when($"cw" * 10L >= $"wtot" * 9L, $"x")).as("w_p90"))
      .select($"f".as("l_returnflag"), $"wtot".as("total_weight"),
        $"w_median", $"w_p90")
      .orderBy($"l_returnflag")
  }

  /** q_agg_ohlc — OHLC (open/high/low/close) daily resample of the
    * event value stream, the time-series bar aggregation every
    * monitoring/market pipeline runs: open/close are the values at
    * the (ts, event_id)-first/-last event of the day (the unique
    * tiebreak makes the pick deterministic — expressed as one
    * struct-min/max so no per-row window ever runs), high/low are
    * plain extrema, volume is the exact decimal sum. ONE partial-agg'd
    * groupBy(day): scale-free readout, no shuffle beyond the day
    * keys. */
  def ohlc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .select(to_date($"ts").as("day"), $"ts", $"event_id", $"value")
      .groupBy($"day")
      .agg(
        min(struct($"ts", $"event_id", $"value")).getField("value").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max(struct($"ts", $"event_id", $"value")).getField("value").as("close"),
        count(lit(1)).as("n_events"),
        dsum($"value").as("volume"))
      .orderBy($"day")
  }

  /** q_agg_ratio_delta_ci — delta-method confidence interval for a
    * RATIO metric (revenue per unit, Σy/Σx per flag): the analytic
    * companion to q_ml_bootstrap_ci's resampling — ratio metrics are
    * the common case (CTR, revenue/order, tokens/doc) where naive
    * per-row averaging is simply wrong and the variance needs the
    * covariance term: Var(R) ≈ (s_yy − 2R·s_xy + R²·s_xx)/(n·x̄²).
    * All six moments are EXACT decimal sums off one partial-agg'd
    * groupBy (one corpus pass, 3 result rows); the double formula is
    * evaluated in one mirrored operation order, outputs floored at
    * micro. z = 1.96 (normal 95%). */
  def ratioDeltaCi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val x = dec($"l_quantity")
    val y = dec($"l_extendedprice")
    val g = graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
    def micro(c: Column): Column = floor(c * 1e6).cast("long") / 1e6
    val r = $"sy".cast("double") / $"sx".cast("double")
    val xb = $"sx".cast("double") / $"n"
    def cov(sab: Column, sa: Column, sb: Column): Column =
      (sab.cast("double") - sa.cast("double") * sb.cast("double") / $"n") /
        ($"n" - 1)
    val se = sqrt((cov($"syy", $"sy", $"sy") -
      lit(2.0) * r * cov($"sxy", $"sx", $"sy") +
      r * r * cov($"sxx", $"sx", $"sx")) / ($"n" * xb * xb))
    // degenerate guard: a 1-row group zeroes the covariance (n−1)
    // denominator → 0/0; the ratio itself stays defined. Lazily
    // gated (ANSI throws on double x/0), CASE-mirrored in the twin.
    g.select($"l_returnflag", $"n",
        micro(r).as("ratio"),
        when($"n" > 1L, micro(se)).as("se"),
        when($"n" > 1L, micro(r - lit(1.96) * se)).as("ci_lo"),
        when($"n" > 1L, micro(r + lit(1.96) * se)).as("ci_hi"))
      .orderBy($"l_returnflag")
  }

  /** q_agg_ols_fit — per-group ordinary-least-squares fit
    * (extendedprice ~ quantity per return flag): slope, intercept, and
    * R², the one-pass regression every metrics warehouse exposes as
    * regr_slope/regr_r2 — reimplemented from the SAME six exact
    * decimal moments as [[ratioDeltaCi]] (closed-form normal
    * equations) rather than the engines' builtins, whose summation
    * orders differ; the double formulas are evaluated in one mirrored
    * operation order and floored at micro. One partial-agg'd corpus
    * pass, 3 result rows. */
  def olsFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val x = dec($"l_quantity")
    val y = dec($"l_extendedprice")
    val g = graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
    def micro(c: Column): Column = floor(c * 1e6).cast("long") / 1e6
    // centered second moments, one canonical op order on both engines
    val vxx = $"sxx".cast("double") -
      $"sx".cast("double") * $"sx".cast("double") / $"n"
    val vyy = $"syy".cast("double") -
      $"sy".cast("double") * $"sy".cast("double") / $"n"
    val vxy = $"sxy".cast("double") -
      $"sx".cast("double") * $"sy".cast("double") / $"n"
    val slope = vxy / vxx
    val intercept = ($"sy".cast("double") - slope * $"sx".cast("double")) / $"n"
    val r2 = vxy * vxy / (vxx * vyy)
    // degenerate guard: a constant-x group (every line the same
    // quantity) zeroes vxx → 0/0; lazily gated, CASE-mirrored
    g.select($"l_returnflag", $"n",
        when(vxx > 0.0, micro(slope)).as("slope"),
        when(vxx > 0.0, micro(intercept)).as("intercept"),
        when(vxx > 0.0 && vyy > 0.0, micro(r2)).as("r2"))
      .orderBy($"l_returnflag")
  }

  /** q_agg_theil_sen — Theil–Sen estimator (Theil 1950, Sen 1968) of
    * the daily-revenue trend: the MEDIAN of all pairwise slopes
    * (rev_j − rev_i)/(day_j − day_i), the robust companion to
    * [[olsFit]] — a single outlier day moves OLS arbitrarily but
    * shifts a median of ~n²/2 slopes by one order statistic.
    * Numerics: revenue in exact integer cents; each pairwise slope is
    * ONE double division round(Δcents/(Δdays·100),6)::DECIMAL(18,6)
    * (dollars/day, identical operation order in the twin); the median
    * is the mean of the slope VALUES at the two middle ranks of the
    * multiset (ties need no row tiebreak — the value at a fixed rank
    * is permutation-invariant), summed as exact DECIMAL and divided
    * once, micro-floored.
    *
    * Scale: the pair frame is the bounded-day-domain self-join
    * (|days|² grows with the calendar, not the corpus — the
    * mann_kendall rationale), but even calendar-bounded it is ~3M
    * rows at a 6½-year span, so NO global sort or keyless window ever
    * sees it: distributed SELECTION with sign(m)·⌊√|m|⌋ buckets —
    * sqrt is IEEE-correctly-rounded in both engines (the
    * temperatureMix bridge), the transform is monotone so bucket
    * order = value order, and its width grows with |m|, which makes
    * the dense-near-zero slope mass land in FINE buckets. Pass 1 is a
    * map-side-combined bucket count (3M rows → ≤2·√max|m| cells);
    * the bucket cumsum locates which 1-2 buckets hold the middle
    * ranks; pass 2 ranks INSIDE those buckets only. (Measured at
    * sf0.1: plain global rank window 7.4 s → full-frame per-bucket
    * window 4.8-6.9 s → this two-pass selection is the one that
    * actually removes the 3M-row sort from the plan.) */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w2 = org.apache.spark.sql.expressions.Window
    val daily = graft.Tables.orders(spark, sfDir)
      .select(to_date($"o_orderdate").as("day"),
        (dec($"o_totalprice") * 100).cast("long").as("cents"))
      .groupBy($"day").agg(sum($"cents").as("rev"))
      .localCheckpoint() // bounded day domain; feeds both join legs
    val a = daily.select($"day".as("d1"), $"rev".as("r1"))
    val b = daily.select($"day".as("d2"), $"rev".as("r2"))
    // greatest(·,1): InferFiltersFromConstraints derives isnotnull(bkt)
    // from the downstream equi-join and evaluates it INSIDE the BNLJ
    // condition, i.e. on d1==d2 diagonal pairs the d1<d2 conjunct has
    // not yet excluded — an unguarded datediff hits ANSI
    // DIVIDE_BY_ZERO there. No surviving row has datediff < 1, so the
    // guard never changes a value (the oracle needs none: DuckDB
    // applies the join condition first).
    val slopes = a.join(b, $"d1" < $"d2") // bounded |days|² pair frame
      .select(round(($"r2" - $"r1").cast("double") /
          (greatest(datediff($"d2", $"d1"), lit(1)).cast("double") * 100.0),
          6).cast("decimal(18,6)").as("m"))
      .withColumn("bkt", (signum($"m".cast("double")) *
        floor(sqrt(abs($"m".cast("double"))))).cast("long"))
      // checkpointed: the per-pair projection (round + decimal cast +
      // sqrt bucket) is the expensive part — measured 10 s when both
      // passes replay it vs 3.8 s materializing (m, bkt) once
      .localCheckpoint()
    val bcum = slopes.groupBy($"bkt").agg(count(lit(1)).as("bw"))
      .withColumn("off", coalesce(sum($"bw").over(
        w2.orderBy($"bkt").rowsBetween(w2.unboundedPreceding, -1)),
        lit(0L))) // cumsum over the ≤2·√max|m| bounded bucket frame
      .localCheckpoint() // tiny; feeds total + target filter
    val tot = bcum.agg(sum($"bw").as("n_pairs")) // 1 row
      .withColumn("k1", expr("(n_pairs + 1L) div 2L"))
      .withColumn("k2", expr("n_pairs div 2L + 1L"))
    // the 1-2 buckets whose rank interval (off, off+bw] covers a
    // middle rank; everything outside them is never ranked at all
    val targets = bcum.crossJoin(broadcast(tot))
      .filter(($"off" < $"k1" && $"off" + $"bw" >= $"k1") ||
        ($"off" < $"k2" && $"off" + $"bw" >= $"k2"))
      .select($"bkt", $"off")
    val nd = daily.agg(count(lit(1)).as("n_days"))
    def micro(c: Column): Column = floor(c * 1e6).cast("long") / 1e6
    slopes.join(broadcast(targets), Seq("bkt")) // middle buckets only
      .withColumn("cw", $"off" + row_number().over(
        w2.partitionBy($"bkt").orderBy($"m")))
      .crossJoin(broadcast(tot))
      .agg(first($"n_pairs").as("n_pairs"),
        min(when($"cw" === $"k1", $"m")).as("s1"),
        min(when($"cw" === $"k2", $"m")).as("s2"))
      .crossJoin(broadcast(nd)) // two 1-row frames
      .select($"n_days", $"n_pairs",
        micro(($"s1" + $"s2").cast("double") / 2.0).as("sen_slope"))
  }

  /** q_agg_hill_tail — Hill estimator (Hill, Ann. Stat. 1975) of the
    * order-value tail index over the top k=100 order statistics:
    * γ̂ = (1/k)·Σ_{i≤k} ln(x_(i)/x_(k+1)), α̂ = 1/γ̂ — the
    * heavy-tail diagnostic (is total order value dominated by whales?)
    * read before trusting mean-based revenue projections, and the
    * numeric cousin of zipfFit's rank-frequency exponent. Numerics:
    * prices in exact integer cents; each term is
    * round(ln(cents/cents_{k+1}),6)::DECIMAL(18,6) with the division
    * inside the ln done in double in the SAME order both engines use;
    * exact DECIMAL sum, ONE micro-floored division per readout.
    *
    * Scale: the ONLY corpus-sized structure is the global top-(k+1)
    * heap — orderBy+limit plans as TakeOrderedAndProject (the
    * zipf/dsir discipline), so no keyless window ever sees corpus
    * rows; the rank window runs over the 101-row cut and the x_(k+1)
    * pivot joins back as a broadcast 1-row frame. */
  def hillTail(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 100
    val top = graft.Tables.orders(spark, sfDir)
      .select($"o_orderkey",
        (dec($"o_totalprice") * 100).cast("long").as("cents"))
      .orderBy($"cents".desc, $"o_orderkey".asc).limit(k + 1) // top-k heap
    val ranked = top.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy($"cents".desc, $"o_orderkey".asc))) // ≤ k+1 rows
    val pivot = ranked.filter($"rk" === k + 1)
      .select($"cents".as("ck1")) // 1 row
    def micro(c: Column): Column = floor(c * 1e6).cast("long") / 1e6
    ranked.filter($"rk" <= k).crossJoin(broadcast(pivot))
      .select(round(log($"cents".cast("double") / $"ck1".cast("double")), 6)
        .cast("decimal(18,6)").as("term"), $"ck1")
      .agg(lit(k).cast("long").as("k"),
        first($"ck1").as("x_k1_cents"),
        micro(sum($"term").cast("double") / k).as("gamma"),
        // r13 advisory: on degenerate corpora (all top-101 prices
        // equal → Σterm = 0; <101 orders → Σterm NULL) the alpha
        // division emitted Infinity/NaN here while DuckDB errored on
        // CAST(floor(inf) AS BIGINT) — engine-divergent. NULL alpha is
        // the honest readout (no tail to estimate), mirrored by the
        // same CASE guard in the oracle (the cramersV r12 pattern).
        micro(when(sum($"term") > 0,
          lit(k).cast("double") / sum($"term").cast("double")))
          .as("alpha"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_theil_sen" -> (theilSen _),
    "q_agg_hill_tail" -> (hillTail _),
    "q_agg_ols_fit" -> (olsFit _),
    "q_agg_ratio_delta_ci" -> (ratioDeltaCi _),
    "q_agg_ohlc" -> (ohlc _),
    "q_agg_weighted_median" -> (weightedMedian _),
    "q_agg_sample_estimate" -> (sampleEstimate _),
    "q_agg_ab_test" -> (abTest _),
    "q_agg_retention_cohorts" -> (retentionCohorts _),
    "q_agg_histogram" -> (histogram _),
    "q_agg_stats" -> (statsAgg _),
    "q_agg_conditional" -> (conditionalAgg _),
    "q_agg_minmax_by" -> (minmaxBy _),
    "q_agg_collect" -> (collectAgg _),
    "q_agg_percentiles" -> (percentiles _),
    "q_agg_approx_percentiles" -> (approxPercentiles _),
    "q_agg_pricing_summary" -> (pricingSummary _),
    "q_agg_count_distinct" -> (countDistinctAgg _),
    "q_agg_approx_distinct" -> (approxDistinct _),
    "q_agg_rollup" -> (rollupAgg _),
    "q_agg_cube" -> (cubeAgg _)
  )

  def oracle: Map[String, String] = Map(
    "q_agg_theil_sen" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |sl AS (
        |  SELECT a.day AS d1, b.day AS d2,
        |    CAST(round(CAST(b.rev - a.rev AS DOUBLE) /
        |      (CAST(date_diff('day', a.day, b.day) AS DOUBLE) * 100.0), 6)
        |      AS DECIMAL(18,6)) AS m
        |  FROM d a JOIN d b ON a.day < b.day),
        |rk AS (
        |  SELECT m, row_number() OVER (ORDER BY m, d1, d2) AS rk FROM sl),
        |np AS (SELECT COUNT(*) AS n_pairs FROM sl),
        |nd AS (SELECT COUNT(*) AS n_days FROM d),
        |med AS (
        |  SELECT MAX(n_pairs) AS n_pairs,
        |    CAST(floor(CAST(SUM(m) AS DOUBLE) / COUNT(*) * 1e6) AS BIGINT)
        |      / 1e6 AS sen_slope
        |  FROM rk CROSS JOIN np
        |  WHERE rk = (n_pairs + 1) // 2 OR rk = n_pairs // 2 + 1)
        |SELECT n_days, n_pairs, sen_slope FROM med CROSS JOIN nd""".stripMargin,
    "q_agg_hill_tail" ->
      """WITH top AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders ORDER BY cents DESC, o_orderkey ASC LIMIT 101),
        |rk AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents DESC, o_orderkey ASC) AS rk
        |  FROM top),
        |pv AS (SELECT cents AS ck1 FROM rk WHERE rk = 101)
        |SELECT CAST(100 AS BIGINT) AS k, MAX(ck1) AS x_k1_cents,
        |  CAST(floor(CAST(SUM(CAST(round(ln(CAST(cents AS DOUBLE) /
        |      CAST(ck1 AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    / 100 * 1e6) AS BIGINT) / 1e6 AS gamma,
        |  CASE WHEN SUM(CAST(round(ln(CAST(cents AS DOUBLE) /
        |      CAST(ck1 AS DOUBLE)), 6) AS DECIMAL(18,6))) > 0 THEN
        |    CAST(floor(CAST(100 AS DOUBLE) /
        |      CAST(SUM(CAST(round(ln(CAST(cents AS DOUBLE) /
        |        CAST(ck1 AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      * 1e6) AS BIGINT) / 1e6 END AS alpha
        |FROM rk CROSS JOIN pv WHERE rk <= 100""".stripMargin,
    "q_agg_ols_fit" ->
      """WITH g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(14,2))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(14,2)) *
        |        CAST(l_quantity AS DECIMAL(14,2))) AS sxx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(14,2)) *
        |        CAST(l_extendedprice AS DECIMAL(14,2))) AS syy,
        |    SUM(CAST(l_quantity AS DECIMAL(14,2)) *
        |        CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n
        |      AS vxx,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n
        |      AS vyy,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n
        |      AS vxy
        |  FROM g),
        |s AS (
        |  SELECT l_returnflag, n,
        |    CASE WHEN vxx > 0.0 THEN vxy / vxx END AS slope,
        |    CASE WHEN vxx > 0.0 THEN
        |      (CAST(sy AS DOUBLE) - (vxy / vxx) * CAST(sx AS DOUBLE)) / n
        |    END AS intercept,
        |    CASE WHEN vxx > 0.0 AND vyy > 0.0 THEN
        |      vxy * vxy / (vxx * vyy) END AS r2
        |  FROM d)
        |SELECT l_returnflag, n,
        |  CAST(floor(slope * 1e6) AS BIGINT) / 1e6 AS slope,
        |  CAST(floor(intercept * 1e6) AS BIGINT) / 1e6 AS intercept,
        |  CAST(floor(r2 * 1e6) AS BIGINT) / 1e6 AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_agg_ratio_delta_ci" ->
      """WITH g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(14,2))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(14,2)) *
        |        CAST(l_quantity AS DECIMAL(14,2))) AS sxx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(14,2)) *
        |        CAST(l_extendedprice AS DECIMAL(14,2))) AS syy,
        |    SUM(CAST(l_quantity AS DECIMAL(14,2)) *
        |        CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy
        |  FROM lineitem GROUP BY 1),
        |d AS (
        |  SELECT l_returnflag, n,
        |    CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
        |    CAST(sx AS DOUBLE) / n AS xb,
        |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n)
        |      / (n - 1) AS cyy,
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
        |      / (n - 1) AS cxy,
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n)
        |      / (n - 1) AS cxx
        |  FROM g),
        |s AS (
        |  SELECT l_returnflag, n, r,
        |    CASE WHEN n > 1 THEN
        |      sqrt((cyy - 2.0*r*cxy + r*r*cxx) / (n * xb * xb))
        |    END AS se
        |  FROM d)
        |SELECT l_returnflag, n,
        |  CAST(floor(r * 1e6) AS BIGINT) / 1e6 AS ratio,
        |  CAST(floor(se * 1e6) AS BIGINT) / 1e6 AS se,
        |  CAST(floor((r - 1.96*se) * 1e6) AS BIGINT) / 1e6 AS ci_lo,
        |  CAST(floor((r + 1.96*se) * 1e6) AS BIGINT) / 1e6 AS ci_hi
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_agg_ohlc" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT day, value,
        |    ROW_NUMBER() OVER (PARTITION BY day
        |      ORDER BY ts, event_id) AS rka,
        |    ROW_NUMBER() OVER (PARTITION BY day
        |      ORDER BY ts DESC, event_id DESC) AS rkz
        |  FROM e)
        |SELECT day,
        |  MAX(CASE WHEN rka = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rkz = 1 THEN value END) AS close,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS volume
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    // single-window twin of the two-level weighted cumsum (the
    // decomposition-proving equality; see weightedMedian scaladoc)
    "q_agg_weighted_median" ->
      """WITH g AS (
        |  SELECT l_returnflag AS f, l_extendedprice AS x,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT f, x, w,
        |    SUM(w) OVER (PARTITION BY f ORDER BY x) AS cw
        |  FROM g),
        |t AS (SELECT f, CAST(SUM(w) AS BIGINT) AS wtot FROM g GROUP BY 1)
        |SELECT c.f AS l_returnflag, t.wtot AS total_weight,
        |  MIN(CASE WHEN 2 * cw >= wtot THEN x END) AS w_median,
        |  MIN(CASE WHEN 10 * cw >= 9 * wtot THEN x END) AS w_p90
        |FROM c JOIN t ON c.f = t.f
        |GROUP BY c.f, t.wtot ORDER BY l_returnflag""".stripMargin,
    "q_agg_sample_estimate" ->
      """WITH t AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    CASE WHEN ((l_orderkey % 1000000007) * 2654435761
        |               + l_linenumber * 1000003) % 16 = 0
        |         THEN 1 ELSE 0 END AS s
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  COUNT(*) AS exact_n,
        |  CAST(SUM(s) * 16 AS BIGINT) AS est_n,
        |  round(CAST(abs(SUM(s) * 16 - COUNT(*)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS n_rel_err,
        |  CAST(SUM(qty) AS BIGINT) AS exact_qty,
        |  CAST(SUM(qty * s) * 16 AS BIGINT) AS est_qty,
        |  round(CAST(abs(SUM(qty * s) * 16 - SUM(qty)) AS DOUBLE)
        |    / CAST(SUM(qty) AS DOUBLE), 6) AS qty_rel_err
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_ab_test" ->
      """WITH c AS (
        |  SELECT
        |    COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS n_a,
        |    COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) AS n_b,
        |    COUNT(*) FILTER (WHERE o_orderkey % 2 = 0
        |                     AND o_totalprice > 200000) AS c_a,
        |    COUNT(*) FILTER (WHERE o_orderkey % 2 = 1
        |                     AND o_totalprice > 200000) AS c_b
        |  FROM orders),
        |s AS (
        |  SELECT *,
        |    CAST(c_a AS DOUBLE) / n_a AS pa,
        |    CAST(c_b AS DOUBLE) / n_b AS pb,
        |    CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pp
        |  FROM c)
        |SELECT n_a, n_b, c_a, c_b,
        |  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |  round((pa - pb) / sqrt(pp * (1.0 - pp)
        |        * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
        |  CASE WHEN abs((pa - pb) / sqrt(pp * (1.0 - pp)
        |       * (1.0 / n_a + 1.0 / n_b))) > 1.959964
        |       THEN 1 ELSE 0 END AS significant
        |FROM s""".stripMargin,
    "q_agg_retention_cohorts" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (
        |  SELECT user_id, min(day) AS cohort_day FROM activity
        |  GROUP BY user_id),
        |grid AS (
        |  SELECT cohort_day, date_diff('day', cohort_day, day) AS k,
        |         COUNT(*) AS n_users
        |  FROM activity JOIN first USING (user_id)
        |  GROUP BY 1, 2),
        |sizes AS (
        |  SELECT cohort_day, n_users AS cohort_size FROM grid WHERE k = 0)
        |SELECT g.cohort_day, CAST(k AS INT) AS k, n_users,
        |  round(CAST(n_users AS DOUBLE) / cohort_size, 6) AS retention
        |FROM grid g JOIN sizes s ON g.cohort_day = s.cohort_day
        |ORDER BY g.cohort_day, k""".stripMargin,
    "q_agg_histogram" ->
      """WITH bounds AS (
        |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |  FROM orders)
        |SELECT CAST(least(floor((o_totalprice - lo) / (hi - lo) * 20), 19)
        |         AS INTEGER) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders CROSS JOIN bounds
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_conditional" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        |  COUNT(*) FILTER (WHERE o_totalprice <= 100000) AS n_small,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
        |    FILTER (WHERE o_orderpriority LIKE '1%'), 0) AS DOUBLE) AS sum_urgent,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_agg_minmax_by" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderpriority, o_orderkey) AS last_priority,
        |  arg_min(o_orderpriority, o_orderkey) AS first_priority,
        |  max(o_orderkey) AS max_key, min(o_orderkey) AS min_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_agg_collect" ->
      """SELECT n_regionkey,
        |  array_to_string(list_sort(list(DISTINCT n_name)), ',') AS names,
        |  COUNT(DISTINCT n_name) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q_agg_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_pricing_summary" -> pricingSummaryOracle,
    "q_agg_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 6) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
