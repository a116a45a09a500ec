package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.AggOps.micro

/** Data-quality constraint auditing — the "production-ready" layer every
  * scheduled pipeline needs before publishing a table (the reference's
  * whole premise; its Clean tasks are trust boundaries between stages).
  * Each check is one aggregate/anti-join over the audited table; the
  * result is a tiny (check_name, violations) report, so the audit costs
  * one pass per table regardless of scale and the checks compose into
  * the task DAG as a gate (fail the run iff any violations > 0).
  */
object QualityOps extends graft.QueryModule {

  def constraintAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = graft.Tables.orders(spark, sfDir)
    val customer = graft.Tables.customer(spark, sfDir)
    val lineitem = graft.Tables.lineitem(spark, sfDir)
    // an ungrouped count() always yields exactly one non-null row
    def report(name: String, violations: DataFrame): DataFrame =
      violations.select(lit(name).as("check_name"), $"violations")
    val nullKey = report("orders_null_key",
      orders.agg(count(when($"o_orderkey".isNull, 1)).as("violations")))
    val dupKey = report("orders_dup_key",
      orders.groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
        .filter($"n" > 1).agg(count(lit(1)).as("violations")))
    val orphanCust = report("orders_orphan_custkey",
      orders.join(customer, $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("violations")))
    val orphanOrder = report("lineitem_orphan_orderkey",
      lineitem.join(orders, $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("violations")))
    val negPrice = report("orders_negative_price",
      orders.agg(count(when($"o_totalprice" < 0, 1)).as("violations")))
    nullKey.unionByName(dupKey).unionByName(orphanCust)
      .unionByName(orphanOrder).unionByName(negPrice)
      .orderBy($"check_name")
  }

  /** q_quality_k_anonymity — re-identification audit (Sweeney's
    * k-anonymity, IJUFKS 2002) over the events table: group by the
    * quasi-identifier (event_type, day, value decile band) and flag
    * every group observed for FEWER than k=5 distinct users — rows in
    * those groups are re-identifiable by their quasi-identifier alone
    * and must be suppressed or generalized before the table is shared
    * as training data. One partial-agg'd groupBy; the distinct-user
    * count two-phases on (qid, user_id). The report is the VIOLATION
    * set (small by construction at any scale); the gate is rows == 0. */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"),
        floor($"value" / 10).cast("long").as("value_band"))
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_rows"))
      .filter($"n_users" < 5)
      .orderBy($"event_type", $"day", $"value_band")
  }

  /** q_quality_outlier_iqr — Tukey-fence outlier audit (EDA, Tukey
    * 1977) on events.value per event_type: values beyond 1.5×IQR of
    * their group are flagged and summarized. Two passes over events:
    * one partial-agg'd percentile per group, then a BROADCAST of the
    * tiny per-group fence table back onto the scan (groups are bounded
    * by the event-type vocabulary, never by data volume, so the
    * broadcast is safe at 100 TB). Fences are rounded to 6dp in both
    * engines before comparing so the interpolated quartile is
    * bit-identical across Spark and DuckDB. */
  def outlierIqr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
    val fences = ev.groupBy($"event_type").agg(
      round(percentile($"value", lit(0.25)), 6).as("q1"),
      round(percentile($"value", lit(0.75)), 6).as("q3"))
    val lo = $"q1" - lit(1.5) * ($"q3" - $"q1")
    val hi = $"q3" + lit(1.5) * ($"q3" - $"q1")
    ev.join(broadcast(fences), "event_type")
      .filter($"value" < lo || $"value" > hi)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_outliers"),
        round(min($"value"), 2).as("min_out"),
        round(max($"value"), 2).as("max_out"))
      .orderBy($"event_type")
  }

  /** q_quality_profile — Deequ-style column profiling (Schelter et al.,
    * VLDB'18 "Automating large-scale data quality verification"): one
    * aggregate pass computes completeness + exact distinct per column
    * and numeric stats where they apply, unpivoted to the long
    * (column, metric, value) report a metadata store ingests. ONE job
    * over the table regardless of column count (all metrics ride one
    * groupBy-less agg; distincts are the only shuffle-bearing terms —
    * at 100 TB swap them to approx_count_distinct without changing the
    * report shape). */
  def profile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = graft.Tables.orders(spark, sfDir)
    val n = count(lit(1)).cast("double")
    def compl(c: String) =
      round(count(col(c)).cast("double") / n, 6)
    val agg = o.agg(
      compl("o_orderkey").as("c_o_orderkey"),
      compl("o_custkey").as("c_o_custkey"),
      compl("o_orderstatus").as("c_o_orderstatus"),
      compl("o_totalprice").as("c_o_totalprice"),
      compl("o_orderpriority").as("c_o_orderpriority"),
      countDistinct($"o_orderkey").cast("double").as("d_o_orderkey"),
      countDistinct($"o_custkey").cast("double").as("d_o_custkey"),
      countDistinct($"o_orderstatus").cast("double").as("d_o_orderstatus"),
      countDistinct($"o_totalprice").cast("double").as("d_o_totalprice"),
      countDistinct($"o_orderpriority").cast("double")
        .as("d_o_orderpriority"),
      round(min($"o_totalprice"), 6).as("min_price"),
      round(max($"o_totalprice"), 6).as("max_price"),
      (round(sum(AggOps.dec($"o_totalprice")), 6).cast("double") /
        count($"o_totalprice").cast("double")).as("mean_price"))
    agg.select(expr(
      """stack(13,
        |'o_orderkey','completeness',c_o_orderkey,
        |'o_custkey','completeness',c_o_custkey,
        |'o_orderstatus','completeness',c_o_orderstatus,
        |'o_totalprice','completeness',c_o_totalprice,
        |'o_orderpriority','completeness',c_o_orderpriority,
        |'o_orderkey','n_distinct',d_o_orderkey,
        |'o_custkey','n_distinct',d_o_custkey,
        |'o_orderstatus','n_distinct',d_o_orderstatus,
        |'o_totalprice','n_distinct',d_o_totalprice,
        |'o_orderpriority','n_distinct',d_o_orderpriority,
        |'o_totalprice','min',min_price,
        |'o_totalprice','max',max_price,
        |'o_totalprice','mean',round(mean_price, 6)
        |) AS (column_name, metric, value)""".stripMargin))
      .orderBy($"column_name", $"metric")
  }

  /** q_quality_psi_drift — population-stability-index drift monitor on
    * events.value: decile edges come from the REFERENCE slice (even
    * days), both slices histogram against those fixed edges, and
    * PSI = Σ (q-p)·ln(q/p) accumulates per bucket — the standard
    * deployed-model input-drift gate (PSI < 0.1 stable, > 0.25 act).
    * Two passes (edge percentiles on the reference, then one bucketed
    * count of everything with the 9-edge row broadcast); the ln terms
    * are rounded 6dp before the decimal-exact sum, the
    * unigram-logprob portability discipline, and frequencies carry a
    * 1e-4 floor so an empty bucket cannot NaN the index. */
  def psiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
      .withColumn("slice", pmod(dayofmonth($"ts"), lit(2)))
    val refSide = ev.filter($"slice" === 0)
    val edgeCols = (1 to 9).map(i =>
      round(percentile($"value", lit(i / 10.0)), 6).as(s"e$i"))
    val edges = refSide.agg(edgeCols.head, edgeCols.tail: _*)
    val bucket = (1 to 9).map(i => ($"value" > col(s"e$i")).cast("int"))
      .reduce(_ + _)
    val counts = ev.crossJoin(broadcast(edges))
      .withColumn("bucket", bucket)
      .groupBy($"bucket")
      .agg(count(when($"slice" === 0, 1)).as("n_ref"),
        count(when($"slice" === 1, 1)).as("n_cur"))
      .localCheckpoint() // 10 rows; reused by the totals AND the output
    val tot = counts.agg(sum($"n_ref").as("t_ref"), sum($"n_cur").as("t_cur"))
    counts.crossJoin(broadcast(tot))
      .select($"bucket",
        round(greatest($"n_ref".cast("double") / $"t_ref", lit(0.0001)), 6)
          .as("p_frac"),
        round(greatest($"n_cur".cast("double") / $"t_cur", lit(0.0001)), 6)
          .as("q_frac"))
      .withColumn("psi_term",
        round(($"q_frac" - $"p_frac") * round(log($"q_frac" / $"p_frac"), 6),
          6))
      .orderBy($"bucket")
  }

  /** q_quality_benford — Benford first-digit audit (Benford 1938;
    * Nigrini's fraud-screening use): the observed first-digit
    * distribution of o_totalprice vs the log10(1+1/d) expectation,
    * with per-digit chi-square contributions. The Benford constants
    * are 6dp LITERALS baked into both engines — no runtime log, so
    * the only portability surface is integer-ratio division. One
    * groupBy over a 9-value key; the report is 9 rows at any scale.
    * (TPC-H-ish synthetic prices are roughly uniform, so the audit
    * correctly reports large deviations — the operator's job is the
    * report, not a verdict.) */
  def benford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // log10(1 + 1/d), d = 1..9, rounded to 6dp
    val expFrac = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    // Benford applies to magnitudes >= 1: NULLs and |x| < 1 are excluded
    // in BOTH engines (digit 0 would also crash element_at — arrays are
    // 1-indexed), and the digit comes from abs() so negatives audit too
    val byDigit = graft.Tables.orders(spark, sfDir)
      .filter($"o_totalprice".isNotNull && abs($"o_totalprice") >= 1)
      .select(substring(floor(abs($"o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
      .localCheckpoint() // 9 rows; total derives from it, no second scan
    val n = byDigit.agg(sum($"n_obs").as("n_total"))
    byDigit
      .crossJoin(broadcast(n))
      .withColumn("exp_frac",
        element_at(array(expFrac.map(lit): _*), $"digit"))
      .select($"digit", $"n_obs",
        round($"n_obs".cast("double") / $"n_total", 6).as("obs_frac"),
        $"exp_frac",
        round(
          ($"n_obs".cast("double") - $"exp_frac" * $"n_total") *
            ($"n_obs".cast("double") - $"exp_frac" * $"n_total") /
            ($"exp_frac" * $"n_total"), 6).as("chi2_term"))
      .orderBy($"digit")
  }

  /** q_quality_mad — median-absolute-deviation dispersion + robust
    * outliers per event_type (Hampel's 3-sigma-equivalent: |x - med| >
    * 3 * 1.4826 * MAD; the estimator a single wild value cannot drag,
    * unlike stddev — the reason monitoring pipelines prefer it). Two
    * percentile passes (median, then median of absolute deviations
    * against the broadcast medians) + one counting pass over the same
    * broadcast — group count is vocabulary-bounded throughout. Median
    * and MAD round 6dp before the fence compare, the IQR-audit
    * portability discipline. */
  def madDispersion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
    val med = ev.groupBy($"event_type")
      .agg(round(percentile($"value", lit(0.5)), 6).as("med"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .groupBy($"event_type", $"med")
      .agg(round(percentile(abs($"value" - $"med"), lit(0.5)), 6)
        .as("mad"))
    ev.join(broadcast(mad), Seq("event_type"))
      .groupBy($"event_type", $"med", $"mad")
      .agg(count(lit(1)).as("n"),
        count(when(abs($"value" - $"med") > lit(4.4478) * $"mad", 1))
          .as("n_robust_outliers"))
      .select($"event_type", $"n", $"med", $"mad", $"n_robust_outliers")
      .orderBy($"event_type")
  }

  /** q_quality_label_agreement — Cohen's kappa between two independent
    * weak labelers, the QA readout a labeling/filtering pipeline ships
    * before trusting its rules (Cohen 1960; the standard
    * inter-annotator-agreement statistic): labeler A keeps docs by
    * length (n_chars in [100, 500]), labeler B by whitespace-token
    * count (in [20, 90]) — two genuinely different gates that mostly
    * agree, which is exactly when kappa (chance-corrected) is the
    * honest number and raw accuracy is not. ONE aggregation pass over
    * the corpus to the 2×2 confusion cells; kappa is computed in the
    * all-integer form kappa = (n·(n11+n00) − pe_num) /
    * (n² − pe_num) with pe_num = (n11+n10)(n11+n01) +
    * (n00+n01)(n00+n10), one double division at the end — engine-exact.
    * n² outgrows int64 past n ≈ 3·10⁹ docs; the escape is the same
    * arithmetic in DECIMAL(38,0) (the evalMetricsSql precedent). */
  def labelAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val labeled = graft.Tables.documents(spark, sfDir).select(
      when($"n_chars".between(100, 500), 1L).otherwise(0L).as("a"),
      when(size(split($"text", " ")).between(20, 90), 1L)
        .otherwise(0L).as("b"))
    labeled.agg(
        count(lit(1)).as("n"),
        sum(when($"a" === 1 && $"b" === 1, 1L).otherwise(0L)).as("n11"),
        sum(when($"a" === 1 && $"b" === 0, 1L).otherwise(0L)).as("n10"),
        sum(when($"a" === 0 && $"b" === 1, 1L).otherwise(0L)).as("n01"),
        sum(when($"a" === 0 && $"b" === 0, 1L).otherwise(0L)).as("n00"))
      .withColumn("pe_num",
        ($"n11" + $"n10") * ($"n11" + $"n01") +
          ($"n00" + $"n01") * ($"n00" + $"n10"))
      .select($"n", $"n11", $"n10", $"n01", $"n00",
        round(($"n11" + $"n00").cast("double") / $"n".cast("double"), 6)
          .as("po"),
        round($"pe_num".cast("double") / ($"n" * $"n").cast("double"), 6)
          .as("pe"),
        round(($"n" * ($"n11" + $"n00") - $"pe_num").cast("double") /
          ($"n" * $"n" - $"pe_num").cast("double"), 6).as("kappa"))
  }

  /** q_quality_dataset_card — the per-source "datasheet" readout
    * (Datasheets for Datasets, Gebru et al. CACM'21: composition
    * stats a corpus release documents): doc count, char volume, mean
    * length, language count, and language-mix Shannon entropy per
    * source. Entropy discipline: each −p·ln p term is rounded to 6dp
    * and summed as DECIMAL(18,6) — decimal summation is
    * order-independent, so 1000-way partials can't wiggle the entropy
    * the way a raw double sum could (the norm_stats precedent); ln on
    * an exact-rational p is the one platform-sensitive op, tamed by
    * the per-term round. Two partial-agg'd groupBys ((source, lang)
    * then source) — the (source, lang) frame is bounded by the
    * vocabulary of the catalog, not the corpus. */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sl = graft.Tables.documents(spark, sfDir)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_sl"), sum($"n_chars").as("chars_sl"))
      .localCheckpoint() // sources x langs rows; reused twice below
    val totals = sl.groupBy($"source").agg(sum($"n_sl").as("n_docs"))
    sl.join(broadcast(totals), Seq("source"))
      .withColumn("p", $"n_sl".cast("double") / $"n_docs".cast("double"))
      .withColumn("term",
        round(-$"p" * log($"p"), 6).cast("decimal(18,6)"))
      .groupBy($"source")
      .agg(max($"n_docs").as("n_docs"),
        sum($"chars_sl").as("total_chars"),
        round(sum($"chars_sl").cast("double") /
          max($"n_docs").cast("double"), 6).as("mean_chars"),
        countDistinct($"lang").as("n_langs"),
        sum($"term").cast("double").as("lang_entropy"))
      .orderBy($"source")
  }

  /** q_quality_source_gini — Gini coefficient of per-source corpus
    * volume (Σ n_chars by source): the training-mix inequality
    * diagnostic — a gini near 1 means a handful of domains dominate
    * the byte budget and the temperature/quota mixers have real work
    * to do. Exact integer arithmetic end-to-end via the rank formula
    * G = Σ(2i − n − 1)·x_i / (n·Σx) over ascending x (ties ranked by
    * source name); ONE double division at the end.
    *
    * Scale: per-source volumes are one partial-agg'd shuffle of
    * |sources| rows; the rank window sorts that bounded frame (domain
    * cardinality, ~1e6 at worst), never the corpus. */
  def sourceGini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val vols = graft.Tables.documents(spark, sfDir)
      .groupBy($"source").agg(sum($"n_chars").as("x"))
    val tot = broadcast(vols.agg(
      count(lit(1)).as("n"), sum($"x").as("t")))
    vols
      .withColumn("i", row_number().over(Window.orderBy($"x", $"source")))
      .crossJoin(tot)
      .agg(first($"n").as("n_sources"), first($"t").as("total_chars"),
        sum(($"i" * 2 - $"n" - 1) * $"x").as("num"))
      .select($"n_sources", $"total_chars",
        round($"num".cast("double") /
          ($"n_sources" * $"total_chars").cast("double"), 6).as("gini"))
  }

  /** q_quality_l_diversity — the companion privacy audit to
    * [[kAnonymity]] (Machanavajjhala et al., ICDE 2006): a
    * quasi-identifier group can be k-anonymous yet still leak if every
    * row in it shares one SENSITIVE value. Quasi-identifier =
    * (event_type, day, user-cohort bucket user_id % 100); sensitive
    * attribute = the value decile band: report groups whose distinct
    * band count l < 3 — an attacker who places a user in such a
    * cohort-day learns their value band near-certainly even if the
    * group is k-anonymous. (The coarse (event_type, day) grouping is
    * l ≥ 11 everywhere in the fixture at both scales — the gate only
    * bites on realistic, finer quasi-identifiers, which is the point.)
    * Same plan shape as the k-anonymity gate: one partial-agg'd
    * groupBy, output bounded by the group vocabulary. */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("day"),
        ($"user_id" % 100).as("cohort"))
      .agg(countDistinct(floor($"value" / 10).cast("long")).as("l_bands"),
        countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_rows"))
      .filter($"l_bands" < 3)
      .orderBy($"event_type", $"day", $"cohort")
  }

  /** q_quality_winsorize — per-language winsorized length statistics:
    * doc lengths clipped at the exact [p5, p95] ORDER STATISTICS
    * (k = ⌈0.05·n⌉-th / ⌈0.95·n⌉-th smallest, duplicates counted),
    * with the mean before/after — the standard outlier-robust readout
    * before length-based mixing decisions. Thresholds come off the
    * per-(lang, n_chars) cumulative HISTOGRAM — the value domain is
    * bounded (doc length cap), so the running sum runs over a
    * domain-sized frame, never a per-row window over the corpus (the
    * keyless-window trap the weighted-median decomposition also
    * avoids; here the histogram is small enough that the two-level
    * split is unnecessary). Integer sums, floor-at-micro divisions;
    * cum ≥ ⌈q·n⌉ is the scaled integer compare 20·cum ≥ q·20·n (exact
    * for integer cum). */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w2 = org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"lang", $"n_chars")
    val hist = docs.groupBy($"lang", $"n_chars")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(
        w2.partitionBy($"lang").orderBy($"n_chars")))
    val tot = hist.groupBy($"lang").agg(sum($"c").as("n"))
    val thr = hist.join(broadcast(tot), Seq("lang"))
      .groupBy($"lang", $"n")
      .agg(
        min(when($"cum" * 20L >= $"n", $"n_chars")).as("lo"),
        min(when($"cum" * 20L >= $"n" * 19L, $"n_chars")).as("hi"))
    docs.join(broadcast(thr), Seq("lang"))
      .groupBy($"lang", $"n", $"lo", $"hi")
      .agg(
        micro(sum($"n_chars").cast("double") / $"n").as("mean_raw"),
        micro(sum(greatest($"lo", least($"hi", $"n_chars")))
          .cast("double") / $"n").as("mean_winsor"))
      .select($"lang", $"n", $"lo", $"hi", $"mean_raw", $"mean_winsor")
      .orderBy($"lang")
  }

  /** q_quality_mutual_info — mutual information between the lang and
    * source columns (plus both marginal entropies), the dependence
    * diagnostic a mixture designer reads before treating the two axes
    * as independent sampling knobs: MI(L;S) = Σ p(l,s)·ln(p(l,s)/(p(l)p(s))).
    * Numerics: each cell's log-ratio argument is assembled in doubles
    * from exact int64 counts in the SAME operation order both engines
    * use, then round(ln,6)::DECIMAL(18,6) per cell weighted by the
    * integer cell count, exact DECIMAL sum, ONE floor-at-micro
    * division by N at the end (the bigram-LM recipe). Cells =
    * |lang|×|source| — a bounded contingency table off one
    * partial-agg'd groupBy; nothing corpus-sized past the first
    * aggregation. */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = graft.Tables.documents(spark, sfDir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("c_ls"))
      .localCheckpoint() // bounded contingency table; feeds 3 legs
    val cl = cells.groupBy($"lang").agg(sum($"c_ls").as("c_l"))
    val cs = cells.groupBy($"source").agg(sum($"c_ls").as("c_s"))
    val n = cells.agg(sum($"c_ls").as("n_docs"))
    val mi = cells.join(broadcast(cl), Seq("lang"))
      .join(broadcast(cs), Seq("source"))
      .crossJoin(broadcast(n))
      .withColumn("term", $"c_ls" *
        round(log(($"c_ls".cast("double") * $"n_docs".cast("double")) /
          ($"c_l".cast("double") * $"c_s".cast("double"))), 6)
          .cast("decimal(18,6)"))
      .agg(first($"n_docs").as("n_docs"),
        count(lit(1)).as("n_cells"),
        micro(sum($"term").cast("double") / first($"n_docs")).as("mi"))
    def entropy(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      micro(-sum(c * round(log(c.cast("double") / $"n_docs".cast("double")), 6)
        .cast("decimal(18,6)")).cast("double") / first($"n_docs"))
    val hl = cl.crossJoin(broadcast(n)).agg(entropy($"c_l").as("h_lang"))
    val hs = cs.crossJoin(broadcast(n)).agg(entropy($"c_s").as("h_source"))
    mi.crossJoin(hl).crossJoin(hs) // three 1-row frames
      .select($"n_docs", $"n_cells", $"mi", $"h_lang", $"h_source")
  }

  /** q_quality_ks_test — two-sample Kolmogorov–Smirnov distance
    * between the length distributions of two sources (src0 vs src1),
    * the drift test psi_drift's binning can blur: D = max_v |F₀(v) −
    * F₁(v)| over the JOINT value domain. EXACT rational arithmetic:
    * the compared statistic is the integer |cum₀(v)·n₁ − cum₁(v)·n₀|
    * (cross-multiplied, no division until the one rounded readout),
    * argmax reported with the smallest attaining value as tiebreak.
    *
    * Scale: per-(source, n_chars) histogram → full outer on the
    * BOUNDED value domain → cumulative sums over that domain-sized
    * frame (the winsorize rationale) → one max. Nothing corpus-sized
    * past the first partial-agg'd groupBy. */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w2 = org.apache.spark.sql.expressions.Window
    val h = graft.Tables.documents(spark, sfDir)
      .filter($"source".isin("src0", "src1"))
      .groupBy($"n_chars")
      .agg(sum(when($"source" === "src0", 1L).otherwise(0L)).as("c0"),
        sum(when($"source" === "src1", 1L).otherwise(0L)).as("c1"))
    val cum = h
      .withColumn("f0", sum($"c0").over(w2.orderBy($"n_chars"))) // bounded domain
      .withColumn("f1", sum($"c1").over(w2.orderBy($"n_chars")))
    val tot = h.agg(sum($"c0").as("n0"), sum($"c1").as("n1")) // 1 row
    cum.crossJoin(broadcast(tot))
      .withColumn("dnum", abs($"f0" * $"n1" - $"f1" * $"n0"))
      .groupBy($"n0", $"n1")
      .agg(max(struct($"dnum", (-$"n_chars").as("negv"))).as("top"))
      .select($"n0", $"n1", $"top.dnum".as("d_num"),
        (-$"top.negv").as("v_at"),
        round($"top.dnum".cast("double") /
          ($"n0" * $"n1").cast("double"), 6).as("ks"))
  }

  /** q_quality_cramers_v — Cramér's V association strength for the
    * lang×source contingency table, the normalized companion of
    * [[mutualInfo]]: χ² = Σ (c·N − c_l·c_s)² / (c_l·c_s·N) with every
    * per-cell term assembled from exact int64 counts in the same
    * double operation order both engines use, round(,6)::DECIMAL
    * per cell, exact sum, then V = √(χ²/(N·(min(r,c)−1))) floored at
    * micro. Same bounded-contingency-table shape as mutualInfo:
    * ZERO cells contribute e_ls = c_l·c_s/N to χ², so the observed
    * cells carry the (c−e)²/e term only for c > 0 and the missing
    * mass is added in closed form (Σ_observed e) — no dense
    * lang×source materialization is ever needed. */
  def cramersV(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = graft.Tables.documents(spark, sfDir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("c"))
      .localCheckpoint() // bounded contingency table
    val cl = cells.groupBy($"lang").agg(sum($"c").as("c_l"))
    val cs = cells.groupBy($"source").agg(sum($"c").as("c_s"))
    val n = cells.agg(sum($"c").as("n_docs"),
      countDistinct($"lang").as("r"), countDistinct($"source").as("k"))
    cells.join(broadcast(cl), Seq("lang"))
      .join(broadcast(cs), Seq("source"))
      .crossJoin(broadcast(n))
      // (c*N - c_l*c_s)^2 / (c_l*c_s*N) per OBSERVED cell, plus each
      // observed cell's expected mass e; chi2 = sum(term) - sum(e) + N
      // (the zero-cell closure: sum over ALL cells of e equals N)
      .withColumn("term", round(
        (($"c" * $"n_docs" - $"c_l" * $"c_s").cast("double") *
          ($"c" * $"n_docs" - $"c_l" * $"c_s").cast("double")) /
        (($"c_l" * $"c_s").cast("double") * $"n_docs".cast("double")), 6)
        .cast("decimal(18,6)"))
      .withColumn("e", round(($"c_l" * $"c_s").cast("double") /
        $"n_docs".cast("double"), 6).cast("decimal(18,6)"))
      .agg(first($"n_docs").as("n_docs"), first($"r").as("n_lang"),
        first($"k").as("n_source"),
        (micro((sum($"term") - sum($"e")).cast("double")) + first($"n_docs"))
          .as("chi2_adj"))
      // degenerate table guard: min(r,k)=1 makes the normalizer 0 —
      // emit NULL (mirrored CASE in the oracle), not Infinity/NaN
      .withColumn("cramers_v",
        when(least($"n_lang", $"n_source") > 1L,
          micro(sqrt($"chi2_adj" / ($"n_docs" *
            (least($"n_lang", $"n_source") - 1L)).cast("double")))))
      .select($"n_docs", $"n_lang", $"n_source", $"chi2_adj", $"cramers_v")
  }

  /** The src0/src1 doc-length moments as ONE row: n, Σx, Σx² per
    * source (`n0`, `sx0`, `sxx0`, `n1`, `sx1`, `sxx1`) — exact int64 off
    * one partial-agg'd pass (n_chars ≤ doc cap keeps Σx² far inside
    * int64), two 1-row frames crossed. */
  private def twoSourceMoments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = graft.Tables.documents(spark, sfDir)
      .filter($"source".isin("src0", "src1"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
        sum($"n_chars" * $"n_chars").as("sxx"))
    val a = g.filter($"source" === "src0")
      .select($"n".as("n0"), $"sx".as("sx0"), $"sxx".as("sxx0"))
    val b = g.filter($"source" === "src1")
      .select($"n".as("n1"), $"sx".as("sx1"), $"sxx".as("sxx1"))
    a.crossJoin(b) // two 1-row frames
  }

  /** Mean of source `i`'s doc length over [[twoSourceMoments]]. */
  private def mean(i: Int): Column = col(s"sx$i").cast("double") / col(s"n$i")

  /** Sample variance of source `i`'s doc length over [[twoSourceMoments]]. */
  private def sampleVar(i: Int): Column = (col(s"sxx$i").cast("double") -
    col(s"sx$i").cast("double") * col(s"sx$i").cast("double") / col(s"n$i")) /
    (col(s"n$i") - 1)

  /** The src0/src1 doc-length histogram over the bounded length domain:
    * one row per value `v` with each source's count (`c0`, `c1`). */
  private def sourceHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .filter($"source".isin("src0", "src1"))
      .groupBy($"n_chars".as("v"))
      .agg(sum(when($"source" === "src0", 1L).otherwise(0L)).as("c0"),
        sum(when($"source" === "src1", 1L).otherwise(0L)).as("c1"))
  }

  /** q_quality_welch_ttest — Welch's unequal-variance t-test between
    * two sources' doc-length distributions, the parametric companion
    * of [[ksTest]]: t = (m₀−m₁)/√(v₀/n₀ + v₁/n₁) with the
    * Welch–Satterthwaite degrees of freedom, off
    * [[twoSourceMoments]]; the double formulas run in one mirrored
    * operation order, outputs floored at micro. */
  def welchTtest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (m0, m1, v0, v1) = (mean(0), mean(1), sampleVar(0), sampleVar(1))
    val se2 = v0 / $"n0" + v1 / $"n1"
    val t = (m0 - m1) / sqrt(se2)
    val df = se2 * se2 /
      ((v0 / $"n0") * (v0 / $"n0") / ($"n0" - 1) +
        (v1 / $"n1") * (v1 / $"n1") / ($"n1" - 1))
    twoSourceMoments(spark, sfDir)
      .select($"n0", $"n1", micro(m0).as("mean0"), micro(m1).as("mean1"),
        micro(t).as("t_stat"), micro(df).as("df"))
  }

  /** q_quality_tost_equivalence — TOST equivalence test (Schuirmann,
    * J. Pharmacokinet. Biopharm. 1987): the flip side of
    * [[welchTtest]] — failing to reject "different" is NOT evidence of
    * "same"; TOST tests H0: |Δ| ≥ δ with TWO one-sided t statistics
    * t_low = (Δ+δ)/se and t_high = (Δ−δ)/se against the equivalence
    * margin δ = 15 chars, declaring equivalence iff t_low > 1.645 AND
    * t_high < −1.645 (large-sample normal critical, α = 0.05) — the
    * drift gate a corpus refresh needs before swapping sources.
    * Same exact int64 moment pass as welchTtest (n, Σx, Σx² per
    * source), same mirrored double order, micro-floored readouts.
    *
    * Scale: ONE partial-agg'd groupBy to 2 rows, crossed 1-row
    * frames. */
  def tostEquivalence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (v0, v1) = (sampleVar(0), sampleVar(1))
    val se = sqrt(v0 / $"n0" + v1 / $"n1")
    val diff = mean(0) - mean(1)
    val tLow = (diff + lit(15.0)) / se
    val tHigh = (diff - lit(15.0)) / se
    // degenerate guards: n ≤ 1 zeroes a variance denominator, two
    // constant samples zero se itself — either way the t's are
    // undefined → NULL, mirrored CASEs in the twin
    val ok = $"n0" > 1L && $"n1" > 1L && se > 0.0
    twoSourceMoments(spark, sfDir)
      .select($"n0", $"n1", micro(diff).as("mean_diff"),
        when(ok, micro(se)).as("se"),
        when(ok, micro(tLow)).as("t_lower"),
        when(ok, micro(tHigh)).as("t_upper"),
        when(ok, micro(tLow) > 1.645 && micro(tHigh) < -1.645)
          .as("equivalent"))
  }

  /** q_quality_hedges_g — standardized effect size between the
    * src0/src1 doc-length distributions: Cohen's d (1969) over the
    * pooled SD, with Hedges' (1981) small-sample bias correction
    * g = d·(1 − 3/(4(n₀+n₁)−9)) — the MAGNITUDE readout the
    * welch/tost p-values deliberately don't give (at corpus n,
    * everything is "significant"; only the effect size says whether
    * it matters). Same exact int64 moment pass as welchTtest, double
    * formulas in one mirrored order, micro-floored readouts.
    *
    * Scale: ONE partial-agg'd groupBy to 2 rows, crossed 1-row
    * frames. */
  def hedgesG(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (diff, v0, v1) = (mean(0) - mean(1), sampleVar(0), sampleVar(1))
    val sp = sqrt((($"n0" - 1) * v0 + ($"n1" - 1) * v1) /
      ($"n0" + $"n1" - 2).cast("double"))
    val d = diff / sp
    val corr = lit(1.0) -
      lit(3.0) / (lit(4L) * ($"n0" + $"n1") - 9L).cast("double")
    // degenerate guards: the welch/tost class — n ≤ 1 or two constant
    // samples make the pooled SD 0 and d undefined → NULL
    val ok = $"n0" > 1L && $"n1" > 1L && sp > 0.0
    twoSourceMoments(spark, sfDir)
      .select($"n0", $"n1", micro(diff).as("mean_diff"),
        when(ok, micro(sp)).as("pooled_sd"),
        when(ok, micro(d)).as("cohens_d"),
        when(ok, micro(d * corr)).as("hedges_g"))
  }

  /** q_quality_weighted_kappa — quadratic-weighted Cohen's kappa
    * (Cohen, Psych. Bull. 1968) between the two ORDINAL 3-class
    * annotators of [[krippendorffAlpha]] (char-length vs token-count
    * class): disagreeing by two classes is worse than by one, which
    * plain kappa can't express — κ_w = 1 − Σw_ij·O_ij / Σw_ij·E_ij
    * with w_ij = (i−j)². The observed weighted disagreement Σw·O is
    * exact int64; the expected one Σw·row_i·col_j is DECIMAL(19,0)
    * products (row·col crosses int64 past ~3e9 docs), and
    * κ_w = 1 − N·ΣwO / ΣwE is ONE micro-floored double division with
    * cast-before-multiply.
    *
    * Scale: one per-row label projection, one ≤9-cell confusion
    * groupBy, 1-row readout. */
  def weightedKappa(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lab = graft.Tables.documents(spark, sfDir).select(
      when($"n_chars" < 250, 0L).when($"n_chars" <= 400, 1L)
        .otherwise(2L).as("i"),
      when(size(split($"text", " ")) < 45, 0L)
        .when(size(split($"text", " ")) <= 75, 1L).otherwise(2L).as("j"))
    val cells = lab.groupBy($"i", $"j").agg(count(lit(1)).as("o"))
      .localCheckpoint() // ≤9 rows; feeds margins + both sums
    val n = cells.agg(sum($"o").as("nn"))
    val rows = cells.groupBy($"i").agg(sum($"o").as("ri"))
    val cols = cells.groupBy($"j").agg(sum($"o").as("cj"))
    val wo = cells
      .agg(sum(($"i" - $"j") * ($"i" - $"j") * $"o").as("sum_wo"))
    val we = rows.crossJoin(cols) // ≤9-cell margin grid
      .agg(sum((($"i" - $"j") * ($"i" - $"j") * $"ri")
        .cast("decimal(19,0)") * $"cj".cast("decimal(19,0)"))
        .as("sum_we")) // (w·row)·col as DECIMAL(38,0): exact past int64
    // degenerate guard: one observed class zeroes every weight in the
    // expected margin product -> kappa_w undefined -> NULL
    n.crossJoin(broadcast(wo)).crossJoin(broadcast(we)) // 1-row frames
      .select($"nn".as("n_obs"), $"sum_wo",
        when($"sum_we" > 0L, micro(lit(1.0) -
          $"nn".cast("double") * $"sum_wo".cast("double") /
            $"sum_we".cast("double"))).as("kappa_w"))
  }

  /** q_quality_anova_oneway — one-way ANOVA F across ALL sources'
    * doc-length distributions (Fisher 1925), the k-group
    * generalization welchTtest's two-sample frame can't ask: "do the
    * 20 crawl feeds differ in length profile AT ALL" in one test,
    * with η² = SSB/SST as the variance-explained effect size. Moments
    * are exact int64 per source (n, Σx, Σx²); the k between-group
    * terms Σx_g²/n_g are 6dp-rounded and DECIMAL-summed
    * (order-independent), the F assembly is ONE mirrored double
    * expression, micro-floored.
    *
    * Scale: one partial-agg'd groupBy to |sources| rows; everything
    * after is catalog-bounded. 1-row readout. */
  def anovaOneway(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = graft.Tables.documents(spark, sfDir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
        sum($"n_chars" * $"n_chars").as("sxx"))
      .localCheckpoint() // |sources| rows; feeds totals + SSB terms
    val tot = g.agg(sum($"n").as("nn"), sum($"sx").as("ss"),
      sum($"sxx").as("sq"), count(lit(1)).as("k"))
    val ssb = g.select(round($"sx".cast("double") * $"sx".cast("double") /
        $"n".cast("double"), 6).cast("decimal(24,6)").as("t"))
      .agg(sum($"t").as("ssb_raw"))
    val grand = $"ss".cast("double") * $"ss".cast("double") /
      $"nn".cast("double")
    val ssbD = $"ssb_raw".cast("double") - grand
    val sstD = $"sq".cast("double") - grand
    // degenerate guards: one group (df1 = 0), no residual df (nn = k),
    // an all-constant corpus (SST = 0), or perfect separation
    // (SSW = 0 → F = ∞, which DuckDB cannot cast) → NULL
    val ok = $"k" > 1L && $"nn" > $"k" && sstD > 0.0 &&
      (sstD - ssbD) > 0.0
    tot.crossJoin(broadcast(ssb)) // two 1-row frames
      .select($"nn".as("n_obs"), $"k".as("k_groups"),
        when(ok, micro((ssbD / ($"k" - 1L).cast("double")) /
          ((sstD - ssbD) / ($"nn" - $"k").cast("double"))))
          .as("f_stat"),
        when(ok, micro(ssbD / sstD)).as("eta_sq"))
  }

  /** q_quality_mmd_poly — maximum mean discrepancy (Gretton et al.,
    * JMLR 2012) between the src0/src1 doc-length distributions under
    * the explicit quadratic kernel k(x,y) = (1 + xy/c)², c = 1e6: the
    * V-statistic MMD² collapses ALGEBRAICALLY to
    * 2(μ₀−μ₁)²/c + (m₂₀−m₂₁)²/c² — a pure moment-matching distance
    * (first + second moments), the kernel-two-sample companion to
    * ks_test (shape) and welch (mean only) that needs NO pairwise
    * kernel matrix at any scale. Exact int64 moments, double assembly
    * in one mirrored order, micro-floored.
    *
    * Scale: ONE partial-agg'd groupBy to 2 rows — the all-pairs
    * kernel sum never materializes, which is the whole point. */
  def mmdPoly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val muGap = mean(0) - mean(1)
    val m2Gap = $"sxx0".cast("double") / $"n0" -
      $"sxx1".cast("double") / $"n1"
    twoSourceMoments(spark, sfDir)
      .select($"n0", $"n1", micro(muGap).as("mean_gap"),
        micro(m2Gap).as("m2_gap"),
        micro(lit(2.0) * muGap * muGap / 1e6 +
          m2Gap * m2Gap / 1e12).as("mmd2"))
  }

  /** q_quality_levene_bf — the Brown–Forsythe test (JASA 1974), the
    * robust Levene variant: one-way ANOVA on z = |x − median_group|
    * across all sources — "do the feeds differ in SPREAD" (anovaOneway
    * asks about level), with the median center making it heavy-tail
    * safe. Per-source medians come from cumulative counts over the
    * BOUNDED length-value histogram (the mann_whitney recipe — no
    * per-row rank), z is exact integer, and the F machinery is
    * anovaOneway's: exact moments, 6dp DECIMAL-summed SSB terms, one
    * mirrored double assembly.
    *
    * Scale: one (source, value) histogram groupBy, windows over the
    * bounded value domain, a ≤|sources| median broadcast back, one
    * moment pass. 1-row readout. */
  def leveneBf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"source", $"n_chars")
    val h = docs.groupBy($"source", $"n_chars".as("v"))
      .agg(count(lit(1)).as("c"))
    val med = h
      .withColumn("cum", sum($"c").over(
        w.partitionBy($"source").orderBy($"v")))
      .withColumn("nd", sum($"c").over(w.partitionBy($"source")))
      .filter($"cum" >= expr("(nd + 1L) div 2L"))
      .groupBy($"source").agg(min($"v").as("med")) // lower median
    val z = docs.join(broadcast(med), Seq("source"))
      .select($"source", abs($"n_chars" - $"med").as("z"))
    val g = z.groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"z").as("sx"),
        sum($"z" * $"z").as("sxx"))
      .localCheckpoint() // |sources| rows; feeds totals + SSB terms
    val tot = g.agg(sum($"n").as("nn"), sum($"sx").as("ss"),
      sum($"sxx").as("sq"), count(lit(1)).as("k"))
    val ssb = g.select(round($"sx".cast("double") * $"sx".cast("double") /
        $"n".cast("double"), 6).cast("decimal(24,6)").as("t"))
      .agg(sum($"t").as("ssb_raw"))
    val grand = $"ss".cast("double") * $"ss".cast("double") /
      $"nn".cast("double")
    val ssbD = $"ssb_raw".cast("double") - grand
    val sstD = $"sq".cast("double") - grand
    // the anovaOneway degenerate guards, plus: every |x − median| can
    // be 0 under per-group-constant data, zeroing SST on z itself
    val ok = $"k" > 1L && $"nn" > $"k" && sstD > 0.0 &&
      (sstD - ssbD) > 0.0
    tot.crossJoin(broadcast(ssb)) // two 1-row frames
      .select($"nn".as("n_obs"), $"k".as("k_groups"),
        when(ok, micro((ssbD / ($"k" - 1L).cast("double")) /
          ((sstD - ssbD) / ($"nn" - $"k").cast("double"))))
          .as("f_stat"))
  }

  /** q_quality_cliff_delta — Cliff's delta (Psych. Bull. 1993), the
    * ORDINAL effect size between the src0/src1 length distributions:
    * δ = P(x > y) − P(x < y) over all cross pairs — the
    * nonparametric companion to hedgesG (whose pooled-SD d is
    * meaningless under skew) and the effect-size face of
    * mannWhitney's U. Computed from the bounded value HISTOGRAM (the
    * mann_whitney recipe — never a pair join): n_gt = Σ_v c0_v·(#y<v)
    * with products in DECIMAL(19,0)² (they cross int64 past ~3e9
    * rows), ONE micro-floored division per rate, and the magnitude
    * call uses Romano et al. (2006) thresholds on the micro'd |δ| so
    * both engines bucket identically.
    *
    * Scale: one hash agg to the bounded length domain, a cumsum over
    * it, 1-row readout. */
  def cliffDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v")
    val h = sourceHistogram(spark, sfDir)
      .localCheckpoint() // bounded value domain; feeds cum + totals
    val tot = h.agg(sum($"c0").as("n0"), sum($"c1").as("n1"))
    val cum = h.withColumn("cin", sum($"c1").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .withColumn("c1b", $"cin" - $"c1") // src1 strictly below v
      .withColumn("c1a", $"n1" - $"cin") // src1 strictly above v
    val sums = cum.agg(first($"n0").as("n0"), first($"n1").as("n1"),
      sum($"c0".cast("decimal(19,0)") * $"c1b".cast("decimal(19,0)"))
        .as("n_gt"),
      sum($"c0".cast("decimal(19,0)") * $"c1a".cast("decimal(19,0)"))
        .as("n_lt"))
    val pairsD = $"n0".cast("double") * $"n1".cast("double")
    val delta6 = micro(($"n_gt".cast("double") - $"n_lt".cast("double"))
      / pairsD)
    // degenerate guard: a missing side (n0 or n1 = 0) has no cross
    // pairs -> rates and delta undefined -> NULL (lazily gated)
    val ok = $"n0" > 0L && $"n1" > 0L
    sums.select($"n0", $"n1",
      when(ok, micro($"n_gt".cast("double") / pairsD)).as("p_gt"),
      when(ok, micro($"n_lt".cast("double") / pairsD)).as("p_lt"),
      when(ok, delta6).as("cliff_delta"),
      when(ok,
        when(abs(delta6) < 0.147, "negligible")
          .when(abs(delta6) < 0.33, "small")
          .when(abs(delta6) < 0.474, "medium")
          .otherwise("large")).as("magnitude"))
  }

  /** q_quality_mann_whitney — two-sample Mann–Whitney U test (Mann &
    * Whitney, Ann. Math. Stat. 1947) between the src0/src1 doc-length
    * distributions: the RANK-based companion to [[welchTtest]] (no
    * normality assumption) and the location-shift complement to
    * [[ksTest]]'s shape test. Computed from the value HISTOGRAM via
    * the Mann–Whitney/AUC identity U = Σ_v c0_v·(negBelow_v + ½c1_v)
    * — a row-level rank would need a keyless window over the corpus;
    * the histogram form needs one hash aggregation to the bounded
    * length domain plus a running sum over it (the ks_test shape).
    * EXACT int64: U is carried 2-SCALED (ties contribute the exact ½),
    * the tie-corrected variance assembles from integer Σ(t³−t) in the
    * documented double order, and z / the rank-biserial effect size
    * each divide once, micro-floored. */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"v")
    val h = sourceHistogram(spark, sfDir)
    val cum = h.withColumn("c1b",
      sum($"c1").over(w) - $"c1") // bounded length domain
    cum.agg(sum($"c0").as("n0"), sum($"c1").as("n1"),
        sum($"c0" * (lit(2L) * $"c1b" + $"c1")).as("ux2"),
        sum(($"c0" + $"c1") * ($"c0" + $"c1") * ($"c0" + $"c1") -
          ($"c0" + $"c1")).as("t3t"))
      .withColumn("n", $"n0" + $"n1")
      .withColumn("variance",
        ($"n0" * $"n1").cast("double") / 12.0 *
          (($"n" + 1L).cast("double") -
            $"t3t".cast("double") / ($"n" * ($"n" - 1L)).cast("double")))
      .select($"n0", $"n1",
        ($"ux2".cast("double") / 2.0).as("u"), // exact halving
        micro(($"ux2" - $"n0" * $"n1").cast("double") /
          (lit(2.0) * sqrt($"variance"))).as("z_stat"),
        micro(($"ux2" - $"n0" * $"n1").cast("double") /
          ($"n0" * $"n1").cast("double")).as("rank_biserial"))
  }

  /** q_quality_js_divergence — Jensen–Shannon divergence (Lin, IEEE
    * Trans. IT 1991) between the src0/src1 doc-length distributions:
    * the SYMMETRIC, always-finite drift measure completing the
    * [[ksTest]] (sup-norm) / [[psiDrift]] (binned, unbounded on empty
    * bins) family — JS handles zero cells without psi's epsilon
    * fudge. JS = ½KL(p‖m) + ½KL(q‖m), m = (p+q)/2. The per-cell log
    * argument is an INTEGER ratio (p/m = 2·c0·n1/(c0·n1 + c1·n0)), so
    * each term is c0·round(ln(·),6)::DECIMAL summed exactly (the
    * mutualInfo recipe); zero cells contribute exactly 0 via the same
    * when-guard in both engines; the readouts divide once,
    * micro-floored. Same bounded-histogram shape as mannWhitney. */
  def jsDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val h = sourceHistogram(spark, sfDir)
      .localCheckpoint() // bounded length-domain histogram, feeds 2 legs
    val tot = h.agg(sum($"c0").as("n0"), sum($"c1").as("n1")) // 1 row
    h.crossJoin(broadcast(tot))
      .withColumn("den", $"c0" * $"n1" + $"c1" * $"n0")
      .withColumn("t0", when($"c0" > 0L, $"c0" *
        round(log(lit(2.0) * ($"c0" * $"n1").cast("double") /
          $"den".cast("double")), 6).cast("decimal(18,6)")))
      .withColumn("t1", when($"c1" > 0L, $"c1" *
        round(log(lit(2.0) * ($"c1" * $"n0").cast("double") /
          $"den".cast("double")), 6).cast("decimal(18,6)")))
      .agg(first($"n0").as("n0"), first($"n1").as("n1"),
        count(lit(1)).as("n_cells"),
        sum($"t0").as("s0"), sum($"t1").as("s1"))
      .select($"n0", $"n1", $"n_cells",
        micro($"s0".cast("double") / $"n0".cast("double")).as("kl_pm"),
        micro($"s1".cast("double") / $"n1".cast("double")).as("kl_qm"),
        micro(($"s0".cast("double") / $"n0".cast("double") +
          $"s1".cast("double") / $"n1".cast("double")) / 2.0).as("js"))
  }

  /** q_quality_theil_index — Theil's T inequality index of doc length
    * with its exact within/between-source DECOMPOSITION (Theil 1967)
    * — the property [[sourceGini]] lacks: T = T_between + T_within
    * splits corpus inequality into "sources differ in mean" vs
    * "inequality inside sources", the readout that says whether
    * rebalancing SOURCES can fix a skewed corpus at all. Exact
    * discipline: every log argument is an INTEGER ratio
    * (x/μ = x·N/S; μ_g/μ = S_g·N/(N_g·S)), per-row terms
    * weight·round(ln(·),6)::DECIMAL summed exactly, T_within emitted
    * as the DIFFERENCE of the two exact sums (the identity is
    * enforced by construction, one micro-floored division each).
    *
    * Scale: one corpus pass for the row terms (crossJoined with the
    * broadcast 1-row (N, S) frame), one |sources|-row group frame. */
  def theilIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"source", $"n_chars".as("x"))
    val tot = docs.agg(count(lit(1)).as("n"), sum($"x").as("s")) // 1 row
    val rowSum = docs.crossJoin(broadcast(tot))
      .select(($"x" * round(log(($"x" * $"n").cast("double") /
        $"s".cast("double")), 6).cast("decimal(18,6)")).as("t"))
      .agg(sum($"t").as("st")) // 1 row
    val grpSum = docs.groupBy($"source")
      .agg(count(lit(1)).as("ng"), sum($"x").as("sg")) // |sources| rows
      .crossJoin(broadcast(tot))
      .select(($"sg" * round(log(($"sg" * $"n").cast("double") /
        ($"ng" * $"s").cast("double")), 6).cast("decimal(18,6)")).as("t"),
        lit(1L).as("one"))
      .agg(sum($"t").as("sb"), sum($"one").as("n_sources")) // 1 row
    rowSum.crossJoin(grpSum).crossJoin(broadcast(tot)) // three 1-row frames
      .select($"n".as("n_docs"), $"n_sources",
        micro($"st".cast("double") / $"s".cast("double"))
          .as("theil_total"),
        micro($"sb".cast("double") / $"s".cast("double"))
          .as("theil_between"),
        micro(($"st" - $"sb").cast("double") / $"s".cast("double"))
          .as("theil_within"))
  }

  /** q_quality_krippendorff_alpha — Krippendorff's α (Krippendorff,
    * Content Analysis 2004, nominal metric) over three deterministic
    * "annotators" labeling every document into 3 length classes from
    * INDEPENDENT feature views (char count / token count / distinct
    * tokens — the labelAgreement construction widened from 2 raters ×
    * 2 classes to the m×c case κ can't handle): α = 1 − D_o/D_e from
    * the coincidence counts, algebraically reduced for constant m=3 to
    * α = 1 − do_num·(3n−1) / (2·de_num) with do_num = Σ_u Σ_c
    * n_uc(m−n_uc) (exact int64 — ≤6n) and de_num = Σ_c P_c(N−P_c)
    * kept DECIMAL(38,0) (P_c·N crosses int64 past ~3e9 docs); the
    * readout ships the observed/expected disagreement RATES D_o, D_e
    * (scale-free doubles) plus α, each ONE micro-floored division
    * with every count product cast-to-double before multiplying. α vs
    * the pairwise-κ readout is the house multi-annotator
    * label-quality gate.
    *
    * Scale: one per-row label projection, an explode to 3n rows, one
    * partial-agg'd (doc, class) groupBy, then everything is 1-row or
    * ≤3-row frames cross-joined broadcast. No window, no join on the
    * corpus. */
  def krippendorffAlpha(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val lab = docs.select($"doc_id",
      when($"n_chars" < 250, 0L).when($"n_chars" <= 400, 1L)
        .otherwise(2L).as("a1"),
      when(size(split($"text", " ")) < 45, 0L)
        .when(size(split($"text", " ")) <= 75, 1L).otherwise(2L).as("a2"),
      when(size(array_distinct(split($"text", " "))) < 22, 0L)
        .when(size(array_distinct(split($"text", " "))) <= 27, 1L)
        .otherwise(2L).as("a3"))
    val ouc = lab
      .select($"doc_id", explode(array($"a1", $"a2", $"a3")).as("c"))
      .groupBy($"doc_id", $"c").agg(count(lit(1)).as("o"))
      .localCheckpoint() // ≤3n rows; feeds D_o, P_c, and n
    val n = ouc.agg(countDistinct($"doc_id").as("n_units"))
    val doN = ouc.agg(sum($"o" * (lit(3L) - $"o")).as("do_num"))
    val deN = ouc.groupBy($"c").agg(sum($"o").as("p_c")) // ≤3 rows
      .crossJoin(broadcast(n))
      .agg(sum($"p_c".cast("decimal(19,0)") *
        (lit(3L) * $"n_units" - $"p_c").cast("decimal(19,0)"))
        .as("de_num")) // decimal(38,0): exact past the int64 ceiling
    // degenerate guard: a corpus every annotator labels identically
    // zeroes D_e and alpha is undefined -> NULL (lazily gated: ANSI
    // throws on the division otherwise)
    n.crossJoin(broadcast(doN)).crossJoin(broadcast(deN)) // 1-row frames
      .select($"n_units", lit(3L).as("n_raters"),
        when($"n_units" > 0L, micro($"do_num".cast("double") /
          (lit(6.0) * $"n_units".cast("double")))).as("d_o"),
        when($"n_units" > 0L, micro($"de_num".cast("double") /
          (lit(3.0) * $"n_units".cast("double") *
            (lit(3.0) * $"n_units".cast("double") - 1.0)))).as("d_e"),
        when($"de_num" > 0L, micro(lit(1.0) -
          $"do_num".cast("double") *
            (lit(3.0) * $"n_units".cast("double") - 1.0) /
            (lit(2.0) * $"de_num".cast("double")))).as("alpha"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quality_tost_equivalence" -> (tostEquivalence _),
    "q_quality_hedges_g" -> (hedgesG _),
    "q_quality_weighted_kappa" -> (weightedKappa _),
    "q_quality_anova_oneway" -> (anovaOneway _),
    "q_quality_mmd_poly" -> (mmdPoly _),
    "q_quality_levene_bf" -> (leveneBf _),
    "q_quality_cliff_delta" -> (cliffDelta _),
    "q_quality_krippendorff_alpha" -> (krippendorffAlpha _),
    "q_quality_theil_index" -> (theilIndex _),
    "q_quality_mann_whitney" -> (mannWhitney _),
    "q_quality_js_divergence" -> (jsDivergence _),
    "q_quality_welch_ttest" -> (welchTtest _),
    "q_quality_ks_test" -> (ksTest _),
    "q_quality_cramers_v" -> (cramersV _),
    "q_quality_winsorize" -> (winsorize _),
    "q_quality_mutual_info" -> (mutualInfo _),
    "q_quality_l_diversity" -> (lDiversity _),
    "q_quality_source_gini" -> (sourceGini _),
    "q_quality_dataset_card" -> (datasetCard _),
    "q_quality_label_agreement" -> (labelAgreement _),
    "q_quality_mad" -> (madDispersion _),
    "q_quality_constraint_audit" -> (constraintAudit _),
    "q_quality_k_anonymity" -> (kAnonymity _),
    "q_quality_outlier_iqr" -> (outlierIqr _),
    "q_quality_profile" -> (profile _),
    "q_quality_psi_drift" -> (psiDrift _),
    "q_quality_benford" -> (benford _))

  def oracle: Map[String, String] = Map(
    "q_quality_cliff_delta" ->
      """WITH h AS (
        |  SELECT n_chars AS v,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
        |               CAST(SUM(c1) AS BIGINT) AS n1 FROM h),
        |cum AS (
        |  SELECT c0,
        |    CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) - c1 AS c1b,
        |    n1 - CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS c1a,
        |    n0, n1
        |  FROM h, tot),
        |s AS (
        |  SELECT MIN(n0) AS n0, MIN(n1) AS n1,
        |    CAST(SUM(CAST(c0 AS DECIMAL(19,0)) *
        |      CAST(c1b AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS n_gt,
        |    CAST(SUM(CAST(c0 AS DECIMAL(19,0)) *
        |      CAST(c1a AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS n_lt
        |  FROM cum),
        |e AS (
        |  SELECT n0, n1,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      CAST(floor(CAST(n_gt AS DOUBLE) /
        |        (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) * 1e6)
        |        AS BIGINT) / 1e6 END AS p_gt,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      CAST(floor(CAST(n_lt AS DOUBLE) /
        |        (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) * 1e6)
        |        AS BIGINT) / 1e6 END AS p_lt,
        |    CASE WHEN n0 > 0 AND n1 > 0 THEN
        |      CAST(floor((CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE))
        |        / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) * 1e6)
        |        AS BIGINT) / 1e6 END AS d6
        |  FROM s)
        |SELECT n0, n1, p_gt, p_lt, d6 AS cliff_delta,
        |  CASE WHEN d6 IS NULL THEN NULL
        |    WHEN abs(d6) < 0.147 THEN 'negligible'
        |    WHEN abs(d6) < 0.33 THEN 'small'
        |    WHEN abs(d6) < 0.474 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM e""".stripMargin,
    "q_quality_anova_oneway" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(sx) AS BIGINT) AS ss,
        |    CAST(SUM(sxx) AS BIGINT) AS sq,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM g),
        |ssb AS (
        |  SELECT CAST(SUM(CAST(round(CAST(sx AS DOUBLE) *
        |      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |      AS DECIMAL(24,6))) AS DOUBLE) AS ssb_raw
        |  FROM g),
        |e AS (
        |  SELECT nn, k,
        |    ssb_raw - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) /
        |      CAST(nn AS DOUBLE) AS ssbd,
        |    CAST(sq AS DOUBLE) - CAST(ss AS DOUBLE) *
        |      CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) AS sstd
        |  FROM tot, ssb)
        |SELECT nn AS n_obs, k AS k_groups,
        |  CASE WHEN k > 1 AND nn > k AND sstd > 0.0
        |      AND sstd - ssbd > 0.0 THEN
        |    CAST(floor((ssbd / CAST(k - 1 AS DOUBLE)) /
        |      ((sstd - ssbd) / CAST(nn - k AS DOUBLE)) * 1e6)
        |      AS BIGINT) / 1e6
        |  END AS f_stat,
        |  CASE WHEN k > 1 AND nn > k AND sstd > 0.0
        |      AND sstd - ssbd > 0.0 THEN
        |    CAST(floor(ssbd / sstd * 1e6) AS BIGINT) / 1e6
        |  END AS eta_sq
        |FROM e""".stripMargin,
    "q_quality_mmd_poly" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |ab AS (
        |  SELECT a.n AS n0, a.sx AS sx0, a.sxx AS sxx0,
        |    b.n AS n1, b.sx AS sx1, b.sxx AS sxx1
        |  FROM (SELECT * FROM g WHERE source = 'src0') a,
        |    (SELECT * FROM g WHERE source = 'src1') b),
        |s AS (
        |  SELECT n0, n1,
        |    CAST(sx0 AS DOUBLE) / n0 - CAST(sx1 AS DOUBLE) / n1
        |      AS mu_gap,
        |    CAST(sxx0 AS DOUBLE) / n0 - CAST(sxx1 AS DOUBLE) / n1
        |      AS m2_gap
        |  FROM ab)
        |SELECT n0, n1,
        |  CAST(floor(mu_gap * 1e6) AS BIGINT) / 1e6 AS mean_gap,
        |  CAST(floor(m2_gap * 1e6) AS BIGINT) / 1e6 AS m2_gap,
        |  CAST(floor((2.0 * mu_gap * mu_gap / 1e6 +
        |    m2_gap * m2_gap / 1e12) * 1e6) AS BIGINT) / 1e6 AS mmd2
        |FROM s""".stripMargin,
    "q_quality_levene_bf" ->
      """WITH h AS (
        |  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |med AS (
        |  SELECT source, MIN(v) AS med
        |  FROM (SELECT source, v,
        |      SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |      SUM(c) OVER (PARTITION BY source) AS nd
        |    FROM h)
        |  WHERE cum >= (nd + 1) // 2 GROUP BY 1),
        |z AS (
        |  SELECT d.source, abs(d.n_chars - m.med) AS z
        |  FROM documents d JOIN med m ON d.source = m.source),
        |g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(z) AS BIGINT) AS sx,
        |    CAST(SUM(z * z) AS BIGINT) AS sxx
        |  FROM z GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(sx) AS BIGINT) AS ss,
        |    CAST(SUM(sxx) AS BIGINT) AS sq,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM g),
        |ssb AS (
        |  SELECT CAST(SUM(CAST(round(CAST(sx AS DOUBLE) *
        |      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |      AS DECIMAL(24,6))) AS DOUBLE) AS ssb_raw
        |  FROM g),
        |e AS (
        |  SELECT nn, k,
        |    ssb_raw - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) /
        |      CAST(nn AS DOUBLE) AS ssbd,
        |    CAST(sq AS DOUBLE) - CAST(ss AS DOUBLE) *
        |      CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) AS sstd
        |  FROM tot, ssb)
        |SELECT nn AS n_obs, k AS k_groups,
        |  CASE WHEN k > 1 AND nn > k AND sstd > 0.0
        |      AND sstd - ssbd > 0.0 THEN
        |    CAST(floor((ssbd / CAST(k - 1 AS DOUBLE)) /
        |      ((sstd - ssbd) / CAST(nn - k AS DOUBLE)) * 1e6)
        |      AS BIGINT) / 1e6
        |  END AS f_stat
        |FROM e""".stripMargin,
    "q_quality_hedges_g" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |ab AS (
        |  SELECT a.n AS n0, a.sx AS sx0, a.sxx AS sxx0,
        |    b.n AS n1, b.sx AS sx1, b.sxx AS sxx1
        |  FROM (SELECT * FROM g WHERE source = 'src0') a,
        |    (SELECT * FROM g WHERE source = 'src1') b),
        |s AS (
        |  SELECT n0, n1,
        |    CAST(sx0 AS DOUBLE) / n0 - CAST(sx1 AS DOUBLE) / n1 AS diff,
        |    sqrt(((n0 - 1) * ((CAST(sxx0 AS DOUBLE) -
        |        CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE) / n0) /
        |        (n0 - 1)) +
        |      (n1 - 1) * ((CAST(sxx1 AS DOUBLE) -
        |        CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n1) /
        |        (n1 - 1))) / CAST(n0 + n1 - 2 AS DOUBLE)) AS sp,
        |    1.0 - 3.0 / CAST(4 * (n0 + n1) - 9 AS DOUBLE) AS corr
        |  FROM ab)
        |SELECT n0, n1,
        |  CAST(floor(diff * 1e6) AS BIGINT) / 1e6 AS mean_diff,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND sp > 0.0 THEN
        |    CAST(floor(sp * 1e6) AS BIGINT) / 1e6 END AS pooled_sd,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND sp > 0.0 THEN
        |    CAST(floor(diff / sp * 1e6) AS BIGINT) / 1e6
        |  END AS cohens_d,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND sp > 0.0 THEN
        |    CAST(floor(diff / sp * corr * 1e6) AS BIGINT) / 1e6
        |  END AS hedges_g
        |FROM s""".stripMargin,
    "q_quality_weighted_kappa" ->
      """WITH lab AS (
        |  SELECT
        |    CASE WHEN n_chars < 250 THEN 0 WHEN n_chars <= 400 THEN 1
        |      ELSE 2 END AS i,
        |    CASE WHEN len(string_split(text, ' ')) < 45 THEN 0
        |      WHEN len(string_split(text, ' ')) <= 75 THEN 1
        |      ELSE 2 END AS j
        |  FROM documents),
        |cells AS (
        |  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM lab GROUP BY 1, 2),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
        |r AS (SELECT i, CAST(SUM(o) AS BIGINT) AS ri
        |      FROM cells GROUP BY 1),
        |c AS (SELECT j, CAST(SUM(o) AS BIGINT) AS cj
        |      FROM cells GROUP BY 1),
        |wo AS (SELECT CAST(SUM((i - j) * (i - j) * o) AS BIGINT)
        |         AS sum_wo FROM cells),
        |we AS (
        |  SELECT CAST(SUM(CAST((i - j) * (i - j) * ri
        |      AS DECIMAL(19,0)) * CAST(cj AS DECIMAL(19,0)))
        |    AS DECIMAL(38,0)) AS sum_we
        |  FROM r CROSS JOIN c)
        |SELECT nn AS n_obs, sum_wo,
        |  CASE WHEN sum_we > 0 THEN
        |    CAST(floor((1.0 - CAST(nn AS DOUBLE) *
        |      CAST(sum_wo AS DOUBLE) / CAST(sum_we AS DOUBLE)) * 1e6)
        |      AS BIGINT) / 1e6
        |  END AS kappa_w
        |FROM n, wo, we""".stripMargin,
    "q_quality_tost_equivalence" ->
      """WITH g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |ab AS (
        |  SELECT a.n AS n0, a.sx AS sx0, a.sxx AS sxx0,
        |    b.n AS n1, b.sx AS sx1, b.sxx AS sxx1
        |  FROM (SELECT * FROM g WHERE source = 'src0') a,
        |    (SELECT * FROM g WHERE source = 'src1') b),
        |s AS (
        |  SELECT n0, n1,
        |    CAST(sx0 AS DOUBLE) / n0 - CAST(sx1 AS DOUBLE) / n1 AS diff,
        |    sqrt(((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) *
        |        CAST(sx0 AS DOUBLE) / n0) / (n0 - 1)) / n0 +
        |      ((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) *
        |        CAST(sx1 AS DOUBLE) / n1) / (n1 - 1)) / n1) AS se
        |  FROM ab)
        |SELECT n0, n1,
        |  CAST(floor(diff * 1e6) AS BIGINT) / 1e6 AS mean_diff,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND se > 0.0 THEN
        |    CAST(floor(se * 1e6) AS BIGINT) / 1e6 END AS se,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND se > 0.0 THEN
        |    CAST(floor((diff + 15.0) / se * 1e6) AS BIGINT) / 1e6
        |  END AS t_lower,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND se > 0.0 THEN
        |    CAST(floor((diff - 15.0) / se * 1e6) AS BIGINT) / 1e6
        |  END AS t_upper,
        |  CASE WHEN n0 > 1 AND n1 > 1 AND se > 0.0 THEN
        |    CAST(floor((diff + 15.0) / se * 1e6) AS BIGINT) / 1e6
        |      > 1.645
        |    AND CAST(floor((diff - 15.0) / se * 1e6) AS BIGINT) / 1e6
        |      < -1.645
        |  END AS equivalent
        |FROM s""".stripMargin,
    "q_quality_krippendorff_alpha" ->
      """WITH lab AS (
        |  SELECT doc_id,
        |    CASE WHEN n_chars < 250 THEN 0 WHEN n_chars <= 400 THEN 1
        |      ELSE 2 END AS a1,
        |    CASE WHEN len(string_split(text, ' ')) < 45 THEN 0
        |      WHEN len(string_split(text, ' ')) <= 75 THEN 1
        |      ELSE 2 END AS a2,
        |    CASE WHEN len(list_distinct(string_split(text, ' '))) < 22
        |      THEN 0
        |      WHEN len(list_distinct(string_split(text, ' '))) <= 27
        |      THEN 1 ELSE 2 END AS a3
        |  FROM documents),
        |ouc AS (
        |  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM (SELECT doc_id, unnest([a1, a2, a3]) AS c FROM lab)
        |  GROUP BY 1, 2),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_units
        |      FROM ouc),
        |don AS (SELECT CAST(SUM(o * (3 - o)) AS BIGINT) AS do_num
        |        FROM ouc),
        |den AS (
        |  SELECT CAST(SUM(CAST(p_c AS DECIMAL(19,0)) *
        |    CAST(3 * n_units - p_c AS DECIMAL(19,0)))
        |    AS DECIMAL(38,0)) AS de_num
        |  FROM (SELECT c, CAST(SUM(o) AS BIGINT) AS p_c
        |        FROM ouc GROUP BY 1), n)
        |SELECT n_units, CAST(3 AS BIGINT) AS n_raters,
        |  CASE WHEN n_units > 0 THEN
        |    CAST(floor(CAST(do_num AS DOUBLE) /
        |      (6.0 * CAST(n_units AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
        |  END AS d_o,
        |  CASE WHEN n_units > 0 THEN
        |    CAST(floor(CAST(de_num AS DOUBLE) /
        |      (3.0 * CAST(n_units AS DOUBLE) *
        |        (3.0 * CAST(n_units AS DOUBLE) - 1.0)) * 1e6)
        |      AS BIGINT) / 1e6
        |  END AS d_e,
        |  CASE WHEN de_num > 0 THEN
        |    CAST(floor((1.0 - CAST(do_num AS DOUBLE) *
        |      (3.0 * CAST(n_units AS DOUBLE) - 1.0) /
        |      (2.0 * CAST(de_num AS DOUBLE))) * 1e6) AS BIGINT) / 1e6
        |  END AS alpha
        |FROM n, don, den""".stripMargin,
    "q_quality_theil_index" ->
      """WITH tot AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s
        |  FROM documents),
        |rs AS (
        |  SELECT SUM(n_chars * CAST(round(ln(
        |      CAST(n_chars * n AS DOUBLE) / CAST(s AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))) AS st
        |  FROM documents CROSS JOIN tot),
        |gs AS (
        |  SELECT source, COUNT(*) AS ng, CAST(SUM(n_chars) AS BIGINT) AS sg
        |  FROM documents GROUP BY 1),
        |gb AS (
        |  SELECT SUM(sg * CAST(round(ln(
        |      CAST(sg * n AS DOUBLE) / CAST(ng * s AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))) AS sb,
        |    CAST(COUNT(*) AS BIGINT) AS n_sources
        |  FROM gs CROSS JOIN tot)
        |SELECT n AS n_docs, n_sources,
        |  CAST(floor(CAST(st AS DOUBLE) / CAST(s AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS theil_total,
        |  CAST(floor(CAST(sb AS DOUBLE) / CAST(s AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS theil_between,
        |  CAST(floor(CAST(st - sb AS DOUBLE) / CAST(s AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS theil_within
        |FROM rs CROSS JOIN gb CROSS JOIN tot""".stripMargin,
    "q_quality_mann_whitney" ->
      """WITH h AS (
        |  SELECT n_chars AS v,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |cum AS (
        |  SELECT c0, c1,
        |    CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) - c1 AS c1b
        |  FROM h),
        |g AS (
        |  SELECT CAST(SUM(c0) AS BIGINT) AS n0,
        |    CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c0 * (2*c1b + c1)) AS BIGINT) AS ux2,
        |    CAST(SUM((c0+c1)*(c0+c1)*(c0+c1) - (c0+c1)) AS BIGINT) AS t3t
        |  FROM cum),
        |v AS (
        |  SELECT n0, n1, ux2,
        |    CAST(n0 * n1 AS DOUBLE) / 12.0 *
        |      (CAST(n0 + n1 + 1 AS DOUBLE) -
        |       CAST(t3t AS DOUBLE) /
        |         CAST((n0 + n1) * (n0 + n1 - 1) AS DOUBLE)) AS variance
        |  FROM g)
        |SELECT n0, n1, CAST(ux2 AS DOUBLE) / 2.0 AS u,
        |  CAST(floor(CAST(ux2 - n0*n1 AS DOUBLE) /
        |    (2.0 * sqrt(variance)) * 1e6) AS BIGINT) / 1e6 AS z_stat,
        |  CAST(floor(CAST(ux2 - n0*n1 AS DOUBLE) /
        |    CAST(n0 * n1 AS DOUBLE) * 1e6) AS BIGINT) / 1e6
        |    AS rank_biserial
        |FROM v""".stripMargin,
    "q_quality_js_divergence" ->
      """WITH h AS (
        |  SELECT n_chars AS v,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |t AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
        |  CAST(SUM(c1) AS BIGINT) AS n1 FROM h),
        |terms AS (
        |  SELECT n0, n1, c0, c1, c0*n1 + c1*n0 AS den,
        |    CASE WHEN c0 > 0 THEN c0 * CAST(round(ln(
        |      2.0 * CAST(c0*n1 AS DOUBLE) / CAST(c0*n1 + c1*n0 AS DOUBLE)
        |      ), 6) AS DECIMAL(18,6)) END AS t0,
        |    CASE WHEN c1 > 0 THEN c1 * CAST(round(ln(
        |      2.0 * CAST(c1*n0 AS DOUBLE) / CAST(c0*n1 + c1*n0 AS DOUBLE)
        |      ), 6) AS DECIMAL(18,6)) END AS t1
        |  FROM h CROSS JOIN t),
        |g AS (
        |  SELECT MAX(n0) AS n0, MAX(n1) AS n1, COUNT(*) AS n_cells,
        |    SUM(t0) AS s0, SUM(t1) AS s1
        |  FROM terms)
        |SELECT n0, n1, n_cells,
        |  CAST(floor(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS kl_pm,
        |  CAST(floor(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS kl_qm,
        |  CAST(floor((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) +
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 2.0 * 1e6)
        |    AS BIGINT) / 1e6 AS js
        |FROM g""".stripMargin,
    "q_quality_welch_ttest" ->
      """WITH g AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |a AS (SELECT n AS n0, sx AS sx0, sxx AS sxx0 FROM g
        |  WHERE source = 'src0'),
        |b AS (SELECT n AS n1, sx AS sx1, sxx AS sxx1 FROM g
        |  WHERE source = 'src1'),
        |d AS (
        |  SELECT n0, n1,
        |    CAST(sx0 AS DOUBLE) / n0 AS m0,
        |    CAST(sx1 AS DOUBLE) / n1 AS m1,
        |    (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE)*CAST(sx0 AS DOUBLE)/n0)
        |      / (n0 - 1) AS v0,
        |    (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE)*CAST(sx1 AS DOUBLE)/n1)
        |      / (n1 - 1) AS v1
        |  FROM a CROSS JOIN b),
        |s AS (
        |  SELECT n0, n1, m0, m1,
        |    (m0 - m1) / sqrt(v0/n0 + v1/n1) AS t,
        |    (v0/n0 + v1/n1) * (v0/n0 + v1/n1) /
        |      ((v0/n0)*(v0/n0)/(n0 - 1) + (v1/n1)*(v1/n1)/(n1 - 1)) AS df
        |  FROM d)
        |SELECT n0, n1,
        |  CAST(floor(m0 * 1e6) AS BIGINT) / 1e6 AS mean0,
        |  CAST(floor(m1 * 1e6) AS BIGINT) / 1e6 AS mean1,
        |  CAST(floor(t * 1e6) AS BIGINT) / 1e6 AS t_stat,
        |  CAST(floor(df * 1e6) AS BIGINT) / 1e6 AS df
        |FROM s""".stripMargin,
    "q_quality_ks_test" ->
      """WITH h AS (
        |  SELECT n_chars,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c1
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |cum AS (
        |  SELECT n_chars,
        |    SUM(c0) OVER (ORDER BY n_chars) AS f0,
        |    SUM(c1) OVER (ORDER BY n_chars) AS f1
        |  FROM h),
        |t AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
        |  CAST(SUM(c1) AS BIGINT) AS n1 FROM h)
        |SELECT n0, n1, CAST(abs(f0*n1 - f1*n0) AS BIGINT) AS d_num,
        |  n_chars AS v_at,
        |  round(CAST(abs(f0*n1 - f1*n0) AS DOUBLE) /
        |    CAST(n0 * n1 AS DOUBLE), 6) AS ks
        |FROM cum CROSS JOIN t
        |ORDER BY abs(f0*n1 - f1*n0) DESC, n_chars ASC LIMIT 1""".stripMargin,
    "q_quality_cramers_v" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |cl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS c_l
        |  FROM cells GROUP BY 1),
        |cs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS c_s
        |  FROM cells GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
        |  COUNT(DISTINCT lang) AS r, COUNT(DISTINCT source) AS k
        |  FROM cells),
        |s AS (
        |  SELECT MAX(n_docs) AS n_docs, MAX(r) AS n_lang,
        |    MAX(k) AS n_source,
        |    CAST(floor(CAST(
        |      SUM(CAST(round(
        |        (CAST(c*n_docs - c_l*c_s AS DOUBLE) *
        |         CAST(c*n_docs - c_l*c_s AS DOUBLE)) /
        |        (CAST(c_l*c_s AS DOUBLE) * CAST(n_docs AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)))
        |      - SUM(CAST(round(CAST(c_l*c_s AS DOUBLE) /
        |          CAST(n_docs AS DOUBLE), 6) AS DECIMAL(18,6)))
        |      AS DOUBLE) * 1e6) AS BIGINT) / 1e6 + MAX(n_docs) AS chi2_adj
        |  FROM cells
        |  JOIN cl ON cells.lang = cl.lang
        |  JOIN cs ON cells.source = cs.source
        |  CROSS JOIN n)
        |SELECT n_docs, n_lang, n_source, chi2_adj,
        |  CASE WHEN least(n_lang, n_source) > 1 THEN
        |    CAST(floor(sqrt(chi2_adj /
        |      CAST(n_docs * (least(n_lang, n_source) - 1) AS DOUBLE)) * 1e6)
        |      AS BIGINT) / 1e6 END AS cramers_v
        |FROM s""".stripMargin,
    "q_quality_winsorize" ->
      """WITH h AS (
        |  SELECT lang, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, n_chars, c,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cw
        |  FROM h),
        |t AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |thr AS (
        |  SELECT cum.lang, t.n,
        |    MIN(CASE WHEN 20 * cw >= t.n THEN n_chars END) AS lo,
        |    MIN(CASE WHEN 20 * cw >= 19 * t.n THEN n_chars END) AS hi
        |  FROM cum JOIN t ON cum.lang = t.lang GROUP BY 1, 2)
        |SELECT d.lang, thr.n, thr.lo, thr.hi,
        |  CAST(floor(CAST(SUM(d.n_chars) AS DOUBLE) / thr.n * 1e6)
        |    AS BIGINT) / 1e6 AS mean_raw,
        |  CAST(floor(CAST(SUM(greatest(thr.lo, least(thr.hi, d.n_chars)))
        |    AS DOUBLE) / thr.n * 1e6) AS BIGINT) / 1e6 AS mean_winsor
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |GROUP BY d.lang, thr.n, thr.lo, thr.hi ORDER BY d.lang""".stripMargin,
    "q_quality_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS c_ls
        |  FROM documents GROUP BY 1, 2),
        |cl AS (SELECT lang, CAST(SUM(c_ls) AS BIGINT) AS c_l
        |  FROM cells GROUP BY 1),
        |cs AS (SELECT source, CAST(SUM(c_ls) AS BIGINT) AS c_s
        |  FROM cells GROUP BY 1),
        |n AS (SELECT CAST(SUM(c_ls) AS BIGINT) AS n_docs FROM cells),
        |mi AS (
        |  SELECT MAX(n_docs) AS n_docs, COUNT(*) AS n_cells,
        |    CAST(floor(CAST(SUM(c_ls * CAST(round(ln(
        |        (CAST(c_ls AS DOUBLE) * CAST(n_docs AS DOUBLE)) /
        |        (CAST(c_l AS DOUBLE) * CAST(c_s AS DOUBLE))), 6)
        |      AS DECIMAL(18,6))) AS DOUBLE) / MAX(n_docs) * 1e6)
        |      AS BIGINT) / 1e6 AS mi
        |  FROM cells
        |  JOIN cl ON cells.lang = cl.lang
        |  JOIN cs ON cells.source = cs.source
        |  CROSS JOIN n),
        |hl AS (
        |  SELECT CAST(floor(-CAST(SUM(c_l * CAST(round(ln(
        |      CAST(c_l AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / MAX(n_docs) * 1e6)
        |    AS BIGINT) / 1e6 AS h_lang
        |  FROM cl CROSS JOIN n),
        |hs AS (
        |  SELECT CAST(floor(-CAST(SUM(c_s * CAST(round(ln(
        |      CAST(c_s AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / MAX(n_docs) * 1e6)
        |    AS BIGINT) / 1e6 AS h_source
        |  FROM cs CROSS JOIN n)
        |SELECT n_docs, n_cells, mi, h_lang, h_source
        |FROM mi CROSS JOIN hl CROSS JOIN hs""".stripMargin,
    "q_quality_l_diversity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, user_id % 100 AS cohort,
        |  COUNT(DISTINCT CAST(floor(value / 10) AS BIGINT)) AS l_bands,
        |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_rows
        |FROM events
        |GROUP BY event_type, CAST(ts AS DATE), user_id % 100
        |HAVING COUNT(DISTINCT CAST(floor(value / 10) AS BIGINT)) < 3
        |ORDER BY event_type, day, cohort""".stripMargin,
    "q_quality_source_gini" ->
      """WITH v AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS x
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM v),
        |t AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS tot FROM v)
        |SELECT t.n AS n_sources, t.tot AS total_chars,
        |  round(CAST(SUM((r.i * 2 - t.n - 1) * r.x) AS DOUBLE) /
        |    CAST(t.n * t.tot AS DOUBLE), 6) AS gini
        |FROM r CROSS JOIN t GROUP BY t.n, t.tot""".stripMargin,
    // entropy terms rounded 6dp then summed as DECIMAL — see
    // datasetCard's scaladoc for why the sum must be decimal
    "q_quality_dataset_card" ->
      """WITH sl AS (
        |  SELECT source, lang, COUNT(*) AS n_sl,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars_sl
        |  FROM documents GROUP BY source, lang),
        |t AS (SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_docs
        |      FROM sl GROUP BY source),
        |terms AS (
        |  SELECT sl.source, sl.lang, sl.n_sl, sl.chars_sl, t.n_docs,
        |    CAST(round(-(CAST(sl.n_sl AS DOUBLE) / CAST(t.n_docs AS DOUBLE))
        |      * ln(CAST(sl.n_sl AS DOUBLE) / CAST(t.n_docs AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS term
        |  FROM sl JOIN t USING (source))
        |SELECT source, MAX(n_docs) AS n_docs,
        |  CAST(SUM(chars_sl) AS BIGINT) AS total_chars,
        |  round(CAST(SUM(chars_sl) AS DOUBLE)
        |    / CAST(MAX(n_docs) AS DOUBLE), 6) AS mean_chars,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(term) AS DOUBLE) AS lang_entropy
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    // integer-exact kappa: cells, pe numerator, and both kappa operands
    // stay BIGINT; the three rate divisions are the only doubles.
    // Mirrors labelAgreement (incl. the split-on-single-space token
    // count, the q_text_token_count precedent).
    "q_quality_label_agreement" ->
      """WITH l AS (
        |  SELECT CASE WHEN n_chars BETWEEN 100 AND 500
        |              THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 90
        |         THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |c AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN a=1 AND b=1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(SUM(CASE WHEN a=1 AND b=0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10,
        |    CAST(SUM(CASE WHEN a=0 AND b=1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n01,
        |    CAST(SUM(CASE WHEN a=0 AND b=0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n00
        |  FROM l),
        |k AS (
        |  SELECT *, CAST((n11 + n10) * (n11 + n01)
        |    + (n00 + n01) * (n00 + n10) AS BIGINT) AS pe_num
        |  FROM c)
        |SELECT n, n11, n10, n01, n00,
        |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |  round(CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
        |  round(CAST(n * (n11 + n00) - pe_num AS DOUBLE)
        |    / CAST(n * n - pe_num AS DOUBLE), 6) AS kappa
        |FROM k""".stripMargin,
    "q_quality_constraint_audit" ->
      """SELECT * FROM (
        |  SELECT 'orders_null_key' AS check_name,
        |    COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_dup_key', COUNT(*) FROM (
        |    SELECT o_orderkey FROM orders
        |    GROUP BY o_orderkey HAVING COUNT(*) > 1)
        |  UNION ALL
        |  SELECT 'orders_orphan_custkey', COUNT(*) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem_orphan_orderkey', COUNT(*) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_negative_price',
        |    COUNT(*) FILTER (WHERE o_totalprice < 0)
        |  FROM orders)
        |ORDER BY check_name""".stripMargin,
    "q_quality_k_anonymity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(floor(value / 10) AS BIGINT) AS value_band,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_rows
        |FROM events GROUP BY 1, 2, 3
        |HAVING count(DISTINCT user_id) < 5
        |ORDER BY event_type, day, value_band""".stripMargin,
    "q_quality_mad" ->
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type, m.med,
        |    round(quantile_cont(abs(value - m.med), 0.5), 6) AS mad
        |  FROM events e JOIN med m ON e.event_type = m.event_type
        |  GROUP BY e.event_type, m.med)
        |SELECT e.event_type, COUNT(*) AS n, d.med, d.mad,
        |  COUNT(*) FILTER (WHERE abs(value - d.med) > 4.4478 * d.mad)
        |    AS n_robust_outliers
        |FROM events e JOIN mad d ON e.event_type = d.event_type
        |GROUP BY e.event_type, d.med, d.mad
        |ORDER BY e.event_type""".stripMargin,
    "q_quality_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT)
        |              AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) >= 1),
        |n AS (SELECT COUNT(*) AS n_total FROM d),
        |e AS (SELECT digit, CAST(ef AS DOUBLE) AS exp_frac FROM (VALUES
        |  (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
        |  (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        |  (9, 0.045757)) t(digit, ef)),
        |c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit)
        |SELECT c.digit, n_obs,
        |  round(CAST(n_obs AS DOUBLE) / n_total, 6) AS obs_frac,
        |  exp_frac,
        |  round((CAST(n_obs AS DOUBLE) - exp_frac * n_total)
        |      * (CAST(n_obs AS DOUBLE) - exp_frac * n_total)
        |      / (exp_frac * n_total), 6) AS chi2_term
        |FROM c JOIN e ON c.digit = e.digit CROSS JOIN n
        |ORDER BY c.digit""".stripMargin,
    "q_quality_profile" ->
      """WITH a AS (
        |  SELECT
        |    round(CAST(COUNT(o_orderkey) AS DOUBLE) / COUNT(*), 6) AS c1,
        |    round(CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*), 6) AS c2,
        |    round(CAST(COUNT(o_orderstatus) AS DOUBLE) / COUNT(*), 6) AS c3,
        |    round(CAST(COUNT(o_totalprice) AS DOUBLE) / COUNT(*), 6) AS c4,
        |    round(CAST(COUNT(o_orderpriority) AS DOUBLE) / COUNT(*), 6)
        |      AS c5,
        |    CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS d1,
        |    CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS d2,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) AS d3,
        |    CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) AS d4,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) AS d5,
        |    round(min(o_totalprice), 6) AS mn,
        |    round(max(o_totalprice), 6) AS mx,
        |    round(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 6)
        |               AS DOUBLE) / COUNT(o_totalprice), 6) AS mean_p
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS column_name, 'completeness' AS metric,
        |         c1 AS value FROM a
        |  UNION ALL SELECT 'o_custkey', 'completeness', c2 FROM a
        |  UNION ALL SELECT 'o_orderstatus', 'completeness', c3 FROM a
        |  UNION ALL SELECT 'o_totalprice', 'completeness', c4 FROM a
        |  UNION ALL SELECT 'o_orderpriority', 'completeness', c5 FROM a
        |  UNION ALL SELECT 'o_orderkey', 'n_distinct', d1 FROM a
        |  UNION ALL SELECT 'o_custkey', 'n_distinct', d2 FROM a
        |  UNION ALL SELECT 'o_orderstatus', 'n_distinct', d3 FROM a
        |  UNION ALL SELECT 'o_totalprice', 'n_distinct', d4 FROM a
        |  UNION ALL SELECT 'o_orderpriority', 'n_distinct', d5 FROM a
        |  UNION ALL SELECT 'o_totalprice', 'min', mn FROM a
        |  UNION ALL SELECT 'o_totalprice', 'max', mx FROM a
        |  UNION ALL SELECT 'o_totalprice', 'mean', mean_p FROM a)
        |ORDER BY column_name, metric""".stripMargin,
    "q_quality_psi_drift" ->
      """WITH ev AS (
        |  SELECT value, day(ts) % 2 AS slice FROM events),
        |edges AS (
        |  SELECT round(quantile_cont(value, 0.1), 6) AS e1,
        |         round(quantile_cont(value, 0.2), 6) AS e2,
        |         round(quantile_cont(value, 0.3), 6) AS e3,
        |         round(quantile_cont(value, 0.4), 6) AS e4,
        |         round(quantile_cont(value, 0.5), 6) AS e5,
        |         round(quantile_cont(value, 0.6), 6) AS e6,
        |         round(quantile_cont(value, 0.7), 6) AS e7,
        |         round(quantile_cont(value, 0.8), 6) AS e8,
        |         round(quantile_cont(value, 0.9), 6) AS e9
        |  FROM ev WHERE slice = 0),
        |b AS (
        |  SELECT slice,
        |    (value > e1)::INT + (value > e2)::INT + (value > e3)::INT +
        |    (value > e4)::INT + (value > e5)::INT + (value > e6)::INT +
        |    (value > e7)::INT + (value > e8)::INT + (value > e9)::INT
        |      AS bucket
        |  FROM ev CROSS JOIN edges),
        |c AS (
        |  SELECT bucket,
        |    COUNT(*) FILTER (WHERE slice = 0) AS n_ref,
        |    COUNT(*) FILTER (WHERE slice = 1) AS n_cur
        |  FROM b GROUP BY bucket),
        |t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM c)
        |SELECT bucket,
        |  round(greatest(CAST(n_ref AS DOUBLE) / t_ref, 0.0001), 6)
        |    AS p_frac,
        |  round(greatest(CAST(n_cur AS DOUBLE) / t_cur, 0.0001), 6)
        |    AS q_frac,
        |  round((round(greatest(CAST(n_cur AS DOUBLE) / t_cur, 0.0001), 6)
        |       - round(greatest(CAST(n_ref AS DOUBLE) / t_ref, 0.0001), 6))
        |    * round(ln(round(greatest(CAST(n_cur AS DOUBLE) / t_cur,
        |                              0.0001), 6)
        |             / round(greatest(CAST(n_ref AS DOUBLE) / t_ref,
        |                              0.0001), 6)), 6), 6) AS psi_term
        |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
    "q_quality_outlier_iqr" ->
      """WITH fences AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.25), 6) AS q1,
        |    round(quantile_cont(value, 0.75), 6) AS q3
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n_outliers,
        |  round(min(value), 2) AS min_out, round(max(value), 2) AS max_out
        |FROM events e JOIN fences f ON e.event_type = f.event_type
        |WHERE value < q1 - 1.5 * (q3 - q1) OR value > q3 + 1.5 * (q3 - q1)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)
}
