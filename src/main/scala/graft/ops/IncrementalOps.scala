package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-maintenance operators — the patterns that keep a 100 TB
  * pipeline from ever recomputing what it already knows:
  *
  *   q_scan_snapshot_diff — CDC between two corpus snapshots by content
  *     hash: added / removed / changed / unchanged per doc_id. The diff
  *     join carries (doc_id, 32-byte sha2) — never document text — so
  *     its shuffle is O(corpus rows × 40 B) regardless of corpus bytes;
  *     on date-partitioned snapshots the same plan prunes to changed
  *     partitions. This is the feed for incremental index updates
  *     (exact/MinHash/span indexes all consume "added ∪ changed").
  *
  *   q_agg_incremental — incremental view maintenance for the daily
  *     rollup: the historical aggregate is a PERSISTED artifact (one
  *     row per (day, event_type), decimal-exact partial sums); a new
  *     day's batch aggregates only itself and MERGES by re-aggregating
  *     the union — decimal sums merge exactly, so the result is
  *     hash-identical to a full recompute (which is precisely what the
  *     DuckDB oracle runs). Cost per day at 100 TB: one scan of the
  *     day's partition + a merge over the agg table (KBs), not the
  *     history. Late-arriving days need no special case: the union
  *     re-aggregate folds them wherever they land.
  */
object IncrementalOps extends graft.QueryModule {

  /** Snapshot derivation (deterministic fixture slices of `documents`):
    * old = doc_id % 5 != 0, new = doc_id % 3 != 0 with doc_id % 11 == 0
    * texts revised ("v2" suffix). Real deployments read two dated
    * snapshot roots instead; the operator is the full-outer hash
    * compare, not the slicing. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val old = docs.filter($"doc_id" % 5 =!= 0)
      .select($"doc_id", sha2($"text", 256).as("h_old"))
    val neu = docs.filter($"doc_id" % 3 =!= 0)
      .select($"doc_id", sha2(
        when($"doc_id" % 11 === 0, concat($"text", lit(" v2")))
          .otherwise($"text"), 256).as("h_new"))
    old.join(neu, Seq("doc_id"), "full")
      .select($"doc_id",
        when($"h_old".isNull, lit("added"))
          .when($"h_new".isNull, lit("removed"))
          .when($"h_old" =!= $"h_new", lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy($"doc_id")
  }

  /** Per-(day, event_type) partial aggregate with MERGEABLE state:
    * count + decimal-exact sum (not yet cast to double — the cast
    * happens once, after the last merge). Input must carry `day`. */
  private def dailyAgg(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(AggOps.dec($"value")).as("rev_dec"))
  }

  private def withDay(ev: DataFrame): DataFrame =
    ev.withColumn("day", to_date(col("ts")))

  /** Persist the HISTORY rollup (all days strictly before the newest) —
    * in production this is yesterday's agg table; the newest day plays
    * the arriving batch. The 1-row max-day collect is bounded by
    * construction (the upsert-sink precedent). */
  private[ops] def buildAggIndex(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.Artifacts.ensure("graft_dayagg/", sfDir, "events.parquet", "v1") { tmp =>
      val ev = withDay(graft.Tables.events(spark, sfDir))
      val last = ev.agg(max($"day")).collect()(0).getDate(0)
      dailyAgg(ev.filter($"day" < lit(last)))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** q_agg_incremental — merge(history artifact, missing-day batch);
    * value-identical to the full recompute the oracle runs. The batch
    * is "every day the artifact does not know" via a broadcast
    * anti-join on the artifact's (tiny) day set — ONE scan of the raw
    * table total (IncrementalSpec pins it), and any number of new days
    * fold in at once. The unit of increment is the DAY: a mutated
    * historical day means invalidating that day's artifact rows
    * (partition overwrite), not this query's job. */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hist = spark.read.parquet(buildAggIndex(spark, sfDir))
    val ev = withDay(graft.Tables.events(spark, sfDir))
    val batch = dailyAgg(ev.join(
      broadcast(hist.select($"day").distinct()), Seq("day"), "left_anti"))
    hist.unionByName(batch)
      .groupBy($"day", $"event_type")
      .agg(sum($"n_events").as("n_events"),
        sum($"rev_dec").as("rev"))
      .select($"day", $"event_type", $"n_events",
        $"rev".cast("double").as("revenue"))
      .orderBy($"day", $"event_type")
  }

  /** q_agg_hll_merge — mergeable-sketch distinct counting (Apache
    * DataSketches HLL through Spark's hll_sketch_agg/hll_union_agg,
    * SPARK-16484): per-day sketches union into the range answer
    * WITHOUT rescanning rows, the property that makes distinct-count
    * rollups incremental — a 100 TB events table keeps one ~1.5 KB
    * sketch per (day) partition, and "distinct users over any day
    * range" is a union over that tiny state, the same merge shape as
    * [[incrementalAgg]]'s decimal sums. The query PROVES the identity
    * on real data by computing the estimate both ways: merged
    * per-day partials vs one direct pass. HLL register-max union is
    * exact (union-of-sketches == sketch-of-union), so est_merged ==
    * est_direct to the bit, pinned in IncrementalSpec along with a
    * relative-error bound against the exact count. Declared rows-only
    * (the estimator is impl-specific; DuckDB's approx_count_distinct
    * is a different sketch). */
  def hllMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = withDay(graft.Tables.events(spark, sfDir))
    val daily = ev.groupBy($"day")
      .agg(hll_sketch_agg($"user_id").as("sk"),
        count(lit(1)).as("n_events"))
    val merged = daily.agg(
      count(lit(1)).as("n_days"),
      sum($"n_events").as("n_events"),
      hll_sketch_estimate(hll_union_agg($"sk")).as("est_merged"))
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg($"user_id")).as("est_direct"),
      countDistinct($"user_id").as("exact_distinct"))
    merged.crossJoin(direct)
      .select($"n_days", $"n_events", $"est_merged", $"est_direct",
        $"exact_distinct")
  }

  /** q_agg_theta_sets — audience-overlap set algebra on Theta sketches
    * (DataSketches via Spark 4's theta_sketch_agg/theta_intersection/
    * theta_union/theta_difference): distinct-user intersection /
    * union / difference between two event cohorts WITHOUT the
    * user_id-keyed shuffle an exact distinct-intersection needs —
    * each cohort folds to one ~KB sketch and the set ops run on the
    * sketch pair, which is why overlap questions on a 100 TB events
    * table are a sketch-exchange, not a join (and why HLL alone is
    * not enough: HLL unions but cannot intersect; Theta is the
    * mergeable state for set ALGEBRA). The exact per-user recompute
    * rides along so the declared result self-documents the estimate
    * error; at fixture cardinality (150 users < the sketch's nominal
    * entries) Theta runs in exact mode and IncrementalSpec pins
    * estimate == exact plus the inclusion-exclusion identity.
    * Declared rows-only (sketch internals are impl-specific). */
  def thetaSets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
    // ONE events pass: the per-user cohort membership bits; everything
    // else (sketches, exact counts, set algebra) derives from this
    // users-sized frame — the three-separate-aggregates spelling read
    // events once per cohort plus once for the exact recompute
    val perUser = ev
      .filter($"event_type" === "purchase" || $"event_type" === "signup")
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1).otherwise(0)).as("p"),
        max(when($"event_type" === "signup", 1).otherwise(0)).as("s"))
      .localCheckpoint()
    val p = perUser.filter($"p" === 1)
      .agg(expr("theta_sketch_agg(user_id)").as("sk_p"),
        count(lit(1)).as("exact_purchase"))
    val s = perUser.filter($"s" === 1)
      .agg(expr("theta_sketch_agg(user_id)").as("sk_s"),
        count(lit(1)).as("exact_signup"))
    val exact = perUser
      .agg(sum(when($"p" === 1 && $"s" === 1, 1L).otherwise(0L))
          .as("exact_both"),
        count(lit(1)).as("exact_either"))
    p.crossJoin(s).crossJoin(exact)
      .select(
        expr("theta_sketch_estimate(theta_intersection(sk_p, sk_s))")
          .as("est_both"),
        expr("theta_sketch_estimate(theta_union(sk_p, sk_s))")
          .as("est_either"),
        expr("theta_sketch_estimate(theta_difference(sk_p, sk_s))")
          .as("est_only_purchase"),
        $"exact_both", $"exact_either",
        $"exact_purchase", $"exact_signup")
  }

  /** ENGINE-NEUTRAL 60-bit hash (the CMS/simhash sha256-slice
    * precedent): the first 15 hex chars of sha256 of the value's
    * decimal-string form, as a non-negative BIGINT. DuckDB reproduces
    * it bit-for-bit via
    * `CAST(('0x' || substr(sha256(CAST(x AS VARCHAR)), 1, 15)) AS BIGINT)`
    * — 60 bits keeps the unsigned value inside signed int64 range in
    * BOTH engines, so every downstream mod / div / shift is plain
    * integer arithmetic. Pure column expression: stays in whole-stage
    * codegen. */
  private def h60(c: Column): Column =
    conv(substring(sha2(c.cast("string"), 256), 1, 15), 16, 10).cast("long")

  private val HllM = 256        // 2^8 registers
  private val HllMaxBits = 52   // 60-bit hash minus 8 bucket bits
  private val Pow53 = 9007199254740992L // 2^(HllMaxBits+1)

  /** q_agg_hll_portable — the VALUE-ORACLED twin of [[hllMerge]]: plain
    * HyperLogLog (Flajolet et al. 2007) run in an engine-neutral mode
    * so a DuckDB oracle rebuilds the registers AND the estimate
    * bit-for-bit, the promotion pattern that took q_agg_cms_token_freq
    * and q_dedup_simhash off the rows-only list. The DataSketches
    * HLL of [[hllMerge]] stays the 100 TB default (denser registers,
    * cheaper hash); this twin exists to put the merge algebra itself
    * under the hash-exact oracle.
    *
    * Portability is engineered, not hoped for:
    *   - register index = h % 256 and rank input w = h div 256 are
    *     exact int64 ops on the [[h60]] hash;
    *   - rho = 53 - msb(w) comes from the BINARY-STRING length
    *     (`bin`/`format('{:b}')`), never floating log2;
    *   - the harmonic denominator Σ 2^(-Mj) is carried as the EXACT
    *     integer numerator Σ 2^(53-Mj) (≤ 256·2^52 + 256·2^53 < 2^62,
    *     no overflow), so the raw estimate is one double division —
    *     immune to Spark's partial-aggregation summation order;
    *   - the only transcendental (linear-counting ln) feeds a
    *     round(…, 2) with ~1e13 ulp margin.
    * Small-range correction per the paper: raw ≤ 2.5m and zero
    * registers present → linear counting m·ln(m/V). The sf0.01 fixture
    * (150 users) exercises the LC branch, sf0.1 (1500) the raw branch.
    *
    * The merge identity is proven IN the declared result: per-day
    * register maxes re-maxed across days (est_merged — the incremental
    * rollup path, same shape as [[incrementalAgg]]) vs one direct pass
    * (est_direct); register-max union is exact, so the columns are
    * bit-identical, and the oracle recomputes both from rows. */
  def hllPortable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = withDay(graft.Tables.events(spark, sfDir))
      .filter($"user_id".isNotNull)
    val hashed = ev.select($"day", h60($"user_id").as("h"))
      .select($"day", ($"h" % HllM).as("bucket"), expr("h div 256").as("w"))
      .select($"day", $"bucket",
        when($"w" === 0, lit(HllMaxBits + 1))
          .otherwise(lit(HllMaxBits + 1) - length(bin($"w"))).as("rho"))
    val daily = hashed.groupBy($"day", $"bucket").agg(max($"rho").as("mj"))
    val merged = daily.groupBy($"bucket").agg(max($"mj").as("mj"))
    val direct = hashed.groupBy($"bucket").agg(max($"rho").as("mj"))
    // one-row sketch summaries: occupied register count + exact integer
    // harmonic numerator (empty registers contribute 2^53 each, added
    // below from V so the aggregate never sees them)
    def summary(regs: DataFrame, tag: String): DataFrame =
      regs.agg(count(lit(1)).as(s"occ_$tag"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).as(s"s_$tag"))
    def estimate(occ: Column, sOcc: Column): Column = {
      val vZero = lit(HllM) - occ
      val sNum = (coalesce(sOcc, lit(0L)) + vZero * lit(Pow53)).cast("double")
      val alpha = lit(0.7213 / (1.0 + 1.079 / 256.0))
      val raw = alpha * lit(65536.0) * lit(Pow53.toDouble) / sNum
      round(when(vZero > 0 && raw <= lit(2.5 * HllM),
        lit(256.0) * log(lit(256.0) / vZero.cast("double")))
        .otherwise(raw), 2)
    }
    val exact = ev.agg(countDistinct($"user_id").as("exact_distinct"),
      countDistinct($"day").as("n_days"))
    summary(merged, "m").crossJoin(summary(direct, "d")).crossJoin(exact)
      .select($"n_days",
        (lit(HllM) - $"occ_m").as("v_zero"),
        ($"s_m" + (lit(HllM) - $"occ_m") * lit(Pow53)).as("harm_num"),
        estimate($"occ_m", $"s_m").as("est_merged"),
        estimate($"occ_d", $"s_d").as("est_direct"),
        $"exact_distinct")
  }

  private val ThetaK = 64
  private val Pow60 = 1152921504606846976L // 2^60, the h60 hash range

  /** q_agg_theta_portable — the VALUE-ORACLED twin of [[thetaSets]]:
    * the KMV / bottom-k form of the Theta sketch (Beyer et al. 2007,
    * "On synopses for distinct-value estimation under multiset
    * operations" — the construction Theta generalizes), run on [[h60]]
    * hashes so DuckDB reproduces sample, thresholds and estimates
    * bit-for-bit. DataSketches Theta ([[thetaSets]]) stays the scale
    * default; this twin pins the set-algebra math under the oracle.
    *
    * Shape: one pass folds events to per-user cohort bits (purchase /
    * signup — the only users-sized frame), each cohort keeps its k=64
    * smallest hashes (TakeOrdered heap, never a global sort), and all
    * estimation is integer/rational:
    *   est(|A|)    = (k-1) · 2^60 / u_k   (exact count when |A| ≤ k)
    *   est(|A∪B|)  = same formula over the k smallest of the merged
    *                 samples (KMV merge = k smallest of the union —
    *                 the mergeability that makes cohort overlap a
    *                 sketch exchange, not a user_id shuffle);
    *   est(|A∩B|)  = ρ · est(|A∪B|), ρ = fraction of the merged top-k
    *                 present in BOTH cohort samples (exact when the
    *                 union fits in k).
    * Exact recomputes ride along so the row self-documents the error.
    * Every column is one double division + round(2); no
    * transcendentals at all. */
  def thetaPortable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sfDir)
    val perUser = ev.filter($"user_id".isNotNull)
      .filter($"event_type" === "purchase" || $"event_type" === "signup")
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1).otherwise(0)).as("p"),
        max(when($"event_type" === "signup", 1).otherwise(0)).as("s"))
      .select($"p", $"s", h60($"user_id").as("h"))
      .localCheckpoint()
    val sampP = perUser.filter($"p" === 1).orderBy($"h").limit(ThetaK)
    val sampS = perUser.filter($"s" === 1).orderBy($"h").limit(ThetaK)
    val mergedK = sampP.unionByName(sampS).distinct()
      .orderBy($"h").limit(ThetaK)
    def kmv(samp: DataFrame, tag: String): DataFrame =
      samp.agg(count(lit(1)).as(s"n_$tag"), max($"h").as(s"uk_$tag"),
        sum(when($"p" === 1 && $"s" === 1, 1L).otherwise(0L)).as(s"both_$tag"))
    def est(n: Column, uk: Column): Column =
      when(n < ThetaK, n.cast("double"))
        .otherwise(lit((ThetaK - 1).toDouble * Pow60) / uk.cast("double"))
    val exact = perUser.agg(
      sum(when($"p" === 1, 1L).otherwise(0L)).as("exact_purchase"),
      sum(when($"s" === 1, 1L).otherwise(0L)).as("exact_signup"),
      sum(when($"p" === 1 && $"s" === 1, 1L).otherwise(0L)).as("exact_both"),
      count(lit(1)).as("exact_either"))
    kmv(sampP, "p").crossJoin(kmv(sampS, "s"))
      .crossJoin(kmv(mergedK, "m")).crossJoin(exact)
      .select(
        round(est($"n_p", $"uk_p"), 2).as("est_purchase"),
        round(est($"n_s", $"uk_s"), 2).as("est_signup"),
        round(est($"n_m", $"uk_m"), 2).as("est_union"),
        round(when($"n_m" < ThetaK, $"both_m".cast("double"))
          .otherwise($"both_m".cast("double") * est($"n_m", $"uk_m")
            / lit(ThetaK.toDouble)), 2).as("est_intersect"),
        $"exact_purchase", $"exact_signup", $"exact_both", $"exact_either")
  }

  /** q_agg_quantile_portable — the VALUE-ORACLED mergeable-quantile
    * twin that completes the portable-sketch trilogy ([[hllPortable]]
    * distinct counts, [[thetaPortable]] set algebra, this one
    * quantiles): a fixed-width histogram sketch (width-4 bins over
    * events.value, ~125 bins at the fixture's [0, 500) range) built
    * per-day and MERGED by elementwise count addition — the exact
    * mergeability GK/KLL approximate, demonstrable here because counts
    * are integers and + is associative, so est_merged ≡ est_direct
    * bit-for-bit and the DuckDB oracle replays everything. Estimation
    * is rank interpolation inside the covering bin: target rank
    * t = ceil(q·N) in INTEGER basis points ((N·qbp + 9999) div 10000 —
    * no float q·N whose ulp could flip a ceil), covering bin by a
    * 3×|bins| theta-join of two tiny frames, one rounded double
    * division at the end. The bin histogram is vocabulary-bounded, so
    * at 100 TB the sketch is still ~125 rows per day: the per-day
    * build is one partial-agg'd shuffle, the merge is a sketch
    * exchange, and the cumulative window runs over ≤125 rows (the
    * globalShuffle offsets precedent). Bin width is the accuracy knob:
    * error ≤ 4 by construction, vs the GK/KLL twins' rank-error
    * contract pinned in ApproxSpec. */
  def quantilePortable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = withDay(graft.Tables.events(spark, sfDir))
      .filter($"value".isNotNull)
      .select($"day", floor($"value" / 4.0).cast("long").as("bin"))
    val daily = ev.groupBy($"day", $"bin").agg(count(lit(1)).as("n"))
    val merged = daily.groupBy($"bin").agg(sum($"n").as("n"))
    val direct = ev.groupBy($"bin").agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    def cum(h: DataFrame): DataFrame = h.withColumn("cum_before",
      coalesce(sum($"n").over(wCum), lit(0L))) // <= ~125 rows, declared
    val total = ev.agg(count(lit(1)).as("n_total"))
    val targets = Seq(5000L, 9000L, 9900L).toDF("qbp")
      .crossJoin(broadcast(total))
      .withColumn("t", expr("(n_total * qbp + 9999) div 10000"))
    def estimate(h: DataFrame, out: String): DataFrame =
      targets.join(broadcast(cum(h)),
          $"cum_before" < $"t" && $"cum_before" + $"n" >= $"t")
        .select($"qbp", $"t", $"bin", $"cum_before", $"n".as("bin_n"),
          round($"bin" * 4.0 +
            lit(4.0) * ($"t" - $"cum_before").cast("double") /
              $"n".cast("double"), 6).as(out))
    estimate(merged, "est_merged")
      .join(estimate(direct, "est_direct")
        .select($"qbp", $"est_direct"), Seq("qbp"))
      .orderBy($"qbp")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_quantile_portable" -> (quantilePortable _),
    "q_scan_snapshot_diff" -> (snapshotDiff _),
    "q_agg_incremental" -> (incrementalAgg _),
    "q_agg_hll_merge" -> (hllMerge _),
    "q_agg_theta_sets" -> (thetaSets _),
    "q_agg_hll_portable" -> (hllPortable _),
    "q_agg_theta_portable" -> (thetaPortable _))

  def oracle: Map[String, String] = Map(
    "q_scan_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents
        |  WHERE doc_id % 5 <> 0),
        |b AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
        |                ELSE text END) AS h
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.h IS NULL THEN 'added'
        |       WHEN b.h IS NULL THEN 'removed'
        |       WHEN a.h <> b.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM a FULL JOIN b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_agg_incremental" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS revenue
        |FROM events GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    // bit-exact histogram-quantile twin: width-4 bins, per-day counts
    // re-summed vs one direct pass, integer basis-point target ranks,
    // rank interpolation inside the covering bin. Mirrors
    // quantilePortable.
    "q_agg_quantile_portable" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(floor(value / 4.0) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL),
        |daily AS (SELECT day, bin, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |merged AS (SELECT bin, CAST(SUM(n) AS BIGINT) AS n
        |           FROM daily GROUP BY 1),
        |direct AS (SELECT bin, COUNT(*) AS n FROM ev GROUP BY 1),
        |cm AS (SELECT bin, n, CAST(coalesce(SUM(n) OVER
        |    (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM merged),
        |cd AS (SELECT bin, n, CAST(coalesce(SUM(n) OVER
        |    (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM direct),
        |tt AS (SELECT COUNT(*) AS n_total FROM ev),
        |tg AS (SELECT CAST(qbp AS BIGINT) AS qbp,
        |    CAST((n_total * qbp + 9999) // 10000 AS BIGINT) AS t
        |  FROM (VALUES (5000), (9000), (9900)) v(qbp), tt),
        |em AS (
        |  SELECT tg.qbp, tg.t, cm.bin, cm.cum_before, cm.n AS bin_n,
        |    round(cm.bin * 4.0 + 4.0 * CAST(tg.t - cm.cum_before AS DOUBLE)
        |      / CAST(cm.n AS DOUBLE), 6) AS est_merged
        |  FROM tg JOIN cm
        |    ON cm.cum_before < tg.t AND cm.cum_before + cm.n >= tg.t),
        |ed AS (
        |  SELECT tg.qbp,
        |    round(cd.bin * 4.0 + 4.0 * CAST(tg.t - cd.cum_before AS DOUBLE)
        |      / CAST(cd.n AS DOUBLE), 6) AS est_direct
        |  FROM tg JOIN cd
        |    ON cd.cum_before < tg.t AND cd.cum_before + cd.n >= tg.t)
        |SELECT em.qbp, em.t, em.bin, em.cum_before, em.bin_n,
        |  em.est_merged, ed.est_direct
        |FROM em JOIN ed ON em.qbp = ed.qbp
        |ORDER BY em.qbp""".stripMargin,
    // bit-exact HLL twin: registers from the 60-bit sha256-slice hash
    // (bucket = h % 256, rho = 53 - msb(h // 256) via binary-string
    // length), harmonic numerator as exact BIGINT Σ 2^(53-Mj), raw
    // estimate = α·m²·2^53 / S in one double division, LC branch when
    // raw ≤ 2.5m with zero registers present. Mirrors hllPortable.
    "q_agg_hll_portable" ->
      """WITH hashed AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT day, h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(format('{:b}', h // 256)) END AS rho
        |  FROM hashed),
        |daily AS (SELECT day, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
        |merged AS (SELECT bucket, max(mj) AS mj FROM daily GROUP BY 1),
        |direct AS (SELECT bucket, max(rho) AS mj FROM r GROUP BY 1),
        |sm AS (SELECT count(*) AS occ,
        |         CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS s
        |       FROM merged),
        |sd AS (SELECT count(*) AS occ,
        |         CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS s
        |       FROM direct),
        |ex AS (SELECT count(DISTINCT user_id) AS exact_distinct,
        |         count(DISTINCT CAST(ts AS DATE)) AS n_days
        |       FROM events WHERE user_id IS NOT NULL),
        |est AS (
        |  SELECT
        |    (256 - sm.occ) AS v_zero,
        |    sm.s + (256 - sm.occ) * 9007199254740992 AS harm_num,
        |    (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
        |      / CAST(sm.s + (256 - sm.occ) * 9007199254740992 AS DOUBLE)
        |      AS raw_m,
        |    (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
        |      / CAST(sd.s + (256 - sd.occ) * 9007199254740992 AS DOUBLE)
        |      AS raw_d,
        |    (256 - sd.occ) AS v_zero_d
        |  FROM sm, sd)
        |SELECT ex.n_days, est.v_zero, est.harm_num,
        |  round(CASE WHEN est.v_zero > 0 AND est.raw_m <= 640.0
        |    THEN 256.0 * ln(256.0 / est.v_zero) ELSE est.raw_m END, 2)
        |    AS est_merged,
        |  round(CASE WHEN est.v_zero_d > 0 AND est.raw_d <= 640.0
        |    THEN 256.0 * ln(256.0 / est.v_zero_d) ELSE est.raw_d END, 2)
        |    AS est_direct,
        |  ex.exact_distinct
        |FROM est, ex""".stripMargin,
    // bit-exact KMV twin: bottom-64 sha256-slice hashes per cohort,
    // merged sample = 64 smallest of the union, estimates all
    // (k-1)·2^60/u_k one-division rationals. Mirrors thetaPortable.
    "q_agg_theta_portable" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s
        |  FROM events
        |  WHERE user_id IS NOT NULL
        |    AND event_type IN ('purchase', 'signup')
        |  GROUP BY 1),
        |hu AS (SELECT p, s,
        |  CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))
        |       AS BIGINT) AS h
        |  FROM pu),
        |sp AS (SELECT * FROM hu WHERE p = 1 ORDER BY h LIMIT 64),
        |ss AS (SELECT * FROM hu WHERE s = 1 ORDER BY h LIMIT 64),
        |sm AS (SELECT DISTINCT p, s, h
        |       FROM (SELECT * FROM sp UNION ALL SELECT * FROM ss)
        |       ORDER BY h LIMIT 64),
        |kp AS (SELECT count(*) AS n, max(h) AS uk FROM sp),
        |ks AS (SELECT count(*) AS n, max(h) AS uk FROM ss),
        |km AS (SELECT count(*) AS n, max(h) AS uk,
        |         CAST(sum(CASE WHEN p = 1 AND s = 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS nb
        |       FROM sm),
        |ex AS (SELECT
        |    CAST(sum(p) AS BIGINT) AS exact_purchase,
        |    CAST(sum(s) AS BIGINT) AS exact_signup,
        |    CAST(sum(CASE WHEN p = 1 AND s = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS exact_both,
        |    count(*) AS exact_either
        |  FROM hu),
        |es AS (
        |  SELECT
        |    CASE WHEN kp.n < 64 THEN CAST(kp.n AS DOUBLE)
        |         ELSE 63.0 * 1152921504606846976 / CAST(kp.uk AS DOUBLE)
        |    END AS e_p,
        |    CASE WHEN ks.n < 64 THEN CAST(ks.n AS DOUBLE)
        |         ELSE 63.0 * 1152921504606846976 / CAST(ks.uk AS DOUBLE)
        |    END AS e_s,
        |    CASE WHEN km.n < 64 THEN CAST(km.n AS DOUBLE)
        |         ELSE 63.0 * 1152921504606846976 / CAST(km.uk AS DOUBLE)
        |    END AS e_m,
        |    km.n AS nm, km.nb AS nb
        |  FROM kp, ks, km)
        |SELECT round(e_p, 2) AS est_purchase,
        |  round(e_s, 2) AS est_signup,
        |  round(e_m, 2) AS est_union,
        |  round(CASE WHEN nm < 64 THEN CAST(nb AS DOUBLE)
        |        ELSE CAST(nb AS DOUBLE) * e_m / 64.0 END, 2)
        |    AS est_intersect,
        |  exact_purchase, exact_signup, exact_both, exact_either
        |FROM es, ex""".stripMargin)
}
