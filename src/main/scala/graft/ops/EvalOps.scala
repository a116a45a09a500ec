package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation statistics a training/eval pipeline runs AFTER the
  * corpus work: pairwise-preference ratings, sampled-success pass@k,
  * paired-classifier comparison, multiple-testing control, and
  * monotone calibration. All are fully DuckDB-oracled: bounded domains
  * (suppliers, score bins, a 31-token vocabulary, k ∈ {1,3,5}) keep
  * every iterative/quadratic piece corpus-independent, and the corpus
  * enters only through hash aggregations. House numeric rules apply:
  * exact int64/decimal moments, one micro-floored double division per
  * readout column, min/max (order-independent) over doubles preferred
  * to sums where possible.
  */
object EvalOps extends graft.QueryModule {

  private def micro(c: Column): Column = floor(c * 1e6).cast("long") / 1e6

  /** All (si < sj, wi, wj) duels of ONE order's line list, emitted
    * MAP-side (r18): per-supplier exact-cents totals are summed inside
    * the bucket and tie pairs dropped — replaces the (l_orderkey)
    * shuffle self-join, whose both legs re-exchanged the per-order
    * aggregate. The bucket is the ORDER. TPC-H proper has 1-7 lines
    * per order, but the fixtures hold up to 12, 13 and 17 lines on
    * one order at sf0.001, 0.01 and 0.1, so the line list is held to
    * [[graft.llm.BucketPairs.MaxMembers]] at run time. */
  private val orderDuelsUdf =
    udf((ms: Seq[org.apache.spark.sql.Row]) => {
      graft.llm.BucketPairs.requireBounded(ms.length)
      val tot = new java.util.TreeMap[Long, Long]()
      ms.foreach { r =>
        tot.merge(r.getLong(0), r.getLong(1), (a, b) => a + b)
      }
      val n = tot.size
      val sk = new Array[Long](n); val tv = new Array[Long](n)
      var i = 0
      val it = tot.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next(); sk(i) = e.getKey; tv(i) = e.getValue; i += 1
      }
      val out = Array.newBuilder[(Long, Long, Long, Long)]
      var a = 0
      while (a < n) {
        var b = a + 1
        while (b < n) {
          if (tv(a) != tv(b))
            out += ((sk(a), sk(b),
              if (tv(a) > tv(b)) 1L else 0L, if (tv(b) > tv(a)) 1L else 0L))
          b += 1
        }
        a += 1
      }
      out.result()
    })

  /** q_ml_bradley_terry — Bradley–Terry preference ratings via the MM
    * algorithm (Hunter, Annals of Statistics 2004, eq. 1.4): pairwise
    * duels are derived from the data (two suppliers sharing an order
    * compete on exact-cents line revenue; ties are dropped), collapsed
    * once into the per-pair win matrix, and 6 fixed MM rounds iterate
    * p_i ← W_i / Σ_j n_ij/(p_i+p_j). Ratings are scale-free, so
    * normalization happens ONCE at readout (divide by the mean) — no
    * per-round scalar frame. Scale: duels are emitted MAP-side per
    * order bucket ([[orderDuelsUdf]], in place of the (l_orderkey)
    * shuffle self-join: one lineitem exchange instead of two plus the
    * join), the win matrix is bounded
    * by the supplier domain squared (observed pairs only), and every MM
    * round joins
    * that matrix to the ≤|supplier| rating frame (broadcast) — round
    * count is constant, each round localCheckpointed to cut lineage
    * (the kcore discipline), COALESCED to 1 partition first: the frame
    * is ≤|supplier| rows, and materializing it as 32 shuffle
    * partitions made checkpoint task overhead the dominant cost of
    * the whole query (8.5 s at sf0.1, the r14 suite's slowest). The
    * corpus is scanned exactly once. The readout ships the PER-ROUND
    * convergence curve — conv_d2/conv_d4/conv_max_delta = the max
    * normalized rating move at rounds 2, 4, and 6 — which is what cut
    * the budget from the r15 8 rounds: the iterate contracts at a
    * measured rate ≈0.55/round on this fixture (d: 0.058 → 0.017 →
    * 0.005), so the geometric tail past round 6 is ≈1.2·conv_max_delta
    * ≈ 0.6% of the mean rating — converged at the rating scale the
    * 1e-6-floored readout serves, while the curve is exactly the
    * evidence an operator needs to BUY more rounds when a tighter
    * threshold matters (full rank stability over 1000 near-tied
    * suppliers is not reachable by any small fixed budget: measured,
    * rounds 8 and 16 still disagree on 400+ positions, because
    * adjacent ratings sit closer than the remaining drift — ship the
    * curve, not a false "converged" flag). 100 TB caveat:
    * the per-round broadcast is |competitor-domain|-sized — right for
    * catalog-bounded domains like suppliers; for an unbounded domain
    * past spark.sql.autoBroadcastJoinThreshold, drop the broadcast()
    * hints and let the rating join shuffle on s/o instead. */
  def bradleyTerry(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val duels = graft.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", struct($"l_suppkey".cast("long"),
        expr("cast(cast(l_extendedprice as decimal(14,2))*100 as bigint)"))
        .as("m"))
      .groupBy($"l_orderkey").agg(collect_list($"m").as("ms"))
      .select(explode(orderDuelsUdf($"ms")).as("d"))
      .select($"d._1".as("si"), $"d._2".as("sj"),
        $"d._3".as("wi"), $"d._4".as("wj"))
    // win matrix over observed supplier pairs — bounded by the supplier
    // domain squared; reused every MM round, so pin it once
    val pairs = duels.groupBy($"si", $"sj")
      .agg(sum($"wi").as("wij"), sum($"wj").as("wji"),
        count(lit(1)).as("nij"))
      .localCheckpoint()
    // the doubled edge frame is read by all 8 rounds — pin it once
    // (bounded by observed supplier pairs ×2, a few partitions suffice)
    val edges = pairs.select($"si".as("s"), $"sj".as("o"), $"nij".as("n"))
      .unionAll(pairs.select($"sj".as("s"), $"si".as("o"), $"nij".as("n")))
      .coalesce(4).localCheckpoint()
    val wins = pairs.select($"si".as("s"), $"wij".as("w"), $"nij".as("n"))
      .unionAll(pairs.select($"sj".as("s"), $"wji".as("w"), $"nij".as("n")))
      .groupBy($"s").agg(sum($"w").as("w"), sum($"n").as("nc"))
      .localCheckpoint()
    // 6 MM rounds; a supplier that never wins fixes at p=0 (the MLE
    // boundary), and p_i+p_j>0 holds for every observed pair because
    // tie-dropped duels always produce a winner on one side
    var p = wins.select($"s", lit(1.0).as("p")).coalesce(1).localCheckpoint()
    val convs = scala.collection.mutable.Buffer[DataFrame]()
    for (r <- 1 to 6) {
      val denom = edges
        .join(broadcast(p.select($"s", $"p".as("ps"))), Seq("s"))
        .join(broadcast(p.select($"s".as("o"), $"p".as("po"))), Seq("o"))
        .groupBy($"s").agg(sum($"n" / ($"ps" + $"po")).as("den"))
      val next = wins.join(denom, Seq("s"))
        .select($"s", ($"w".cast("double") / $"den").as("p"))
      if (r % 2 == 0) {
        // materialize every other round, carrying the odd predecessor
        // IN the same checkpointed frame: the lazy odd round is
        // recomputed inside this one job (its two broadcast legs + the
        // pprev join leg) — on the ≤|supplier| frame those recomputes
        // are cheaper than extra checkpoint job round-trips, and the
        // convergence delta then reads CHECKPOINTED data only (the
        // first cut of this readout derived each delta from lazy
        // snapshots directly and re-paid odd rounds per delta leg —
        // measurably SLOWER than the 8-round r15 shape it replaced)
        val both = next
          .join(p.select($"s", $"p".as("pprev")), Seq("s"))
          .coalesce(1).localCheckpoint()
        // max over doubles is order-independent, so the pin is
        // bit-deterministic; each round normalizes by its own mean
        // (the MM iterate is scale-free, raw rounds not comparable)
        val means = both.agg(avg($"p").as("mb"), avg($"pprev").as("ma"))
        convs += both.crossJoin(broadcast(means))
          .agg(max(abs($"p" / $"mb" - $"pprev" / $"ma")).as(s"cd$r"))
        p = both.select($"s", $"p")
      } else p = next
    }
    val norm = p.agg(avg($"p").as("pbar")) // 1-row scalar frame
    wins.join(p, Seq("s")).crossJoin(broadcast(norm))
      // the convergence CURVE: three 1-row frames off checkpointed data
      .crossJoin(broadcast(convs(0))).crossJoin(broadcast(convs(1)))
      .crossJoin(broadcast(convs(2)))
      .select($"s".as("suppkey"), $"w".as("wins"),
        $"nc".as("n_comparisons"), micro($"p" / $"pbar").as("rating"),
        micro($"cd2").as("conv_d2"), micro($"cd4").as("conv_d4"),
        micro($"cd6").as("conv_max_delta"))
      .orderBy($"suppkey")
  }

  private def btOracle: String = {
    val iters = (1 to 6).map { i =>
      s"""d$i AS MATERIALIZED (SELECT e.s AS s, SUM(e.n / (pa.p + pb.p)) AS den
         |  FROM edges e JOIN r${i - 1} pa ON e.s = pa.s
         |  JOIN r${i - 1} pb ON e.o = pb.s GROUP BY e.s),
         |r$i AS MATERIALIZED (SELECT w.s AS s, w.w / d.den AS p
         |  FROM wins w JOIN d$i d ON w.s = d.s)""".stripMargin
    }.mkString(",\n")
    val deltas = Seq(2, 4, 6).map { i =>
      s"""cv$i AS (
         |  SELECT MAX(ABS(b.p / (SELECT AVG(p) FROM r$i) -
         |                 a.p / (SELECT AVG(p) FROM r${i - 1}))) AS cd
         |  FROM r${i - 1} a JOIN r$i b ON a.s = b.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH per AS (
       |  SELECT l_orderkey AS ok, l_suppkey AS s,
       |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2))*100 AS BIGINT))
       |      AS tot
       |  FROM lineitem GROUP BY 1, 2),
       |duels AS (
       |  SELECT a.s AS si, b.s AS sj,
       |    CASE WHEN a.tot > b.tot THEN 1 ELSE 0 END AS wi,
       |    CASE WHEN b.tot > a.tot THEN 1 ELSE 0 END AS wj
       |  FROM per a JOIN per b
       |    ON a.ok = b.ok AND a.s < b.s AND a.tot <> b.tot),
       |pairs AS MATERIALIZED (
       |  SELECT si, sj, CAST(SUM(wi) AS BIGINT) AS wij,
       |    CAST(SUM(wj) AS BIGINT) AS wji, CAST(COUNT(*) AS BIGINT) AS nij
       |  FROM duels GROUP BY 1, 2),
       |edges AS MATERIALIZED (
       |  SELECT si AS s, sj AS o, nij AS n FROM pairs
       |  UNION ALL SELECT sj, si, nij FROM pairs),
       |wins AS MATERIALIZED (
       |  SELECT s, CAST(SUM(w) AS BIGINT) AS w, CAST(SUM(n) AS BIGINT) AS nc
       |  FROM (SELECT si AS s, wij AS w, nij AS n FROM pairs
       |        UNION ALL SELECT sj, wji, nij FROM pairs)
       |  GROUP BY 1),
       |r0 AS MATERIALIZED (SELECT s, CAST(1.0 AS DOUBLE) AS p FROM wins),
       |$iters,
       |$deltas
       |SELECT wins.s AS suppkey, wins.w AS wins, wins.nc AS n_comparisons,
       |  CAST(floor(r6.p / (SELECT AVG(p) FROM r6) * 1e6) AS BIGINT) / 1e6
       |    AS rating,
       |  CAST(floor(cv2.cd * 1e6) AS BIGINT) / 1e6 AS conv_d2,
       |  CAST(floor(cv4.cd * 1e6) AS BIGINT) / 1e6 AS conv_d4,
       |  CAST(floor(cv6.cd * 1e6) AS BIGINT) / 1e6 AS conv_max_delta
       |FROM wins JOIN r6 ON wins.s = r6.s, cv2, cv4, cv6
       |ORDER BY suppkey""".stripMargin
  }

  /** q_ml_pass_at_k — the unbiased pass@k estimator (Chen et al. 2021,
    * "Evaluating LLMs Trained on Code", eq. 1): per problem with n
    * samples and c successes, pass@k = 1 − C(n−c,k)/C(n,k), averaged
    * over problems with n ≥ k. Problems = customers, samples = their
    * orders, success = order reached final status 'F'. The binomial
    * ratio is the exact integer falling-factorial quotient
    * Π_{j<k}(n−c−j) / Π_{j<k}(n−j), unrolled per k ∈ {1,3,5} (n ≤ 25,
    * so products fit int64 with room); a zero factor zeroes the
    * numerator exactly — no lgamma, no float cancellation. One
    * aggregation to the customer domain, then a 3-row broadcast k-dim
    * theta join (bounded by construction). */
  def passAtK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = graft.Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("c"))
    val ks = Seq(1, 3, 5).toDF("k")
    val u = $"n" - $"c"
    val numer = when($"k" === 1, greatest(u, lit(0L)))
      .when($"k" === 3, greatest(u * (u - 1L) * (u - 2L), lit(0L)))
      .otherwise(greatest(
        u * (u - 1L) * (u - 2L) * (u - 3L) * (u - 4L), lit(0L)))
    val denom = when($"k" === 1, $"n")
      .when($"k" === 3, $"n" * ($"n" - 1L) * ($"n" - 2L))
      .otherwise($"n" * ($"n" - 1L) * ($"n" - 2L) * ($"n" - 3L) *
        ($"n" - 4L))
    per.join(broadcast(ks), $"n" >= $"k")
      .select($"k",
        (lit(1.0) - numer.cast("double") / denom.cast("double")).as("pass"))
      .groupBy($"k")
      .agg(count(lit(1)).as("n_problems"), micro(avg($"pass")).as("pass_at_k"))
      .orderBy($"k")
  }

  /** q_ml_mcnemar — McNemar's paired test comparing two deterministic
    * classifiers on the same rows (the right test when two models are
    * evaluated on one eval set — only the DISAGREEMENT cells carry
    * information): rule A calls an order final when its total exceeds
    * 150k, rule B when its priority is urgent/high; truth is status
    * 'F'. b = A-only-correct, c = B-only-correct; the continuity-
    * corrected statistic (|b−c|−1)²/(b+c) is χ²₁ under H₀ (Edwards
    * 1948), NULL-guarded when b+c = 0. Exact integer cells from one
    * corpus aggregation; two micro-floored divisions at readout. */
  def mcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val truth = $"o_orderstatus" === "F"
    val predA = $"o_totalprice" > 150000.0
    val predB = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    val okA = predA === truth
    val okB = predB === truth
    graft.Tables.orders(spark, sfDir)
      .agg(count(lit(1)).as("n_obs"),
        sum(when(okA, 1L).otherwise(0L)).as("na"),
        sum(when(okB, 1L).otherwise(0L)).as("nb"),
        sum(when(okA && !okB, 1L).otherwise(0L)).as("only_a"),
        sum(when(!okA && okB, 1L).otherwise(0L)).as("only_b"))
      .select($"n_obs", $"only_a", $"only_b",
        micro($"na".cast("double") / $"n_obs").as("acc_a"),
        micro($"nb".cast("double") / $"n_obs").as("acc_b"),
        when($"only_a" + $"only_b" > 0L, micro(
          (greatest(abs($"only_a" - $"only_b") - 1L, lit(0L)) *
            greatest(abs($"only_a" - $"only_b") - 1L, lit(0L)))
            .cast("double") / ($"only_a" + $"only_b").cast("double")))
          .as("chi2"))
  }

  /** q_ml_fdr_bh — Benjamini–Hochberg step-up FDR control (JRSS-B
    * 1995) over a real hypothesis family: each of the corpus's
    * vocabulary tokens is tested against the uniform-share null
    * (count_t vs N/m) with a one-proportion z statistic, and the
    * conservative sub-Gaussian tail bound p = exp(−z²/2) ≥ P(|Z|≥z)/2
    * (valid, monotone in |z| — the PROCEDURE is the operator under
    * test; fixtures: 1 rejection at sf0.01, 18 at sf0.1, so the
    * step-up boundary is exercised non-vacuously at both scales).
    * p is micro-floored ONCE and that p6 drives ranking, the BH
    * comparison, and the readout — cross-engine exp() last-ulp skew
    * cannot reorder the family. The family is the bounded vocabulary
    * (m = 31 here): the rank window and step-up max run on m rows,
    * never the corpus. */
  def fdrBh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val c = graft.Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token").agg(count(lit(1)).as("n"))
    val g = c.agg(sum($"n").as("tn"), count(lit(1)).as("m")) // 1 row
    val z = ($"n" - $"tn".cast("double") / $"m") /
      sqrt($"tn".cast("double") / $"m" * (lit(1.0) - lit(1.0) / $"m"))
    val scored = c.crossJoin(broadcast(g))
      .select($"token", $"n", $"m", micro(z).as("z6"),
        micro(exp(-z * z / 2)).as("p6"))
    val rank = row_number().over(Window.orderBy($"p6", $"token"))
      .cast("long")
    val ranked = scored.withColumn("rank", rank)
      .withColumn("bh_thresh", micro(lit(0.05) * $"rank" / $"m"))
    val stepUp = max(when($"p6" <= $"bh_thresh", $"rank"))
      .over(Window.partitionBy())
    ranked
      .select($"token", $"n", $"z6", $"p6", $"rank", $"bh_thresh",
        ($"rank" <= coalesce(stepUp, lit(0))).as("rejected"))
      .orderBy($"token")
  }

  /** q_ml_isotonic_calibration — isotonic (PAV) calibration of a
    * score→label curve without the sequential pool-adjacent-violators
    * scan: over the bounded score-bin domain the fit has the
    * declarative minimax form iso(i) = max_{j≤i} min_{k≥i} mean(j..k)
    * (Barlow et al. 1972, §1.2) — exact integer prefix sums give every
    * interval mean in one bounded self-join, the inner min is a
    * reverse-cumulative window min per j, the outer max a per-i
    * aggregate. min/max over doubles are order-independent, so the
    * fit is bit-deterministic; the corpus appears in ONE hash
    * aggregation to ≤100 price bins. */
  def isotonicCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bins = graft.Tables.orders(spark, sfDir)
      .select(least(floor($"o_totalprice" / 6000.0), lit(99.0))
        .cast("long").as("bin"),
        when($"o_orderstatus" === "F", 1L).otherwise(0L).as("y"))
      .groupBy($"bin").agg(count(lit(1)).as("nb"), sum($"y").as("sb"))
    val w = Window.orderBy($"bin") // ≤100-row domain frame
    val pref = bins.select($"bin", $"nb", $"sb",
      sum($"nb").over(w).as("cn"), sum($"sb").over(w).as("cs"))
    // interval means A(j,k) for j ≤ k over the bin domain
    val a = pref.as("j").join(pref.as("k"), col("j.bin") <= col("k.bin"))
      .select(col("j.bin").as("jb"), col("k.bin").as("kb"),
        ((col("k.cs") - (col("j.cs") - col("j.sb"))).cast("double") /
          (col("k.cn") - (col("j.cn") - col("j.nb"))).cast("double"))
          .as("m"))
    // M(j,i) = min_{k≥i} A(j,k): reverse-cumulative min within j
    val wj = Window.partitionBy($"jb").orderBy($"kb".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = a.withColumn("rmin", min($"m").over(wj))
    // iso(i) = max_{j≤i} M(j,i)
    val iso = inner.filter($"jb" <= $"kb")
      .groupBy($"kb".as("bin")).agg(max($"rmin").as("iso_raw"))
    bins.join(iso, Seq("bin"))
      .select($"bin", $"nb".as("n"),
        micro($"sb".cast("double") / $"nb".cast("double")).as("rate"),
        micro($"iso_raw").as("iso_rate"))
      .orderBy($"bin")
  }

  /** q_ml_friedman_test — Friedman's rank test (Friedman, JASA 1937)
    * comparing k=|mktsegment| "systems" across monthly blocks: within
    * each complete month (all k segments observed) the segments'
    * exact-cents revenue totals are ranked, rank sums per segment feed
    * χ²_F = 3·ΣR2_j²/(n·k·(k+1)) − 3·n·(k+1) (the classical statistic
    * rewritten over 2-SCALED average ranks R2 = 2·R, so ties — however
    * unlikely over cents sums — stay exact integers: ar2 = 2·rank +
    * tiecount − 1 = minrank + maxrank, the spearman recipe). Kendall's
    * W = χ²_F/(n(k−1)) ships alongside as the [0,1] concordance
    * readout, and the significance call uses the χ²_{k−1} 0.05
    * critical value via a bounded CASE (df 1–10; k=2 is the valid
    * sign-test shape, crit 3.841). Numerics: ΣR2² is
    * int64 (R2_j ≤ 2k·n_blocks), ONE micro-floored double readout per
    * column with the oracle mirroring the exact expression order.
    *
    * Scale: one orders⋈customer equi-join (dim side, co-partitioned or
    * AQE-broadcast at real scale), ONE partial-agg'd groupBy to the
    * (month × segment) cell frame — everything after runs on that
    * calendar×catalog-BOUNDED frame: the rank windows partition by
    * month over ≤k rows each, the completeness filter broadcasts the
    * ≤|months| count frame, and the readout is 1 row. */
  def friedmanTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val cell = graft.Tables.orders(spark, sfDir)
      .join(graft.Tables.customer(spark, sfDir)
          .select($"c_custkey", $"c_mktsegment"),
        $"o_custkey" === $"c_custkey")
      .groupBy(to_date(date_trunc("month", $"o_orderdate")).as("blk"),
        $"c_mktsegment".as("sys"))
      .agg(sum((AggOps.dec($"o_totalprice") * 100).cast("long")).as("v"))
      .localCheckpoint() // bounded months × segments; feeds k + filter
    val kSys = cell.agg(countDistinct($"sys").as("k_systems"))
    val complete = cell.join(
      broadcast(cell.groupBy($"blk").agg(count(lit(1)).as("nb"))
        .crossJoin(kSys).filter($"nb" === $"k_systems").select($"blk")),
      Seq("blk"))
    val ranked = complete.withColumn("ar2",
      lit(2L) * rank().over(w.partitionBy($"blk").orderBy($"v")) +
        count(lit(1)).over(w.partitionBy($"blk", $"v")) - 1L)
    val perSys = ranked.groupBy($"sys").agg(sum($"ar2").as("r2"))
    val nBlk = ranked.agg(countDistinct($"blk").as("n_blocks"))
    perSys.agg(sum($"r2" * $"r2").as("ssq"),
        count(lit(1)).cast("long").as("k_systems"))
      .crossJoin(broadcast(nBlk)) // two 1-row frames
      .withColumn("chi2_raw",
        lit(3.0) * $"ssq".cast("double") /
          ($"n_blocks" * $"k_systems" * ($"k_systems" + 1L)).cast("double")
          - lit(3.0) * ($"n_blocks" * ($"k_systems" + 1L)).cast("double"))
      // χ²_{k−1} 0.05 critical values for df 1..10 — k=2 IS a valid
      // Friedman test (the sign-test shape, crit 3.841); beyond k=11
      // crit is NULL and so is significant, while chi2/W (exact
      // arithmetic, no table) stay defined
      .withColumn("crit",
        when($"k_systems" === 2L, 3.841)
          .when($"k_systems" === 3L, 5.991).when($"k_systems" === 4L, 7.815)
          .when($"k_systems" === 5L, 9.488).when($"k_systems" === 6L, 11.070)
          .when($"k_systems" === 7L, 12.592).when($"k_systems" === 8L, 14.067)
          .when($"k_systems" === 9L, 15.507).when($"k_systems" === 10L, 16.919)
          .when($"k_systems" === 11L, 18.307))
      // degenerate guards: zero complete blocks (0/0) or a single
      // system (W's denominator n(k−1)=0 → ±Inf, which DuckDB cannot
      // cast) → NULL readouts, mirrored CASEs in the twin
      .select($"n_blocks", $"k_systems",
        when($"n_blocks" > 0L && $"k_systems" > 1L,
          micro($"chi2_raw")).as("chi2"),
        when($"n_blocks" > 0L && $"k_systems" > 1L,
          micro($"chi2_raw" / ($"n_blocks" * ($"k_systems" - 1L))
            .cast("double"))).as("kendall_w"),
        when($"n_blocks" > 0L && $"k_systems" > 1L,
          micro($"chi2_raw") > $"crit").as("significant"))
  }

  /** q_ml_conformal_interval — split conformal prediction (Vovk et al.
    * 2005; Lei et al., JASA 2018): orders are hash-split by
    * o_orderkey mod 4 into train (0,1) / calibration (2) / test (3); a
    * month-of-year mean model fits on train (exact integer cents,
    * truncating div — non-negative, so Spark `div` == DuckDB `//`);
    * the calibration nonconformity scores s = |y − ŷ| yield q̂ = the
    * ⌈(n_cal+1)·0.9⌉-th smallest score, and the readout is the test
    * half's empirical coverage of [ŷ ± q̂] — the distribution-free
    * ≥90% guarantee a quality-score threshold inherits. The rank k is
    * exact integer arithmetic ((9n+18) div 10, clamped to n_cal).
    *
    * Scale: the ONLY order statistic is q̂, and it is found by the
    * theil_sen two-pass √-bucket selection — scores bucket by
    * s div 65536 (bounded by the PRICE domain, not the corpus), a
    * cumsum over that bounded bucket frame locates the one target
    * bucket, and only ITS rows are ever ranked. No keyless corpus
    * window; the model join broadcasts a 12-row frame; readout 1 row.
    */
  def conformalInterval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val base = graft.Tables.orders(spark, sfDir)
      .select(pmod($"o_orderkey", lit(4L)).as("fold"),
        month($"o_orderdate").as("m"),
        (AggOps.dec($"o_totalprice") * 100).cast("long").as("cents"))
    val model = base.filter($"fold" <= 1L).groupBy($"m")
      .agg(expr("sum(cents) div count(1)").as("yhat")) // 12-row frame
    val cal = base.filter($"fold" === 2L)
      .join(broadcast(model), Seq("m"))
      .select(abs($"cents" - $"yhat").as("s"))
      .withColumn("bkt", expr("s div 65536L"))
      .localCheckpoint() // feeds bucket counts AND the ranked pass
    val bcum = cal.groupBy($"bkt").agg(count(lit(1)).as("bw"))
      .withColumn("off", coalesce(sum($"bw").over(
        w.orderBy($"bkt").rowsBetween(w.unboundedPreceding, -1)),
        lit(0L))) // cumsum over the price-bounded bucket frame
    val tot = cal.agg(count(lit(1)).as("n_cal"))
      .withColumn("k", least(expr("(9L * n_cal + 18L) div 10L"), $"n_cal"))
    val target = bcum.crossJoin(broadcast(tot))
      .filter($"off" < $"k" && $"off" + $"bw" >= $"k")
      .select($"bkt", $"off", $"k", $"n_cal")
    val qhat = cal.join(broadcast(target), Seq("bkt")) // one bucket only
      .withColumn("cw",
        $"off" + row_number().over(w.partitionBy($"bkt").orderBy($"s")))
      .filter($"cw" === $"k")
      .groupBy().agg(min($"s").as("qhat_cents"), first($"k").as("rank_k"),
        first($"n_cal").as("n_cal"))
    base.filter($"fold" === 3L).join(broadcast(model), Seq("m"))
      .select(abs($"cents" - $"yhat").as("s"))
      .crossJoin(broadcast(qhat)) // 1-row scalar frame
      .agg(first($"n_cal").as("n_cal"), count(lit(1)).as("n_test"),
        first($"rank_k").as("rank_k"),
        first($"qhat_cents").as("qhat_cents"),
        sum(when($"s" <= $"qhat_cents", 1L).otherwise(0L)).as("n_in"))
      .select($"n_cal", $"n_test", $"rank_k", $"qhat_cents",
        micro($"n_in".cast("double") / $"n_test".cast("double"))
          .as("coverage"))
  }

  /** q_ml_cochran_q — Cochran's Q (Biometrika 1950), the k-classifier
    * generalization of [[mcnemar]]: do k=3 binary classifiers (the
    * McNemar pair plus a first-half-year seasonal rule) have the same
    * accuracy against the same truth? Q = k(k−1)·Σ_j(G_j − T/k)² /
    * (k·T − ΣL_i²) with G_j = per-classifier corrects, L_i =
    * per-subject corrects, T = ΣG = ΣL. All MOMENTS are exact int64
    * hash-aggregates; Σ(G_j − T/k)² is expanded k²-scaled as
    * Σ(k·G_j − T)² so the mean never divides — each deviation stays
    * int64, its square is taken in double (int64 would overflow past
    * ~3e9 rows), and the single division happens once at readout
    * (df = k−1 = 2, crit 5.991).
    * Degenerate guard: all-equal L_i (denominator 0) → NULL q_stat,
    * mirrored CASE in the oracle.
    *
    * Scale: ONE pass over orders computing per-row L_i moments plus
    * the three G_j sums in the same aggregate — no join, no window,
    * 1-row readout. */
  def cochranQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val truth = $"o_orderstatus" === "F"
    val ok = Seq(
      ($"o_totalprice" > 150000.0) === truth,
      $"o_orderpriority".isin("1-URGENT", "2-HIGH") === truth,
      (month($"o_orderdate") <= 6) === truth)
    val li = ok.map(c => when(c, 1L).otherwise(0L)).reduce(_ + _)
    graft.Tables.orders(spark, sfDir)
      .agg(count(lit(1)).as("n_obs"),
        sum(when(ok(0), 1L).otherwise(0L)).as("g1"),
        sum(when(ok(1), 1L).otherwise(0L)).as("g2"),
        sum(when(ok(2), 1L).otherwise(0L)).as("g3"),
        sum(li).as("t"), sum(li * li).as("l2"))
      // each deviation is exact int64 (≤3·rows); its SQUARE would
      // overflow past ~3e9 rows, so square in double (mirrored order)
      .withColumn("num",
        ($"g1" * 3L - $"t").cast("double") *
          ($"g1" * 3L - $"t").cast("double") +
          ($"g2" * 3L - $"t").cast("double") *
            ($"g2" * 3L - $"t").cast("double") +
          ($"g3" * 3L - $"t").cast("double") *
            ($"g3" * 3L - $"t").cast("double"))
      .withColumn("den", lit(3L) * $"t" - $"l2")
      .select($"n_obs", $"g1", $"g2", $"g3",
        when($"den" > 0L, micro(
          lit(2.0) * $"num" / (lit(3.0) * $"den".cast("double"))))
          .as("q_stat"),
        when($"den" > 0L, micro(
          lit(2.0) * $"num" / (lit(3.0) * $"den".cast("double")))
          > 5.991).as("significant")) // chi2 df=2
  }

  /** q_ml_gains_table — cumulative gains / lift over score bins: rank
    * orders by the o_totalprice "model score" into the ≤100 exact
    * bins of the isotonic recipe and read, per bin from the top down,
    * the cumulative population share, cumulative capture of the
    * positive class (o_orderstatus = 'F'), and lift vs the base rate
    * — the targeting readout behind "contact the top decile, catch
    * which share of responders?". All cumulative sums are int64
    * prefix sums over the BOUNDED bin frame (descending-score order);
    * three micro-floored divisions per row, base rate via exact
    * integer cross-multiplication (lift = cum_pos·N / (cum_n·P)).
    *
    * Scale: one partial-agg'd groupBy to ≤100 bins; the cumsum
    * windows and readout run on that bounded frame only. */
  def gainsTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val bins = graft.Tables.orders(spark, sfDir)
      .groupBy(least(floor($"o_totalprice" / 6000.0), lit(99.0))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("pos"))
    val tot = bins.agg(sum($"n").as("nn"), sum($"pos").as("pp"))
    bins
      .withColumn("cum_n", sum($"n").over(
        w.orderBy($"bin".desc).rowsBetween(w.unboundedPreceding, 0)))
      .withColumn("cum_pos", sum($"pos").over(
        w.orderBy($"bin".desc).rowsBetween(w.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot)) // 1-row totals frame
      // degenerate guard: zero positives ⇒ gain/lift are 0/0 — emit
      // zero rows, the oracle mirrors the WHERE
      .filter($"pp" > 0L)
      .select($"bin", $"n", $"pos", $"cum_n", $"cum_pos",
        micro($"cum_n".cast("double") / $"nn".cast("double"))
          .as("pop_share"),
        micro($"cum_pos".cast("double") / $"pp".cast("double"))
          .as("gain"),
        // count×count crosses int64 past ~3e9 rows: cast-then-multiply
        micro($"cum_pos".cast("double") * $"nn".cast("double") /
          ($"cum_n".cast("double") * $"pp".cast("double"))).as("lift"))
      .orderBy($"bin".desc)
  }

  /** q_ml_brier_decomposition — Brier score with the Murphy (1973)
    * reliability/resolution/uncertainty decomposition: a deliberately
    * LINEAR forecast f_b = bin/100 (the miscalibrated straw model the
    * decomposition exists to expose) against the 'F' outcome, binned
    * by the isotonic price bins so the decomposition identity
    * Brier = REL − RES + UNC holds EXACTLY (it only does for
    * bin-constant forecasts; Wave14dSpec pins the identity to 1e-12).
    * Per-bin terms use exact int64 (n_b, s_b) moments; the double
    * arithmetic per ≤100-row bin term is mirrored operation-for-
    * operation in the oracle, decimal-summed after a per-term
    * round(,6) (the datasetCard order-independence discipline), and
    * the readout is ONE row.
    *
    * Scale: one groupBy to ≤100 bins + a broadcast 1-row totals
    * frame; nothing corpus-sized past the first aggregate. */
  def brierDecomposition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bins = graft.Tables.orders(spark, sfDir)
      .groupBy(least(floor($"o_totalprice" / 6000.0), lit(99.0))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("nb"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("sb"))
      .localCheckpoint() // ≤100 rows; feeds totals + three term sums
    val tot = bins.agg(sum($"nb").as("nn"), sum($"sb").as("ss"))
    val terms = bins.crossJoin(broadcast(tot))
      .withColumn("fb", $"bin".cast("double") / 100.0)
      .withColumn("yb", $"sb".cast("double") / $"nb".cast("double"))
      .withColumn("ybar", $"ss".cast("double") / $"nn".cast("double"))
      .select($"nn", $"ss",
        round($"nb" * ($"fb" - $"yb") * ($"fb" - $"yb"), 6)
          .cast("decimal(18,6)").as("rel_t"),
        round($"nb" * ($"yb" - $"ybar") * ($"yb" - $"ybar"), 6)
          .cast("decimal(18,6)").as("res_t"),
        // per-bin Brier sum: n_b·f_b² − 2·f_b·s_b + s_b (y² = y)
        round($"nb" * $"fb" * $"fb" - lit(2.0) * $"fb" * $"sb" + $"sb", 6)
          .cast("decimal(18,6)").as("brier_t"))
    terms.groupBy($"nn", $"ss")
      .agg(sum($"rel_t").as("rel_s"), sum($"res_t").as("res_s"),
        sum($"brier_t").as("brier_s"))
      .select($"nn".as("n_obs"),
        micro($"brier_s".cast("double") / $"nn".cast("double"))
          .as("brier"),
        micro($"rel_s".cast("double") / $"nn".cast("double"))
          .as("reliability"),
        micro($"res_s".cast("double") / $"nn".cast("double"))
          .as("resolution"),
        micro(($"ss".cast("double") / $"nn".cast("double")) *
          (lit(1.0) - $"ss".cast("double") / $"nn".cast("double")))
          .as("uncertainty"))
  }

  /** q_ml_expected_calibration_error — ECE and MCE (Naeini et al.,
    * AAAI 2015; Guo et al., ICML 2017), the standard LLM-eval
    * calibration readouts, over the same linear bin-confidence
    * forecast as [[brierDecomposition]] (conf_b = bin/100 vs the 'F'
    * outcome): ECE = Σ (n_b/N)·|acc_b − conf_b| with per-bin terms
    * 6dp-rounded and DECIMAL-summed (order-independent across 1000-way
    * partials — the datasetCard discipline), MCE = max_b |acc_b −
    * conf_b| (max is order-independent by nature). Per-bin acc uses
    * exact int64 (n_b, s_b); ONE division per term, mirrored verbatim.
    *
    * Scale: one groupBy to ≤100 bins + a broadcast 1-row total;
    * readout 1 row. */
  def expectedCalibrationError(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val bins = graft.Tables.orders(spark, sfDir)
      .groupBy(least(floor($"o_totalprice" / 6000.0), lit(99.0))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("nb"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("sb"))
    val tot = bins.agg(sum($"nb").as("nn"))
    bins.crossJoin(broadcast(tot)) // 1-row totals frame
      .withColumn("gap",
        abs($"sb".cast("double") / $"nb".cast("double") -
          $"bin".cast("double") / 100.0))
      .withColumn("term",
        round($"nb".cast("double") * $"gap", 6).cast("decimal(18,6)"))
      .groupBy($"nn")
      .agg(sum($"term").as("ece_s"), max(round($"gap", 6)).as("mce"),
        count(lit(1)).as("n_bins"))
      .select($"nn".as("n_obs"), $"n_bins",
        micro($"ece_s".cast("double") / $"nn".cast("double")).as("ece"),
        micro($"mce").as("mce"))
  }

  /** q_ml_youden_j — the optimal operating point on the ROC curve by
    * Youden's J (Cancer 1950): J(t) = TPR(t) − FPR(t) maximized over
    * every score threshold, the standard "where do I actually cut"
    * companion to the threshold-free AUC. Thresholds are the ≤100
    * exact price bins scored top-down; TPR/FPR come from int64 prefix
    * sums, J is micro-scaled to an integer argmax key so BOTH engines
    * select the same winner (tie → smallest bin). Readout: the chosen
    * bin, its TPR/FPR/J, and the confusion counts at the cut.
    *
    * Scale: one partial-agg'd groupBy to the bounded bin frame;
    * cumsums + argmax run on ≤100 rows. 1-row readout. */
  def youdenJ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val bins = graft.Tables.orders(spark, sfDir)
      .groupBy(least(floor($"o_totalprice" / 6000.0), lit(99.0))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("pos"))
    val tot = bins.agg(sum($"n").as("nn"), sum($"pos").as("pp"))
    bins
      .withColumn("tp", sum($"pos").over(
        w.orderBy($"bin".desc).rowsBetween(w.unboundedPreceding, 0)))
      .withColumn("predpos", sum($"n").over(
        w.orderBy($"bin".desc).rowsBetween(w.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot)) // 1-row totals frame
      // degenerate guard: a single-class corpus has no ROC (TPR or
      // FPR is 0/0) — emit zero rows, the oracle mirrors the WHERE
      .filter($"pp" > 0L && $"nn" > $"pp")
      .withColumn("fp", $"predpos" - $"tp")
      .withColumn("tpr", $"tp".cast("double") / $"pp".cast("double"))
      .withColumn("fpr",
        $"fp".cast("double") / ($"nn" - $"pp").cast("double"))
      .withColumn("j6",
        floor(($"tpr" - $"fpr") * 1e6).cast("long")) // argmax key
      .withColumn("rn", row_number().over(w.orderBy($"j6".desc, $"bin")))
      .filter($"rn" === 1)
      .select($"bin".as("threshold_bin"), $"tp", $"fp",
        ($"pp" - $"tp").as("fn"), ($"nn" - $"pp" - $"fp").as("tn"),
        micro($"tpr").as("tpr"), micro($"fpr").as("fpr"),
        ($"j6" / 1e6).as("youden_j"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_youden_j" -> (youdenJ _),
    "q_ml_expected_calibration_error" -> (expectedCalibrationError _),
    "q_ml_cochran_q" -> (cochranQ _),
    "q_ml_gains_table" -> (gainsTable _),
    "q_ml_brier_decomposition" -> (brierDecomposition _),
    "q_ml_bradley_terry" -> (bradleyTerry _),
    "q_ml_pass_at_k" -> (passAtK _),
    "q_ml_mcnemar" -> (mcnemar _),
    "q_ml_fdr_bh" -> (fdrBh _),
    "q_ml_isotonic_calibration" -> (isotonicCalibration _),
    "q_ml_friedman_test" -> (friedmanTest _),
    "q_ml_conformal_interval" -> (conformalInterval _))

  def oracle: Map[String, String] = Map(
    "q_ml_youden_j" ->
      """WITH bins AS (
        |  SELECT CAST(least(floor(o_totalprice / 6000.0), 99.0)
        |      AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |               CAST(SUM(pos) AS BIGINT) AS pp FROM bins),
        |c AS (
        |  SELECT bin, nn, pp,
        |    CAST(SUM(pos) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
        |    CAST(SUM(n) OVER (ORDER BY bin DESC) AS BIGINT) AS predpos
        |  FROM bins, tot WHERE pp > 0 AND nn > pp),
        |s AS (
        |  SELECT bin, nn, pp, tp, predpos - tp AS fp,
        |    CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE) AS tpr,
        |    CAST(predpos - tp AS DOUBLE) / CAST(nn - pp AS DOUBLE)
        |      AS fpr
        |  FROM c),
        |k AS (
        |  SELECT *, CAST(floor((tpr - fpr) * 1e6) AS BIGINT) AS j6
        |  FROM s)
        |SELECT bin AS threshold_bin, tp, fp, pp - tp AS fn,
        |  nn - pp - fp AS tn,
        |  CAST(floor(tpr * 1e6) AS BIGINT) / 1e6 AS tpr,
        |  CAST(floor(fpr * 1e6) AS BIGINT) / 1e6 AS fpr,
        |  j6 / 1e6 AS youden_j
        |FROM k ORDER BY j6 DESC, bin LIMIT 1""".stripMargin,
    "q_ml_expected_calibration_error" ->
      """WITH bins AS (
        |  SELECT CAST(least(floor(o_totalprice / 6000.0), 99.0)
        |      AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS sb
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS nn FROM bins),
        |g AS (
        |  SELECT nn, nb,
        |    abs(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) -
        |      CAST(bin AS DOUBLE) / 100.0) AS gap
        |  FROM bins, tot)
        |SELECT nn AS n_obs, CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(floor(CAST(SUM(CAST(round(CAST(nb AS DOUBLE) * gap, 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / CAST(nn AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS ece,
        |  CAST(floor(MAX(round(gap, 6)) * 1e6) AS BIGINT) / 1e6 AS mce
        |FROM g GROUP BY nn""".stripMargin,
    "q_ml_cochran_q" ->
      """WITH rows_ AS (
        |  SELECT
        |    CASE WHEN (o_totalprice > 150000.0) =
        |      (o_orderstatus = 'F') THEN 1 ELSE 0 END AS c1,
        |    CASE WHEN (o_orderpriority IN ('1-URGENT', '2-HIGH')) =
        |      (o_orderstatus = 'F') THEN 1 ELSE 0 END AS c2,
        |    CASE WHEN (month(o_orderdate) <= 6) =
        |      (o_orderstatus = 'F') THEN 1 ELSE 0 END AS c3
        |  FROM orders),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(c1) AS BIGINT) AS g1,
        |    CAST(SUM(c2) AS BIGINT) AS g2,
        |    CAST(SUM(c3) AS BIGINT) AS g3,
        |    CAST(SUM(c1 + c2 + c3) AS BIGINT) AS t,
        |    CAST(SUM((c1 + c2 + c3) * (c1 + c2 + c3)) AS BIGINT) AS l2
        |  FROM rows_),
        |s AS (
        |  SELECT n_obs, g1, g2, g3,
        |    CAST(g1 * 3 - t AS DOUBLE) * CAST(g1 * 3 - t AS DOUBLE) +
        |      CAST(g2 * 3 - t AS DOUBLE) * CAST(g2 * 3 - t AS DOUBLE) +
        |      CAST(g3 * 3 - t AS DOUBLE) * CAST(g3 * 3 - t AS DOUBLE)
        |      AS num,
        |    3 * t - l2 AS den
        |  FROM agg)
        |SELECT n_obs, g1, g2, g3,
        |  CASE WHEN den > 0 THEN
        |    CAST(floor(2.0 * num /
        |      (3.0 * CAST(den AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
        |  END AS q_stat,
        |  CASE WHEN den > 0 THEN
        |    CAST(floor(2.0 * num /
        |      (3.0 * CAST(den AS DOUBLE)) * 1e6) AS BIGINT) / 1e6 > 5.991
        |  END AS significant
        |FROM s""".stripMargin,
    "q_ml_gains_table" ->
      """WITH bins AS (
        |  SELECT CAST(least(floor(o_totalprice / 6000.0), 99.0)
        |      AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT bin, n, pos,
        |    CAST(SUM(n) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_n,
        |    CAST(SUM(pos) OVER (ORDER BY bin DESC) AS BIGINT) AS cum_pos,
        |    (SELECT CAST(SUM(n) AS BIGINT) FROM bins) AS nn,
        |    (SELECT CAST(SUM(pos) AS BIGINT) FROM bins) AS pp
        |  FROM bins
        |  WHERE (SELECT CAST(SUM(pos) AS BIGINT) FROM bins) > 0)
        |SELECT bin, n, pos, cum_n, cum_pos,
        |  CAST(floor(CAST(cum_n AS DOUBLE) / CAST(nn AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS pop_share,
        |  CAST(floor(CAST(cum_pos AS DOUBLE) / CAST(pp AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS gain,
        |  CAST(floor(CAST(cum_pos AS DOUBLE) * CAST(nn AS DOUBLE) /
        |    (CAST(cum_n AS DOUBLE) * CAST(pp AS DOUBLE)) * 1e6)
        |    AS BIGINT) / 1e6 AS lift
        |FROM c ORDER BY bin DESC""".stripMargin,
    "q_ml_brier_decomposition" ->
      """WITH bins AS (
        |  SELECT CAST(least(floor(o_totalprice / 6000.0), 99.0)
        |      AS BIGINT) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS sb
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(nb) AS BIGINT) AS nn,
        |    CAST(SUM(sb) AS BIGINT) AS ss
        |  FROM bins),
        |terms AS (
        |  SELECT nn, ss,
        |    CAST(round(nb * (CAST(bin AS DOUBLE) / 100.0 -
        |        CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) *
        |      (CAST(bin AS DOUBLE) / 100.0 -
        |        CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS rel_t,
        |    CAST(round(nb * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) -
        |        CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |      (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) -
        |        CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS res_t,
        |    CAST(round(nb * (CAST(bin AS DOUBLE) / 100.0) *
        |        (CAST(bin AS DOUBLE) / 100.0) -
        |      2.0 * (CAST(bin AS DOUBLE) / 100.0) * sb + sb, 6)
        |      AS DECIMAL(18,6)) AS brier_t
        |  FROM bins, tot)
        |SELECT nn AS n_obs,
        |  CAST(floor(CAST(SUM(brier_t) AS DOUBLE) /
        |    CAST(nn AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS brier,
        |  CAST(floor(CAST(SUM(rel_t) AS DOUBLE) /
        |    CAST(nn AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS reliability,
        |  CAST(floor(CAST(SUM(res_t) AS DOUBLE) /
        |    CAST(nn AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS resolution,
        |  CAST(floor((CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |    (1.0 - CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e6)
        |    AS BIGINT) / 1e6 AS uncertainty
        |FROM terms GROUP BY nn, ss""".stripMargin,
    "q_ml_bradley_terry" -> btOracle,
    "q_ml_pass_at_k" ->
      """WITH per AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |ks AS (SELECT unnest([1, 3, 5]) AS k),
        |px AS (
        |  SELECT k,
        |    1.0 - CAST(CASE k
        |      WHEN 1 THEN greatest(n - c, 0)
        |      WHEN 3 THEN greatest((n-c)*(n-c-1)*(n-c-2), 0)
        |      ELSE greatest((n-c)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4), 0)
        |      END AS DOUBLE) /
        |    CAST(CASE k
        |      WHEN 1 THEN n
        |      WHEN 3 THEN n*(n-1)*(n-2)
        |      ELSE n*(n-1)*(n-2)*(n-3)*(n-4) END AS DOUBLE) AS pass
        |  FROM per JOIN ks ON n >= k)
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_problems,
        |  CAST(floor(AVG(pass) * 1e6) AS BIGINT) / 1e6 AS pass_at_k
        |FROM px GROUP BY k ORDER BY k""".stripMargin,
    "q_ml_mcnemar" ->
      """WITH cells AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(CASE WHEN oka THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN okb THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN oka AND NOT okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS only_a,
        |    CAST(SUM(CASE WHEN NOT oka AND okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS only_b
        |  FROM (SELECT
        |      (o_totalprice > 150000.0) = (o_orderstatus = 'F') AS oka,
        |      (o_orderpriority IN ('1-URGENT', '2-HIGH')) =
        |        (o_orderstatus = 'F') AS okb
        |    FROM orders))
        |SELECT n_obs, only_a, only_b,
        |  CAST(floor(CAST(na AS DOUBLE) / n_obs * 1e6) AS BIGINT) / 1e6
        |    AS acc_a,
        |  CAST(floor(CAST(nb AS DOUBLE) / n_obs * 1e6) AS BIGINT) / 1e6
        |    AS acc_b,
        |  CASE WHEN only_a + only_b > 0 THEN
        |    CAST(floor(CAST(greatest(abs(only_a - only_b) - 1, 0) *
        |        greatest(abs(only_a - only_b) - 1, 0) AS DOUBLE) /
        |      CAST(only_a + only_b AS DOUBLE) * 1e6) AS BIGINT) / 1e6
        |  END AS chi2
        |FROM cells""".stripMargin,
    "q_ml_fdr_bh" ->
      """WITH c AS (
        |  SELECT tk AS token, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tk
        |        FROM documents)
        |  WHERE length(tk) > 0 GROUP BY 1),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |             CAST(COUNT(*) AS BIGINT) AS m FROM c),
        |scored AS (
        |  SELECT token, n, m,
        |    CAST(floor(((n - CAST(tn AS DOUBLE) / m) /
        |      sqrt(CAST(tn AS DOUBLE) / m * (1.0 - 1.0 / m))) * 1e6)
        |      AS BIGINT) / 1e6 AS z6,
        |    CAST(floor(exp(-((n - CAST(tn AS DOUBLE) / m) /
        |        sqrt(CAST(tn AS DOUBLE) / m * (1.0 - 1.0 / m))) *
        |      ((n - CAST(tn AS DOUBLE) / m) /
        |        sqrt(CAST(tn AS DOUBLE) / m * (1.0 - 1.0 / m))) / 2) * 1e6)
        |      AS BIGINT) / 1e6 AS p6
        |  FROM c, g),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p6, token) AS BIGINT)
        |      AS rank,
        |    CAST(floor(0.05 * ROW_NUMBER() OVER (ORDER BY p6, token) / m
        |      * 1e6) AS BIGINT) / 1e6 AS bh_thresh
        |  FROM scored)
        |SELECT token, n, z6, p6, rank, bh_thresh,
        |  rank <= COALESCE(
        |    MAX(CASE WHEN p6 <= bh_thresh THEN rank END) OVER (), 0)
        |    AS rejected
        |FROM ranked ORDER BY token""".stripMargin,
    "q_ml_isotonic_calibration" ->
      """WITH bins AS (
        |  SELECT CAST(least(floor(o_totalprice / 6000.0), 99.0) AS BIGINT)
        |      AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS sb
        |  FROM orders GROUP BY 1),
        |pref AS (
        |  SELECT bin, nb, sb,
        |    CAST(SUM(nb) OVER (ORDER BY bin) AS BIGINT) AS cn,
        |    CAST(SUM(sb) OVER (ORDER BY bin) AS BIGINT) AS cs
        |  FROM bins),
        |a AS (
        |  SELECT j.bin AS jb, k.bin AS kb,
        |    CAST(k.cs - (j.cs - j.sb) AS DOUBLE) /
        |    CAST(k.cn - (j.cn - j.nb) AS DOUBLE) AS m
        |  FROM pref j JOIN pref k ON j.bin <= k.bin),
        |inner_min AS (
        |  SELECT jb, kb,
        |    MIN(m) OVER (PARTITION BY jb ORDER BY kb DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin
        |  FROM a),
        |iso AS (
        |  SELECT kb AS bin, MAX(rmin) AS iso_raw
        |  FROM inner_min WHERE jb <= kb GROUP BY kb)
        |SELECT bins.bin AS bin, nb AS n,
        |  CAST(floor(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS rate,
        |  CAST(floor(iso_raw * 1e6) AS BIGINT) / 1e6 AS iso_rate
        |FROM bins JOIN iso ON bins.bin = iso.bin ORDER BY bin""".stripMargin,
    "q_ml_friedman_test" ->
      """WITH cell AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS blk,
        |    c_mktsegment AS sys,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |k AS (SELECT CAST(COUNT(DISTINCT sys) AS BIGINT) AS k_systems
        |      FROM cell),
        |complete AS (
        |  SELECT cell.* FROM cell
        |  JOIN (SELECT blk FROM cell, k GROUP BY blk, k_systems
        |        HAVING COUNT(*) = k_systems) c USING (blk)),
        |ranked AS (
        |  SELECT sys,
        |    2 * RANK() OVER (PARTITION BY blk ORDER BY v) +
        |      COUNT(*) OVER (PARTITION BY blk, v) - 1 AS ar2
        |  FROM complete),
        |persys AS (
        |  SELECT sys, CAST(SUM(ar2) AS BIGINT) AS r2
        |  FROM ranked GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(r2 * r2) AS BIGINT) AS ssq,
        |    CAST(COUNT(*) AS BIGINT) AS k_systems,
        |    (SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) FROM complete)
        |      AS n_blocks
        |  FROM persys),
        |readout AS (
        |  SELECT n_blocks, k_systems,
        |    3.0 * CAST(ssq AS DOUBLE) /
        |      CAST(n_blocks * k_systems * (k_systems + 1) AS DOUBLE)
        |      - 3.0 * CAST(n_blocks * (k_systems + 1) AS DOUBLE)
        |      AS chi2_raw,
        |    CASE k_systems WHEN 2 THEN 3.841
        |      WHEN 3 THEN 5.991 WHEN 4 THEN 7.815
        |      WHEN 5 THEN 9.488 WHEN 6 THEN 11.070 WHEN 7 THEN 12.592
        |      WHEN 8 THEN 14.067 WHEN 9 THEN 15.507 WHEN 10 THEN 16.919
        |      WHEN 11 THEN 18.307
        |    END AS crit
        |  FROM tot)
        |SELECT n_blocks, k_systems,
        |  CASE WHEN n_blocks > 0 AND k_systems > 1 THEN
        |    CAST(floor(chi2_raw * 1e6) AS BIGINT) / 1e6
        |  END AS chi2,
        |  CASE WHEN n_blocks > 0 AND k_systems > 1 THEN
        |    CAST(floor(chi2_raw / CAST(n_blocks * (k_systems - 1)
        |      AS DOUBLE) * 1e6) AS BIGINT) / 1e6
        |  END AS kendall_w,
        |  CASE WHEN n_blocks > 0 AND k_systems > 1 THEN
        |    CAST(floor(chi2_raw * 1e6) AS BIGINT) / 1e6 > crit
        |  END AS significant
        |FROM readout""".stripMargin,
    "q_ml_conformal_interval" ->
      """WITH base AS (
        |  SELECT o_orderkey % 4 AS fold, month(o_orderdate) AS m,
        |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |model AS (
        |  SELECT m, CAST(CAST(SUM(cents) AS BIGINT) // COUNT(*)
        |    AS BIGINT) AS yhat
        |  FROM base WHERE fold <= 1 GROUP BY 1),
        |cal AS (
        |  SELECT abs(cents - yhat) AS s
        |  FROM base JOIN model USING (m) WHERE fold = 2),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
        |    least((9 * CAST(COUNT(*) AS BIGINT) + 18) // 10,
        |      CAST(COUNT(*) AS BIGINT)) AS k
        |  FROM cal),
        |q AS (
        |  SELECT s AS qhat_cents, k AS rank_k, n_cal
        |  FROM (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM cal),
        |    tot
        |  WHERE rn = k),
        |test AS (
        |  SELECT abs(cents - yhat) AS s
        |  FROM base JOIN model USING (m) WHERE fold = 3)
        |SELECT n_cal, CAST(COUNT(*) AS BIGINT) AS n_test, rank_k,
        |  qhat_cents,
        |  CAST(floor(CAST(SUM(CASE WHEN s <= qhat_cents THEN 1 ELSE 0
        |    END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS coverage
        |FROM test, q
        |GROUP BY n_cal, rank_k, qhat_cents""".stripMargin)
}
