package graft.ops

import org.apache.spark.ml.feature.{HashingTF, Tokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.AggOps.micro

/** ML-adjacent declared operators (reference D17/D18/D20/D22):
  * label derivation, deterministic splits, HashingTF featurization.
  * Full train/score lives in graft.flow.Pipelines (the reference's
  * pipelines); these are the query-surface pieces.
  */
object MlOps extends graft.QueryModule {

  /** D16-D18: LIKE -> boolean -> double label (the reference's
    * `withColumn("label", subreddit.like("datascience").cast("double"))`,
    * 00_training_pipeline.py:135), over documents.lang. */
  def deriveLabel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      // coalesce: like() on NULL lang is NULL, but the oracle's
      // CASE ... ELSE 0.0 maps NULL to 0.0 — pin both to 0.0
      .withColumn("label",
        coalesce($"lang".like("e%").cast("double"), lit(0.0)))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label")
  }

  /** D20's oracle-checkable twin: randomSplit is seed/partitioning
    * dependent, so the deterministic 80/20 split is arithmetic on the key
    * (SURVEY.md §2.3 "q_deterministic_split"). */
  def deterministicSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.orders(spark, sfDir)
      .withColumn("split",
        when(pmod($"o_orderkey", lit(5)) < 4, "train").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n"), AggOps.dsum($"o_totalprice").as("sum_price"))
      .orderBy($"split")
  }

  /** Leakage-safe GROUP-AWARE train/test split: the unit of assignment is
    * the USER, not the row — every event of a user lands in exactly one
    * split, so user-level signal can never leak from train into test
    * (the failure mode a row-level split invites on behavioral data).
    * Assignment is multiplicative hashing (Knuth's 2654435761 mod 1000 <
    * 800), not `user_id % k`: sequential ids correlate with signup time,
    * and a plain mod would put early users in train and late users in
    * test — a time-biased split. KNOW WHAT THIS HASH IS AND ISN'T:
    * because (c*u) mod 1000 depends only on u mod 1000, and the odd,
    * 5-coprime multiplier is invertible mod 1000, the assignment is a
    * fixed PERMUTATION of the 1000 residue classes of user_id — exactly
    * 800 classes go to train. Consecutive ids scatter (the anti-time-bias
    * claim holds), but two users congruent mod 1000 co-assign FOREVER;
    * on a corpus whose id scheme strides or shards by a multiple of
    * 1000 (e.g. shard_id*10^k + seq), that is structured bias, and the
    * right tool is xxhash64(cast(user_id as string)) — full-avalanche,
    * no residue structure — declared rows-only. Pure bigint arithmetic,
    * so the oracle is the identical expression in DuckDB. The id is
    * reduced mod the final modulus BEFORE the Knuth multiply (the
    * [[kfold]] recipe) so the product stays inside int64 for EVERY
    * possible id — value-identical where the raw form is defined, and
    * still defined where the raw product would overflow (~3.4e9, a
    * real id range at 100 TB; ANSI Spark and DuckDB both hard-fail
    * there rather than agree).
    * One narrow map + one agg shuffle; at 100 TB the split column costs
    * nothing and the assignment needs no driver state, no sampling pass,
    * no join. */
  def groupSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .withColumn("split",
        when(pmod(pmod($"user_id", lit(1000L)) * 2654435761L, lit(1000L)) < 800, "train")
          .otherwise("test"))
      .groupBy($"split")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"split")
  }

  /** Deterministic per-language QUOTA SAMPLING — the data-mixing
    * primitive: take exactly `quota` docs per lang, chosen by a stable
    * hash order ((doc_id * 2654435761) mod 1e9+7, doc_id tiebreak) so
    * the mixture is reproducible across runs and engines, unbiased by
    * ingest order, and shrinks/grows consistently when the quota moves
    * (a doc selected at quota 25 is still selected at quota 50 — nested
    * samples, the property curriculum schedules need). Plan-wise this is
    * per-key top-k: one shuffle on lang, bounded k-row heaps via the
    * TopKPerKeyExec rewrite — a hot language costs k rows of memory,
    * not its corpus share. Pure arithmetic, fully oracled (same
    * mod-first overflow-safe hash as [[groupSplit]]/[[kfold]]: sound
    * for every int64 doc_id). */
  def quotaSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L, lit(1000000007L)).asc, $"doc_id".asc)
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 25)
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** Temperature-flattened multilingual RESAMPLING — the mixing step
    * between quota sampling and a real multilingual training run (the
    * public mT5/XLM-R recipe: sample language l with probability
    * proportional to n_l^alpha, alpha < 1, so low-resource languages are
    * over-represented relative to their corpus share). alpha = 0.5 here,
    * and on purpose: floor(sqrt(n)) is exact under IEEE correctly-rounded
    * sqrt in BOTH engines, so the whole quota computation
    * (quota_l = max(1, (budget * s_l) div S), s_l = floor(sqrt(n_l)),
    * S = sum s_l, budget = 200) is integer arithmetic the DuckDB oracle
    * reproduces bit-for-bit — a fractional alpha would hang the oracle on
    * cross-engine pow() rounding. Selection within a language is the same
    * stable-hash order as [[quotaSample]] (nested, reproducible,
    * ingest-order-free). Plan: one count agg, a 1-row broadcast total, a
    * broadcast quota join, and ONE per-lang top-k window cut at the
    * constant budget cap (every quota <= budget) — the constant cut sits
    * directly on the window so RewriteTopKWindow turns it into bounded
    * heaps, and the per-lang variable trim is a near-free filter above
    * the broadcast join. Floor-division undershoots the budget by < L
    * rows (L = n languages); the max(1,·) floor guarantees every
    * language survives. */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"lang")
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
      .withColumn("s", floor(sqrt($"n".cast("double"))).cast("long"))
    // the sum's alias must be DISTINCT from "s" under Spark's
    // case-insensitive resolution: after the crossJoin both columns are in
    // scope, and `expr("... div S")` with alias "S" is AMBIGUOUS_REFERENCE
    val total = counts.agg(sum($"s").as("s_total"))
    val quotas = counts.crossJoin(broadcast(total))
      .withColumn("quota", greatest(lit(1L), expr("(s * 200) div s_total")))
      .select($"lang", $"quota")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L, lit(1000000007L)).asc,
        $"doc_id".asc)
    docs
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 200)
      .join(broadcast(quotas), Seq("lang"))
      .filter($"rk" <= $"quota")
      .select($"lang", $"quota", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** Fixed-proportion DOMAIN MIXTURE sampling — the other half of the
    * mixing story next to [[temperatureMix]]: there the weights are
    * DERIVED from corpus counts (n^alpha); here they are DECLARED
    * config (the "web 50% / books 30% / code 20%" recipe every
    * production data mix is specified as — cf. the published GPT-3 /
    * The Pile / Dolma mixture tables). The config is a 20-row weight
    * dim table built inline and broadcast — exactly how a mixture
    * config joins against a 100 TB corpus (the weights always fit on
    * the driver; the corpus never does). Integer arithmetic throughout
    * (quota_s = least(n_s, greatest(1, (B*w_s) div W)), B = 400,
    * W = sum of weights over sources present), so the DuckDB oracle
    * reproduces it bit-for-bit; availability-capped quotas UNDERFILL
    * the budget rather than silently reweighting — the honest contract
    * for a reproducible mix (redistribution is a second pass a caller
    * can compose). Selection within a source is the stable-hash order
    * shared with [[quotaSample]]/[[temperatureMix]]; the constant
    * rk <= 400 cut sits on the window so RewriteTopKWindow lowers it
    * to bounded per-source heaps, and the per-source variable trim is
    * a filter above the broadcast quota join. */
  def domainMix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // declared mixture config: high-quality sources oversampled 4x,
    // mid-tier 2x, long tail 1x (fixture calibration of the knob)
    val weights = (0 until 20)
      .map(i => (s"src$i", if (i < 5) 4L else if (i < 10) 2L else 1L))
      .toDF("source", "w")
    val docs = graft.Tables.documents(spark, sfDir).select($"doc_id", $"source")
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      .join(broadcast(weights), Seq("source"))
    val total = counts.agg(sum($"w").as("w_total"))
    val quotas = counts.crossJoin(broadcast(total))
      .withColumn("quota",
        least($"n", greatest(lit(1L), expr("(w * 400) div w_total"))))
      .select($"source", $"quota")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy(pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L, lit(1000000007L)).asc,
        $"doc_id".asc)
    docs
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 400)
      .join(broadcast(quotas), Seq("source"))
      .filter($"rk" <= $"quota")
      .select($"source", $"quota", $"rk", $"doc_id")
      .orderBy($"source", $"rk")
  }

  /** q_ml_epoch_mix — multi-EPOCH domain mixing with repeat factors,
    * the upsampling dual of [[domainMix]]'s quota downsampling: a
    * mixture spec can demand MORE of a source than one pass holds (the
    * published LLaMA / Gopher mixture tables list epoch counts > 1 for
    * Wikipedia/books), so the sampler's output is "repeat source s
    * epochs_s full times, then one deterministic fractional pass".
    * Target char budget per source is share-proportional:
    * budget_s = (C_total · w_s · chars_s) div W with W = Σ w_t·chars_t
    * (total corpus chars conserved), which telescopes to
    * epochs_s = budget_s div chars_s and rem_s = budget_s mod chars_s.
    * The fractional pass selects docs by the stable-hash threshold
    * h·chars_s < rem_s·M (pure integer compare, no float p anywhere) —
    * a per-ROW filter, so at 100 TB it's one map over the source, not
    * a rank. All products fit int64 at fixture scale; past
    * chars_s ≈ 9·10⁹ per source the same arithmetic moves to
    * DECIMAL(38,0) unchanged (the evalMetricsSql escape). One groupBy
    * + two broadcast scalar joins + one corpus re-scan for the
    * fractional tally: two passes total at any scale. */
  def epochMix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val M = 1000000007L
    val weights = (0 until 20)
      .map(i => (s"src$i", if (i < 5) 4L else if (i < 10) 2L else 1L))
      .toDF("source", "w")
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"n_chars")
    val counts = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("src_chars"))
      .join(broadcast(weights), Seq("source"))
      .localCheckpoint() // 20 rows; totals below must not rescan docs
    val totals = counts.agg(sum($"src_chars").as("c_total"),
      sum($"w" * $"src_chars").as("w_sum"))
    val plan = counts.crossJoin(broadcast(totals))
      .withColumn("budget",
        expr("(c_total * w * src_chars) div w_sum"))
      .withColumn("epochs", expr("budget div src_chars"))
      .withColumn("rem", expr("budget % src_chars"))
      .select($"source", $"w", $"n_docs", $"src_chars", $"budget",
        $"epochs", $"rem")
    val frac = docs.join(broadcast(plan.select($"source", $"rem",
        $"src_chars".as("sc"))), Seq("source"))
      .filter(pmod(pmod($"doc_id", lit(M)) * 2654435761L + 23L, lit(M)) * $"sc" <
        $"rem" * lit(M))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_frac_docs"), sum($"n_chars").as("frac_chars"))
    plan.join(frac, Seq("source"), "left")
      .select($"source", $"w", $"n_docs", $"src_chars", $"budget", $"epochs",
        coalesce($"n_frac_docs", lit(0L)).as("n_frac_docs"),
        coalesce($"frac_chars", lit(0L)).as("frac_chars"),
        ($"epochs" * $"src_chars" +
          coalesce($"frac_chars", lit(0L))).as("effective_chars"))
      .orderBy($"source")
  }

  /** q_ml_length_buckets — padding-efficiency readout for length-bucketed
    * batching (the standard fix for wasted compute when fixed-shape
    * training batches pad every sequence to the batch max): docs land in
    * 64-char-wide buckets capped at 512 (8 buckets), batches of 32 are
    * cut per bucket, and each bucket reports its padding fraction
    * 1 − used/(n_batches·32·cap) — the number a batching policy is judged by.
    * ONE hash aggregation over the corpus (8 output rows) with integer
    * cells and a single rounded division per rate: the readout shape is
    * scale-free. Truncation to the 512 cap mirrors a max-seq-len
    * pipeline; ceil() is expressed as (x + d − 1) div d so both engines
    * stay in exact integers. */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(least(expr("(n_chars + 63) div 64"), lit(8L)).as("bucket"),
        least($"n_chars", lit(512L)).as("used"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"used").as("used_chars"))
      .withColumn("cap_chars", $"bucket" * 64L)
      .withColumn("n_batches", expr("(n_docs + 31) div 32"))
      .withColumn("pad_frac",
        round(lit(1.0) - $"used_chars".cast("double") /
          ($"n_batches" * 32L * $"cap_chars").cast("double"), 6))
      .select($"bucket", $"cap_chars", $"n_docs", $"n_batches",
        $"used_chars", $"pad_frac")
      .orderBy($"bucket")
  }

  /** q_ml_pack_sequences — GPT-style concat-and-chunk sequence
    * packing: the corpus is conceptually concatenated in doc_id order
    * and cut into fixed 512-token training sequences; the readout maps
    * every document to the sequence ids it lands in (first_seq /
    * last_seq / n_seqs) — the token-budget accounting a training
    * dataloader needs before a single shard is written. The core is a
    * GLOBAL running token sum, computed by the [[Prefix]] two-level
    * decomposition over 64 contiguous doc_id ranges (range count
    * scales with the cluster; the 1-row max-id collect is the reviewed
    * max-day pattern). Token count = whitespace tokens (the same measure the
    * token-stats family declares); zero-token docs occupy no sequence
    * and are excluded. All arithmetic is non-negative integers, so
    * Spark `div` and DuckDB `//` agree. */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val budget = 512L
    val toks = graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(filter(split($"text", " "), w => length(w) > 0))
          .cast("long").as("n_toks"))
    // 1-row bounded collect (the max-day precedent) fixing 64 ranges;
    // null max = empty table -> empty result with the declared schema
    // (not an opaque NPE — the PlanBatches empty-guard discipline)
    val maxRow = toks.agg(max($"doc_id")).head
    if (maxRow.isNullAt(0))
      return toks.filter(lit(false))
        .select($"doc_id", $"n_toks", lit(0L).as("first_seq"),
          lit(0L).as("last_seq"), lit(0L).as("n_seqs"))
    val maxId = maxRow.getLong(0)
    val width = maxId / 64L + 1L
    val ranged = toks.withColumn("rng", expr(s"doc_id div $width"))
    Prefix.running(ranged, Nil, "rng", Seq($"doc_id"), Some($"n_toks"),
        "cum_end")
      .filter($"n_toks" > 0)
      .select($"doc_id", $"n_toks",
        expr(s"(cum_end - n_toks) div $budget").as("first_seq"),
        expr(s"(cum_end - 1) div $budget").as("last_seq"))
      .withColumn("n_seqs", $"last_seq" - $"first_seq" + 1L)
      .orderBy($"doc_id")
  }

  /** Deterministic seeded GLOBAL SHUFFLE with round-robin shard
    * assignment — the last step before a training run reads the corpus:
    * a reproducible global visit order (pos 1..N over a stable hash of
    * doc_id) and the shard each example lands in (pos-round-robin over
    * 8 shards, so shard sizes differ by at most one). pos is the
    * [[Prefix]] global rank over 64 contiguous ranges of the hash
    * space [0, 1e9+7), not `row_number() OVER (ORDER BY hash)`. Same
    * int64 hash envelope as [[groupSplit]]. */
  def globalShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val M = 1000000007L
    val nBuckets = 64
    val width = (M + nBuckets - 1) / nBuckets
    val hashed = graft.Tables.documents(spark, sfDir)
      .select($"doc_id")
      .withColumn("h", pmod(pmod($"doc_id", lit(M)) * 2654435761L + 17L, lit(M)))
      .withColumn("bucket", ($"h" / lit(width)).cast("int"))
    Prefix.running(hashed, Nil, "bucket", Seq($"h".asc, $"doc_id".asc),
        None, "pos")
      .select($"pos", pmod($"pos" - 1L, lit(8L)).as("shard_id"), $"doc_id")
      .orderBy($"pos")
  }

  /** D21-D22: Tokenizer -> HashingTF(1000, binary=false), the persisted
    * stage config of the reference model. Declared WITHOUT oracle (bucket
    * ids are murmur3-specific); summarized per doc so the rows-only check
    * is stable: nnz buckets + total term count. */
  def hashingTf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val tokenized = new Tokenizer().setInputCol("text")
      .setOutputCol("tokens").transform(docs)
    val featurized = new HashingTF().setInputCol("tokens")
      .setOutputCol("features").setNumFeatures(1000).setBinary(false)
      .transform(tokenized)
    featurized
      .select($"doc_id", vector_to_array($"features").as("f"))
      .select($"doc_id",
        size(filter($"f", v => v > 0)).as("nnz"),
        aggregate($"f", lit(0.0), (a, v) => a + v).cast("long").as("total_tf"))
      .orderBy($"doc_id")
  }

  /** The oracle-checkable twin of [[hashingTf]]: same bucketize-tokens
    * capability, but with an ENGINE-NEUTRAL hash (first 8 hex chars of
    * sha256 mod 1000) both engines compute identically — so the
    * hashing-TF shape gets a full value-level oracle, while the
    * murmur3-backed ml.HashingTF stays rows-only per SURVEY §2.5-4. */
  def hashingTfSql(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .withColumn("bucket",
        pmod(conv(substring(sha2($"token", 256), 1, 8), 16, 10).cast("long"),
          lit(1000)))
      .groupBy($"doc_id")
      .agg(countDistinct($"bucket").as("nnz"), count(lit(1)).as("total_tf"))
      .orderBy($"doc_id")
  }

  /** Seeded Bernoulli sample (D20's randomSplit generalized to corpus
    * subsampling) + per-key stratified sampleBy, summarized per group.
    * Declared WITHOUT oracle (sampler is Spark-impl-specific; DuckDB
    * cannot replay the XORShift draw) — determinism and fraction bounds
    * are pinned in SampleSpec instead. */
  def sampleSeeded(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, sfDir)
    val bern = li.sample(withReplacement = false, 0.1, seed = 42)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n_bernoulli"))
    val strat = li.stat.sampleBy("l_returnflag",
      Map("A" -> 0.05, "N" -> 0.10, "R" -> 0.20), seed = 42)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n_stratified"))
    bern.join(strat, Seq("l_returnflag"), "left")
      .orderBy($"l_returnflag")
  }

  /** The reference's CORE dataflow as one declared query: train the
    * Tokenizer -> HashingTF(1000) -> DecisionTree pipeline
    * (00_training_pipeline.py:137-141) on the documents fixture
    * (label = english, D16-18) and score the corpus
    * (01_classification_pipeline.py:188). DT training on fixed input is
    * deterministic; declared rows-only (no SQL oracle for tree
    * induction), e2e behavior also pinned by FlowSpec on the reference
    * goldens. */
  def trainPredict(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text",
        coalesce($"lang".like("e%").cast("double"), lit(0.0)).as("label"))
    val pipeline = new org.apache.spark.ml.Pipeline().setStages(Array(
      new org.apache.spark.ml.feature.Tokenizer()
        .setInputCol("text").setOutputCol("tokenized"),
      new org.apache.spark.ml.feature.HashingTF()
        .setInputCol("tokenized").setOutputCol("features")
        .setNumFeatures(1000),
      new org.apache.spark.ml.classification.DecisionTreeClassifier()
        .setLabelCol("label").setFeaturesCol("features")
        .setMaxDepth(5).setMaxBins(32)))
    val model = pipeline.fit(docs)
    model.transform(docs)
      .select($"doc_id", $"label", $"prediction")
      .filter($"doc_id" < 100)
      .orderBy($"doc_id")
  }

  /** D24/D25 inference parity: load a persisted PipelineModel and score
    * one day of cleaned posts exactly as the reference's classification
    * task does (01_classification_pipeline.py:179-207): `;`-csv scan,
    * PipelineModel.transform, project id/subreddit/probability/
    * prediction, derive prediction_label (class 1 = "datascience").
    * Spark 4 ML loads the reference's committed Spark 2.2.0 model
    * layout directly — byte-parity with the 4 days of committed scored
    * outputs is pinned in ModelParitySpec. */
  def scoreWithModel(spark: SparkSession, modelPath: String,
                     cleanedCsv: String): DataFrame = {
    import spark.implicits._
    val df = spark.read.option("delimiter", ";").option("header", "true")
      .csv(cleanedCsv)
    val model = graft.flow.Committed.model(spark, modelPath)
    model.transform(df)
      .select($"id", $"subreddit", $"probability", $"prediction")
      .withColumn("prediction_label",
        when($"prediction" === 1, "datascience").otherwise("gameofthrones"))
  }

  /** q_ml_lag_features — per-user time-series feature engineering (the
    * standard churn/CTR feature block): previous event's value (lag 1),
    * trailing 7-ROW mean, and events-since-start, over the
    * deterministic total order (user_id, ts, event_id). One shuffle on
    * user_id; per-row state is the 7-row frame. The trailing mean is
    * decimal-exact-sum / count divided in double space (the davg
    * discipline), so frame evaluation order can't wiggle the result. */
  def lagFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val w7 = w.rowsBetween(-6, 0)
    graft.Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ts_ms"),
        $"value",
        lag($"value", 1).over(w).as("value_lag1"),
        (sum(AggOps.dec($"value")).over(w7).cast("double") /
          count(lit(1)).over(w7).cast("double")).as("value_avg7"),
        (row_number().over(w) - 1).as("n_prior"))
      .orderBy($"user_id", $"ts_ms", $"event_id")
  }

  /** q_ml_class_weights — inverse-frequency class weights (the sklearn
    * "balanced" heuristic: total / (k * n_class)) over documents.lang,
    * the standard rebalancing input for a loss-weighted trainer. One
    * partial-agg'd groupBy; the (k, total) scalar rides in on a 1-row
    * broadcast crossJoin, so cost is a single pass at any scale. All
    * inputs are exact bigints divided once in double space and rounded
    * to 6dp — engine-portable. */
  def classWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = graft.Tables.documents(spark, sfDir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint() // k rows; totals below must not rescan documents
    val totals = counts.agg(sum($"n_docs").as("total"),
      count(lit(1)).as("k"))
    counts.crossJoin(broadcast(totals))
      .select($"lang", $"n_docs",
        round($"total".cast("double") /
          ($"k" * $"n_docs").cast("double"), 6).as("class_weight"))
      .orderBy($"lang")
  }

  /** q_ml_kfold — deterministic k-fold assignment (k=5) for
    * cross-validation: fold = (doc_id * Knuth-multiplier) mod 5, the
    * same engine-portable pseudo-shuffle the split/sample queries use
    * (non-negative operands, so DuckDB's flooring % and Spark's
    * truncating pmod agree). The id is reduced mod 1e9+7 BEFORE the
    * multiply: the raw product overflows int64 at doc_id ~3.5e9 — a
    * real id range for a 100 TB corpus — and ANSI Spark/DuckDB both
    * hard-fail on overflow; (1e9+6) * 2654435761 stays under 2^63 for
    * every possible id. Per-fold summary proves the folds are balanced
    * and class-complete — the property a CV harness actually needs. */
  def kfold(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .groupBy(pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L,
        lit(5)).as("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        sum($"n_chars").as("chars"))
      .orderBy($"fold")
  }

  /** q_ml_weighted_sample — weight-proportional sampling WITHOUT
    * replacement (Efraimidis-Spirakis, IPL 2006: take the top-k by
    * u^(1/w), here ranked by the equivalent ln(u)/w): longer documents
    * (w = n_chars, the stand-in for a quality score) are
    * proportionally likelier to be kept, unlike the uniform
    * hash-order sampling of quota/temperature mixes which weight
    * GROUPS, not items. Deterministic and engine-portable: u is an
    * integer-hash ratio (the shared Knuth multiplier, id reduced mod 1e9+7 first so the product never overflows int64 — see kfold), ln is rounded
    * to 6dp before the division (the logprob discipline), and the
    * top-100 cut is a (key, doc_id) row_number — which
    * RewriteTopKWindow plans as a bounded heap, so the op is one
    * narrow map + one top-k at any corpus size. */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val keyed = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars",
        // divide by the modulus itself so u ∈ [0, 1) — the documented
        // Efraimidis-Spirakis contract; /1e9 let u reach ~1.007 where
        // ln(u) >= 0 outranked every properly-weighted row
        (pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L + 7L,
          lit(1000000007L)).cast("double") / 1000000007.0).as("u"))
      .withColumn("es_key",
        round(log(greatest($"u", lit(1.0e-9))), 6) /
          $"n_chars".cast("double"))
    val w = Window.orderBy($"es_key".desc, $"doc_id")
    keyed.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 100)
      .select($"rk", $"doc_id", $"lang", $"n_chars",
        round($"es_key", 9).as("es_key"))
      .orderBy($"rk")
  }

  /** q_ml_pps_systematic_sample — STRICTLY weight-proportional
    * systematic sampling (Madow 1949, PPS systematic selection): lay
    * the documents on a line of cumulative weight (w = n_chars, doc_id
    * order), drop K = 100 evenly-spaced ticks on it (deterministic
    * zero origin — the portable twin of the random-start textbook
    * form), and keep each document once per tick inside its interval.
    * Inclusion count is EXACTLY floor(cum·K/W) − floor((cum−w)·K/W):
    * every expectation is met by construction (no variance from a key
    * transform), the complement of [[weightedSample]]'s
    * Efraimidis–Spirakis top-k whose inclusion is only proportional in
    * distribution. A document heavier than W/K is kept with
    * multiplicity (`n_picks`), which IS the PPS-with-replacement
    * boundary the textbook rule defines; `first_tick` names its first
    * tick so a pack stage can expand deterministically.
    *
    * Exactness: all BIGINT — cum·K stays far under int64 at any
    * feasible corpus (10^16 chars × 100 ticks brushes the limit;
    * beyond that the same plan runs with the product in
    * DECIMAL(38,0), noted not implemented). The global cumulative sum
    * is the [[Prefix]] running sum over 64 fixed doc_id ranges (bounds
    * from a 1-row agg broadcast in), not a keyless window. */
  def ppsSystematicSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val K = 100
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars")
    val bounds = docs.agg(max($"doc_id").as("mx"),
      sum($"n_chars").as("w_tot"))
    val b = docs.crossJoin(broadcast(bounds))
      .withColumn("bkt", least(
        floor($"doc_id".cast("double") * 64.0 / ($"mx" + 1)).cast("long"),
        lit(63L)))
    Prefix.running(b, Nil, "bkt", Seq($"doc_id"), Some($"n_chars"), "cum")
      .withColumn("n_picks", expr(
        s"(cum * $K) div w_tot - ((cum - n_chars) * $K) div w_tot"))
      .filter($"n_picks" >= 1)
      .withColumn("first_tick",
        expr(s"((cum - n_chars) * $K) div w_tot + 1"))
      .select($"doc_id", $"lang", $"n_chars", $"n_picks", $"first_tick")
      .orderBy($"doc_id")
  }

  /** q_ml_eval_metrics — the classifier eval readout (confusion cells +
    * accuracy/precision/recall/F1) over [[trainPredict]]'s scored rows,
    * in the long (metric, value) shape an experiment tracker ingests.
    * The cells are ONE groupBy over the scored frame; the derived
    * metrics are integer ratios rounded 6dp off the checkpointed 4-row
    * cell table. Declared rows-only (tree induction has no SQL
    * oracle); the spec recomputes every metric from the same scored
    * rows. */
  def evalMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = trainPredict(spark, sfDir)
      .groupBy($"label", $"prediction").agg(count(lit(1)).as("n"))
      .localCheckpoint() // <= 4 rows
    def cell(l: Double, p: Double) =
      sum(when($"label" === l && $"prediction" === p, $"n").otherwise(0L))
    val m = cells.agg(
      cell(1.0, 1.0).as("tp"), cell(0.0, 1.0).as("fp"),
      cell(1.0, 0.0).as("fn"), cell(0.0, 0.0).as("tn"))
    m.select(expr(
      """stack(8,
        |'tp', CAST(tp AS DOUBLE), 'fp', CAST(fp AS DOUBLE),
        |'fn', CAST(fn AS DOUBLE), 'tn', CAST(tn AS DOUBLE),
        |'accuracy',  round((tp + tn) / CAST(tp+fp+fn+tn AS DOUBLE), 6),
        |'precision', round(tp / CAST(greatest(tp+fp, 1) AS DOUBLE), 6),
        |'recall',    round(tp / CAST(greatest(tp+fn, 1) AS DOUBLE), 6),
        |'f1', round(2.0*tp / CAST(greatest(2*tp+fp+fn, 1) AS DOUBLE), 6)
        |) AS (metric, value)""".stripMargin))
      .orderBy($"metric")
  }

  /** q_ml_eval_metrics_sql — the SQL-expressible twin of
    * [[evalMetrics]] (the q_ml_hashing_tf / q_ml_hashing_tf_sql
    * precedent): the same confusion-cell + accuracy/precision/recall/F1
    * readout PLUS tie-corrected ROC-AUC, over a DETERMINISTIC scorer
    * (label = lang='en', score bucket s = n_chars % 97, prediction =
    * s >= 49) instead of the tree — which is what buys the full DuckDB
    * value oracle the model path can't have.
    *
    * AUC is computed by the Mann-Whitney PAIR formulation on the
    * per-bucket histogram, not per-row ranks: score cardinality is
    * bounded (<= 97 buckets; continuous scores would be quantized
    * first — the standard trick), so the "all positive-negative pairs"
    * double sum is a <=97x97 broadcast theta-join of two tiny
    * aggregates, with NO global sort/window over the corpus. Ties
    * contribute 1/2 per the tie-corrected definition; arithmetic stays
    * integer (2*wins + ties over 2*P*N) until the one final division,
    * so both engines agree bit-for-bit. (Past ~10^9 positives x
    * negatives per side the pair products outgrow BIGINT — the escape
    * is the same histogram in DECIMAL(38,0); the shape is unchanged.) */
  def evalMetricsSql(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scored = graft.Tables.documents(spark, sfDir).select(
        when($"lang" === "en", 1L).otherwise(0L).as("label"),
        ($"n_chars" % 97).as("s"))
      .withColumn("pred", when($"s" >= 49, 1L).otherwise(0L))
    val cells = scored.agg(
      sum(when($"label" === 1 && $"pred" === 1, 1L).otherwise(0L)).as("tp"),
      sum(when($"label" === 0 && $"pred" === 1, 1L).otherwise(0L)).as("fp"),
      sum(when($"label" === 1 && $"pred" === 0, 1L).otherwise(0L)).as("fn"),
      sum(when($"label" === 0 && $"pred" === 0, 1L).otherwise(0L)).as("tn"))
    val byScore = scored.groupBy($"s")
      .agg(count(lit(1)).as("n"), sum($"label").as("pos"))
      .withColumn("neg", $"n" - $"pos")
    val wins = byScore.select($"s".as("sa"), $"pos".as("pa"))
      .join(broadcast(byScore.select($"s".as("sb"), $"neg".as("nb"))),
        $"sa" > $"sb")
      .agg(coalesce(sum($"pa" * $"nb"), lit(0L)).as("wins"))
    val ties = byScore
      .agg(coalesce(sum($"pos" * $"neg"), lit(0L)).as("ties"))
    cells.crossJoin(wins).crossJoin(ties).select(expr(
      """stack(9,
        |'tp', CAST(tp AS DOUBLE), 'fp', CAST(fp AS DOUBLE),
        |'fn', CAST(fn AS DOUBLE), 'tn', CAST(tn AS DOUBLE),
        |'accuracy',  round((tp + tn) / CAST(tp+fp+fn+tn AS DOUBLE), 6),
        |'precision', round(tp / CAST(greatest(tp+fp, 1) AS DOUBLE), 6),
        |'recall',    round(tp / CAST(greatest(tp+fn, 1) AS DOUBLE), 6),
        |'f1', round(2.0*tp / CAST(greatest(2*tp+fp+fn, 1) AS DOUBLE), 6),
        |'auc', round((2*wins + ties)
        |  / CAST(greatest(2*(tp+fn)*(fp+tn), 1) AS DOUBLE), 6)
        |) AS (metric, value)""".stripMargin))
      .orderBy($"metric")
  }

  /** q_ml_calibration — reliability-diagram bins for the same
    * deterministic scorer as [[evalMetricsSql]]: decile bins over the
    * score bucket, each with its support, positive count, observed
    * positive rate, and mean score bucket. ONE hash aggregation over
    * the corpus (10 output rows) — the shape a calibration readout
    * keeps at any scale. Fully value-oracled. */
  def calibration(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(
        when($"lang" === "en", 1L).otherwise(0L).as("label"),
        ($"n_chars" % 97).as("s"))
      .groupBy(($"s" / 10).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum($"label").as("pos"),
        round(sum($"label") / count(lit(1)).cast("double"), 6).as("pos_rate"),
        round(sum($"s") / count(lit(1)).cast("double"), 6).as("mean_s"))
      .orderBy($"bin")
  }

  /** q_ml_cuped — CUPED variance reduction (Deng, Xu, Kohavi & Walker,
    * WSDM 2013), the standard pre-experiment-covariate adjustment every
    * A/B platform runs: per customer, y = post-period spend (orders on
    * or after 1999-01-01, cents), x = pre-period spend; θ = cov(x,y)/
    * var(x) POOLED across arms (the paper's recommendation — a per-arm
    * θ biases the delta); adjusted metric y* = y − θ(x − x̄). Arms are
    * the overflow-safe Knuth split on c_custkey. Readout: per-arm n and
    * raw/adjusted mean (dollars), the adjusted treatment delta, and the
    * variance-reduction ratio 1 − var(y*)/var(y) ≈ ρ² (the whole point
    * of CUPED). Numerics: ONE groupBy(customer) collapses the corpus;
    * the metric is WHOLE DOLLARS (cents div 100 per order — exact
    * floor in both engines; cents-level moments would push Σx² past
    * int64 near sf1, dollars hold to ~sf10, the neyman moment-bound
    * discipline) so Σx, Σy, Σxy, Σxx, Σyy are exact int64; θ and
    * every readout assemble in doubles in the SAME operation order
    * both engines use, micro-floored. var(y*) expands ALGEBRAICALLY —
    * var(y) − 2θcov + θ²var(x) — so no second pass over the data is
    * ever needed: two narrow aggregations at any scale. */
  def cuped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dollars = expr(
      "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint) div 100")
    val per = graft.Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(
        sum(when($"o_orderdate" < lit("1999-01-01").cast("timestamp"),
          dollars).otherwise(0L)).as("x"),
        sum(when($"o_orderdate" >= lit("1999-01-01").cast("timestamp"),
          dollars).otherwise(0L)).as("y"))
      .withColumn("arm",
        when(pmod(pmod($"o_custkey", lit(1000000007L)) * 2654435761L + 13L,
          lit(1000L)) < 500L, "treat").otherwise("control"))
      .localCheckpoint() // customer frame, feeds pooled + per-arm legs
    val pooled = per.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy")) // 1 row
    // pooled θ, x̄ and the algebraic variance identities, all from the
    // six exact moments (cents → dollars only in the readouts)
    val cov = $"sxy".cast("double") / $"n" -
      ($"sx".cast("double") / $"n") * ($"sy".cast("double") / $"n")
    val varx = $"sxx".cast("double") / $"n" -
      ($"sx".cast("double") / $"n") * ($"sx".cast("double") / $"n")
    val vary = $"syy".cast("double") / $"n" -
      ($"sy".cast("double") / $"n") * ($"sy".cast("double") / $"n")
    val scalars = pooled.select($"n",
      (cov / varx).as("theta"),
      ($"sx".cast("double") / $"n").as("xbar"),
      (lit(1.0) - (vary - lit(2.0) * (cov / varx) * cov +
        (cov / varx) * (cov / varx) * varx) / vary).as("vrr"))
    val arms = per.groupBy($"arm")
      .agg(count(lit(1)).as("n_arm"), sum($"x").as("ax"), sum($"y").as("ay"))
    arms.crossJoin(broadcast(scalars)) // 2-row × 1-row frames
      .select($"arm", $"n_arm",
        micro($"ay".cast("double") / $"n_arm").as("mean_y"),
        micro($"ay".cast("double") / $"n_arm" - $"theta" *
          ($"ax".cast("double") / $"n_arm" - $"xbar"))
          .as("mean_y_adj"),
        micro($"theta").as("theta"),
        micro($"vrr").as("var_reduction"))
      .orderBy($"arm")
  }

  /** q_ml_ate_strata — stratified average-treatment-effect estimate
    * (Imbens & Rubin 2015, the subclassification estimator): treatment
    * propensity is deliberately CONFOUNDED with the lang stratum (the
    * Knuth-hash threshold shifts for 'en' docs), so the naive
    * treated-vs-control mean difference is biased and the
    * stratum-weighted estimate Σ_s (n_s/N)(ȳ₁ₛ − ȳ₀ₛ) corrects it —
    * the readout demonstrates exactly that gap. Numerics: per-(stratum,
    * arm) exact int64 (n, Σy) cells — a bounded |lang|×2 contingency
    * frame (the cramers_v shape); each stratum's mean difference is
    * ONE double subtraction round(,6)::DECIMAL, weighted by the
    * integer n_s, summed exactly, divided once micro-floored. */
  def ateStrata(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val flagged = graft.Tables.documents(spark, sfDir)
      .withColumn("treat",
        (pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L + 29L,
          lit(1000L)) <
          when($"lang" === "en", 650L).otherwise(350L)).cast("long"))
    ateStrataFrom(flagged)
  }

  /** The estimator body over a pre-flagged (lang, treat, n_chars)
    * frame — split out so the one-armed-stratum guard below is
    * pinnable on a synthetic fixture (Wave14Spec). */
  private[graft] def ateStrataFrom(flagged: DataFrame): DataFrame = {
    import flagged.sparkSession.implicits._
    val cells = flagged.groupBy($"lang", $"treat")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sy"))
      .localCheckpoint() // bounded |lang|×2 frame
    val tot = cells.groupBy($"treat")
      .agg(sum($"n").as("nt"), sum($"sy").as("st")) // 2 rows
    val naive = tot.agg(
      sum($"nt").as("n_docs"),
      micro(max(when($"treat" === 1L, $"st".cast("double") / $"nt")) -
        max(when($"treat" === 0L, $"st".cast("double") / $"nt")))
        .as("naive_diff")) // 1 row
    val strata = cells.groupBy($"lang")
      .agg(sum($"n").as("ns"),
        max(when($"treat" === 1L, $"sy".cast("double") / $"n")).as("m1"),
        max(when($"treat" === 0L, $"sy".cast("double") / $"n")).as("m0"))
    // r13 advisory (ADVICE.md): a stratum missing one arm has NULL
    // m1/m0, so its term vanished from the numerator while its ns
    // still counted in nn — silently biasing the estimate toward 0 by
    // that stratum's weight. Subclassification is only defined over
    // strata with BOTH arms observed (Imbens & Rubin 2015 §17), so
    // one-armed strata now leave numerator AND denominator together,
    // and the readout counts how many were dropped.
    val both = $"m1".isNotNull && $"m0".isNotNull
    strata
      .withColumn("term",
        when(both, $"ns" * round($"m1" - $"m0", 6).cast("decimal(18,6)")))
      .agg(sum(when(both, 1L).otherwise(0L)).as("n_strata"),
        sum(when(both, lit(0L)).otherwise(1L)).as("n_strata_dropped"),
        sum($"term").as("s"),
        sum(when(both, $"ns")).as("nn"))
      .crossJoin(broadcast(naive)) // two 1-row frames
      .select($"n_docs", $"n_strata", $"n_strata_dropped", $"naive_diff",
        micro($"s".cast("double") / $"nn".cast("double")).as("ate_strat"))
  }

  /** q_ml_propensity_balance — pre-experiment covariate balance check
    * (standardized mean differences, the Table-1 diagnostic of Austin
    * 2009): for the SAME arm assignment [[cuped]] uses, the SMD of
    * each pre-period covariate — spend, order count, active days —
    * between arms: SMD = (m₁−m₀)/√((s₁²+s₀²)/2). |SMD| < 0.1 is the
    * conventional "balanced" bar, and a hash-randomized split should
    * pass it on every covariate (Wave13gSpec pins exactly that, plus
    * that the SMDs are not identically zero — the check is live).
    * Numerics: per-customer covariates exact int64 (dollars via the
    * cuped div-100 bound); per-(covariate, arm) moments from ONE
    * conditional aggregation; variance numerators DECIMAL(38) (the
    * power_analysis rule); each SMD is one mirrored double chain,
    * micro-floored. Scale: one groupBy(customer) + one 3-row
    * aggregation. */
  def propensityBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dollars = expr(
      "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint) div 100")
    val per = graft.Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(
        sum(when($"o_orderdate" < lit("1999-01-01").cast("timestamp"),
          dollars).otherwise(0L)).as("pre_dollars"),
        sum(when($"o_orderdate" < lit("1999-01-01").cast("timestamp"), 1L)
          .otherwise(0L)).as("pre_orders"),
        countDistinct(when($"o_orderdate" <
          lit("1999-01-01").cast("timestamp"),
          to_date($"o_orderdate"))).as("pre_days"))
      .withColumn("t",
        (pmod(pmod($"o_custkey", lit(1000000007L)) * 2654435761L + 13L,
          lit(1000L)) < 500L).cast("long"))
    val long3 = per.select($"t", expr(
      "stack(3, 'pre_dollars', pre_dollars, 'pre_orders', pre_orders," +
        " 'pre_days', pre_days) as (covariate, v)"))
    def m(arm: Long, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      sum(when($"t" === arm, f($"v")).otherwise(lit(0).cast("decimal(20,0)")))
    val g = long3.groupBy($"covariate").agg(
      sum(when($"t" === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when($"t" === 0L, 1L).otherwise(0L)).as("n0"),
      m(1L, v => v.cast("decimal(20,0)")).as("s1"),
      m(0L, v => v.cast("decimal(20,0)")).as("s0"),
      m(1L, v => v.cast("decimal(20,0)") * v.cast("decimal(20,0)")).as("q1"),
      m(0L, v => v.cast("decimal(20,0)") * v.cast("decimal(20,0)")).as("q0"))
    def varOf(n: String, s: String, q: String) =
      (col(n).cast("decimal(20,0)") * col(q) - col(s) * col(s))
        .cast("double") / (col(n) * (col(n) - 1L)).cast("double")
    g.select($"covariate", $"n1".as("n_treat"), $"n0".as("n_ctrl"),
        micro($"s1".cast("double") / $"n1").as("mean_treat"),
        micro($"s0".cast("double") / $"n0").as("mean_ctrl"),
        micro(($"s1".cast("double") / $"n1" - $"s0".cast("double") / $"n0") /
          sqrt((varOf("n1", "s1", "q1") + varOf("n0", "s0", "q0")) / 2.0))
          .as("smd"))
      .orderBy($"covariate")
  }

  /** q_ml_kaplan_meier — Kaplan–Meier survival curve (Kaplan & Meier,
    * JASA 1958) over customer LIFETIME (days between first and last
    * order), the churn readout that handles RIGHT-CENSORING correctly
    * — a customer whose last order sits within 90 days of the corpus
    * end may still be alive, and dropping or counting them as churned
    * both bias the curve. Ŝ(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over event
    * times; computed in LOG space with the bigram-LM discipline —
    * each factor round(ln((nᵢ−dᵢ)/nᵢ),6)::DECIMAL, exact cumulative
    * DECIMAL sum over the bounded duration domain, readouts exp once
    * + micro-floor (exp of a 6-dp-rounded argument: the same
    * cross-engine contract every ln-recipe query already carries).
    *
    * Scale: ONE groupBy(customer) collapses the corpus; everything
    * after lives on the bounded duration domain (≤ calendar days —
    * the cusum rationale): risk sets are a cumulative sum over that
    * domain, never a per-customer window. */
  def kaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w2 = org.apache.spark.sql.expressions.Window
    val per = graft.Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("first"),
        max(to_date($"o_orderdate")).as("last"))
    val horizon = broadcast(graft.Tables.orders(spark, sfDir)
      .agg(max(to_date($"o_orderdate")).as("m"))) // 1 row
    val durs = per.crossJoin(horizon)
      .select(datediff($"last", $"first").cast("long").as("dur"),
        (datediff($"m", $"last") > 90).cast("long").as("event"))
    val cells = durs.groupBy($"dur")
      .agg(sum($"event").as("d"),
        sum(lit(1L) - $"event").as("c")) // bounded duration domain
    val tot = cells.agg(sum($"d" + $"c").as("n_total")) // 1 row
    cells.crossJoin(broadcast(tot))
      .withColumn("n_risk", $"n_total" - coalesce(sum($"d" + $"c").over(
        w2.orderBy($"dur").rowsBetween(w2.unboundedPreceding, -1)),
        lit(0L)))
      // the terminal row can exhaust the risk set (n_risk == d, all
      // events): ln(0) is the curve hitting EXACTLY 0 — emitted as
      // surv = 0 / NULL log_surv, never fed through ln (mirrored CASE)
      .withColumn("term", when($"d" > 0L && $"n_risk" > $"d",
        round(log(($"n_risk" - $"d").cast("double") /
          $"n_risk".cast("double")), 6).cast("decimal(18,6)"))
        .otherwise(lit(0).cast("decimal(18,6)")))
      .withColumn("cum",
        sum($"term").over(w2.orderBy($"dur"))) // bounded domain
      .filter($"d" > 0L) // KM reports event times
      .select($"dur".as("dur_days"), $"n_risk", $"d".as("n_events"),
        $"c".as("n_censored_at"),
        when($"n_risk" > $"d", $"cum".cast("double")).as("log_surv"),
        when($"n_risk" > $"d", micro(exp($"cum".cast("double"))))
          .otherwise(lit(0.0)).as("surv"))
      .orderBy($"dur_days")
  }

  /** q_ml_nelson_aalen — Nelson–Aalen cumulative hazard (Nelson 1972,
    * Aalen 1978) over the same censored customer-lifetime data as
    * [[kaplanMeier]]: Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ — the estimator of choice
    * when the HAZARD (instantaneous churn rate) is the readout, and
    * numerically friendlier than KM's product (a plain sum of exact
    * rationals: each dᵢ/nᵢ is round(,6)::DECIMAL, the cumulative sum
    * exact — no logs, no exp anywhere, unlike KM this estimator is
    * fully rational). Same bounded-duration-domain shape; also emits
    * exp(−Ĥ), the Breslow survival estimate, for the KM cross-check
    * (Wave13hSpec pins Breslow ≥ KM pointwise — a known identity). */
  def nelsonAalen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w2 = org.apache.spark.sql.expressions.Window
    val per = graft.Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(min(to_date($"o_orderdate")).as("first"),
        max(to_date($"o_orderdate")).as("last"))
    val horizon = broadcast(graft.Tables.orders(spark, sfDir)
      .agg(max(to_date($"o_orderdate")).as("m"))) // 1 row
    val cells = per.crossJoin(horizon)
      .select(datediff($"last", $"first").cast("long").as("dur"),
        (datediff($"m", $"last") > 90).cast("long").as("event"))
      .groupBy($"dur")
      .agg(sum($"event").as("d"),
        sum(lit(1L) - $"event").as("c")) // bounded duration domain
    val tot = cells.agg(sum($"d" + $"c").as("n_total")) // 1 row
    cells.crossJoin(broadcast(tot))
      .withColumn("n_risk", $"n_total" - coalesce(sum($"d" + $"c").over(
        w2.orderBy($"dur").rowsBetween(w2.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("term", when($"d" > 0L,
        round($"d".cast("double") / $"n_risk".cast("double"), 6)
          .cast("decimal(18,6)"))
        .otherwise(lit(0).cast("decimal(18,6)")))
      .withColumn("chaz", sum($"term").over(w2.orderBy($"dur")))
      .filter($"d" > 0L)
      .select($"dur".as("dur_days"), $"n_risk", $"d".as("n_events"),
        $"chaz".cast("double").as("cum_hazard"),
        micro(exp(-$"chaz".cast("double"))).as("surv_breslow"))
      .orderBy($"dur_days")
  }

  /** q_ml_power_analysis — A/B sample-size calculator (the standard
    * two-sample normal-approximation power formula): n per arm =
    * ⌈2(z_α/2 + z_β)²·s²/δ²⌉ at α = 0.05 two-sided, power = 0.80
    * (z = 1.959964, 0.841621 — the same literals both engines carry),
    * for minimum detectable effects of 1/2/5% of the mean — the
    * pre-experiment readout that pairs with [[cuped]] (whose measured
    * variance-reduction ratio shrinks s² and hence these n's).
    * Numerics: order value in whole dollars (the cuped moment-bound
    * discipline); n, Σy, Σy² exact int64; the sample variance and
    * each n_per_arm assemble in doubles in the mirrored operation
    * order, ceil at the end (exact in both engines). One corpus
    * aggregation + a 3-row MDE fan-out: scale-free. */
  def powerAnalysis(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val g = graft.Tables.orders(spark, sfDir)
      .select(expr(
        "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint) div 100")
        .as("y"))
      .agg(count(lit(1)).as("n"), sum($"y").as("sy"),
        sum($"y" * $"y").as("syy")) // 1 row
    val mean = $"sy".cast("double") / $"n"
    // n·Σy² overflows int64 near sf0.01 — the numerator runs in
    // DECIMAL(38) exactly, one double cast (mirrored in the twin)
    val variance = ($"n".cast("decimal(20,0)") * $"syy".cast("decimal(20,0)") -
      $"sy".cast("decimal(20,0)") * $"sy".cast("decimal(20,0)"))
      .cast("double") / ($"n" * ($"n" - 1L)).cast("double")
    Seq(1, 2, 5).toDF("mde_pct").crossJoin(broadcast(g))
      .select($"mde_pct", $"n".as("n_obs"),
        micro(mean).as("mean_y"), micro(variance).as("var_y"),
        ceil(lit(2.0) * (lit(1.959964) + lit(0.841621)) *
          (lit(1.959964) + lit(0.841621)) * variance /
          ((lit(0.01) * $"mde_pct" * mean) *
            (lit(0.01) * $"mde_pct" * mean))).cast("long")
          .as("n_per_arm"))
      .orderBy($"mde_pct")
  }

  /** q_ml_auc_rank — ROC AUC of [[calibration]]'s deterministic scorer
    * via the Mann–Whitney rank-sum identity, computed from the SCORE
    * HISTOGRAM (the only AUC formulation that scales): AUC =
    * P(s⁺ > s⁻) + ½P(s⁺ = s⁻) = Σ_s pos_s·(2·negBelow_s + neg_s) /
    * (2·n⁺·n⁻). A row-level rank would need a keyless window over the
    * corpus; the histogram form needs ONE hash aggregation to the
    * bounded score domain (≤97 cells here) and a running sum over that
    * domain-sized frame (the ks_test cumulative-histogram shape).
    * EXACT int64 throughout — the numerator is an integer (ties carry
    * the exact ½ via the 2-scaling), with ONE micro-floored double
    * division per readout; gini = (num − n⁺n⁻)/(n⁺n⁻) from the same
    * integers, so AUC and Gini cannot disagree. */
  def aucRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"s")
    val h = graft.Tables.documents(spark, sfDir)
      .select(when($"lang" === "en", 1L).otherwise(0L).as("label"),
        ($"n_chars" % 97).as("s"))
      .groupBy($"s")
      .agg(sum($"label").as("pos"),
        sum(lit(1L) - $"label").as("neg")) // bounded score domain
    val cum = h.withColumn("negb",
      sum($"neg").over(w) - $"neg") // ≤97-row running sum
    cum.agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
        sum($"pos" * (lit(2L) * $"negb" + $"neg")).as("num2"))
      .select($"n_pos", $"n_neg",
        micro($"num2".cast("double") /
          (lit(2.0) * ($"n_pos" * $"n_neg").cast("double"))).as("auc"),
        micro(($"num2" - $"n_pos" * $"n_neg").cast("double") /
          ($"n_pos" * $"n_neg").cast("double")).as("gini"))
  }

  /** q_ml_neyman_sample — NEYMAN-allocated stratified sampling: the
    * survey-statistics optimum (allocate budget to stratum h ∝
    * N_h·σ_h, minimizing estimator variance at fixed budget — Neyman
    * 1934), the principled upgrade over proportional quotas when
    * strata differ in SPREAD, not just size. The portable trick:
    * N_h·σ_h = sqrt(n_h·Σx² − (Σx)²) exactly (σ² = (nΣx²−(Σx)²)/n²),
    * so the allocation weight is floor(sqrt(exact-BIGINT
    * sum-of-squares numerator)) — the same correctly-rounded-sqrt
    * bridge temperatureMix uses, with NO division before the sqrt.
    * x = n_chars (chars as the measured variable). quota_h = least(
    * n_h, greatest(1, (s_h·300) div Σs)); selection is the shared
    * stable-hash order lowered to bounded per-stratum heaps. One
    * groupBy for moments + one broadcast quota join: two narrow
    * passes at any scale. */
  def neymanSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars")
    val moments = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sx"),
        sum($"n_chars" * $"n_chars").as("sxx"))
      .withColumn("s",
        floor(sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")))
          .cast("long"))
    val total = moments.agg(sum($"s").as("s_total"))
    val quotas = moments.crossJoin(broadcast(total))
      .withColumn("quota", least($"n",
        greatest(lit(1L), expr("(s * 300) div s_total"))))
      .select($"lang", $"quota")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L, lit(1000000007L)).asc,
        $"doc_id".asc)
    docs.select($"doc_id", $"lang")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 300)
      .join(broadcast(quotas), Seq("lang"))
      .filter($"rk" <= $"quota")
      .select($"lang", $"quota", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** q_ml_curriculum_order — curriculum INTERLEAVE schedule: bucket
    * docs by difficulty (n_chars div 64, capped at 8 buckets — length
    * as the standard difficulty proxy), rank within each bucket by the
    * shared stable hash, and emit the round-robin order (rk, bucket):
    * the first |buckets| docs are one per difficulty tier, so training
    * sees the full spectrum from step one while within-tier order
    * stays reproducible — the anti-pattern it replaces is
    * easy-to-hard sorting, which starves early training of hard
    * examples entirely. The rk <= 40 cut lowers the window to bounded
    * per-bucket heaps (TopKPerKeyExec); the schedule position is pure
    * arithmetic, no global window. */
  def curriculumOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"bucket")
      .orderBy(pmod(pmod($"doc_id", lit(1000000007L)) * 2654435761L, lit(1000000007L)).asc,
        $"doc_id".asc)
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", least(expr("n_chars div 64"), lit(8L)).as("bucket"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 40)
      .select($"rk", $"bucket", $"doc_id")
      .orderBy($"rk", $"bucket")
  }

  /** q_ml_bootstrap_ci — POISSON-bootstrap confidence interval for a
    * corpus mean (here mean order value): the single-pass bootstrap
    * used at scale (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012) — instead of resampling n
    * rows with replacement per replicate (a shuffle per replicate),
    * each row carries a Poisson(1) weight per replicate, so ALL 100
    * replicates ride ONE map-side fan-out + one partial-agg'd groupBy
    * into 100 result rows. Weights are drawn by the repo's stable
    * integer hash against the Poisson(1) CDF scaled to M=1e9+7 —
    * hard-coded integer thresholds, so replicate membership is a pure
    * int64 compare in both engines (no float RNG anywhere); the tail
    * past w=6 (P ≈ 6e-4) is clamped to 6. Replicate means use the
    * exact DECIMAL-sum / floor-at-micro discipline; the 95% CI is the
    * 3rd / 98th order statistic of the 100 replicate means
    * (ceil(0.025·100) / ceil(0.975·100), ties → replicate id).
    *
    * Scale: the fan-out is projection-only (explode of a literal
    * sequence — no join, no shuffle of the ×100 rows: partial
    * aggregation collapses them map-side); the ranking window runs
    * over exactly 100 replicate-mean rows. */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val M = 1000000007L
    // floor(M * PoissonCDF(1)(k)) for k = 0..5
    val th = Seq(367879443L, 735758887L, 919698609L, 981011849L,
      996340160L, 999405822L)
    val orders = graft.Tables.orders(spark, sfDir)
      .select($"o_orderkey", AggOps.dec($"o_totalprice").as("p"))
    val fan = orders
      .select($"o_orderkey", $"p",
        explode(sequence(lit(0L), lit(99L))).as("r"))
      .withColumn("h", pmod(pmod($"o_orderkey", lit(M)) * 2654435761L +
        $"r" * 97003L, lit(M)))
      .withColumn("w",
        when($"h" < th(0), 0L).when($"h" < th(1), 1L).when($"h" < th(2), 2L)
          .when($"h" < th(3), 3L).when($"h" < th(4), 4L)
          .when($"h" < th(5), 5L).otherwise(6L))
    val reps = fan.groupBy($"r")
      .agg(micro(sum($"w" * $"p").cast("double") /
        sum($"w").cast("double")).as("mean_r"))
    val ranked = reps.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy($"mean_r".asc, $"r".asc))) // 100 rows by construction
    val ci = ranked.agg(
      count(lit(1)).as("n_replicates"),
      max(when($"rk" === 3, $"mean_r")).as("ci_lo"),
      max(when($"rk" === 98, $"mean_r")).as("ci_hi"))
    val point = orders.agg(count(lit(1)).as("n_orders"),
      micro(sum($"p").cast("double") / count(lit(1))).as("mean_point"))
    point.crossJoin(ci) // two 1-row frames
      .select($"n_orders", $"mean_point", $"n_replicates", $"ci_lo", $"ci_hi")
  }

  /** q_ml_dsir_select — Data Selection via Importance Resampling
    * (Xie et al., NeurIPS 2023) over the documents table: score every
    * RAW-pool document by how much its unigrams look drawn from the
    * TARGET distribution (sources src0–src4, the "curated" slice)
    * rather than the raw pool, then keep the top 100. Per-token
    * log-ratio λ(t) = ln(p_tgt(t)/p_raw(t)) with add-one smoothing
    * over the joint vocabulary; per-doc weight = Σ_occurrences λ(t),
    * summed with the round(ln,6)::DECIMAL(18,6) exact-sum discipline
    * (the bigram-LM precedent), ranked (weight desc, doc_id) with the
    * weight surfaced in exact micro units.
    *
    * Scale: one vocab-sized groupBy for the two count columns, one
    * 1-row totals frame crossJoined broadcast, one corpus-token join
    * against the λ table (hash join on token — λ is vocab-sized, NOT
    * collected), one per-doc aggregation, one global top-100. This is
    * the published shape: DSIR is two linear passes over the corpus. */
  def dsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val isTgt = $"source".isin((0 until 5).map(i => s"src$i"): _*)
    val tok = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", explode(split($"text", " ")).as("t"))
    val cnt = tok.groupBy($"t").agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("c_t"),
      sum(when(isTgt, 0L).otherwise(1L)).as("c_r"))
    val totals = cnt.agg(sum($"c_t").as("n_t"), sum($"c_r").as("n_r"),
      count(lit(1)).as("v")) // 1 row
    val lam = cnt.crossJoin(broadcast(totals))
      .withColumn("lam",
        round(log((($"c_t" + 1L).cast("double") / ($"n_t" + $"v").cast("double")) /
          (($"c_r" + 1L).cast("double") / ($"n_r" + $"v").cast("double"))), 6)
          .cast("decimal(18,6)"))
      .select($"t", $"lam")
    val w = tok.filter(!isTgt)
      .join(lam, Seq("t"))
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_tokens"), sum($"lam").as("wsum"))
    // global top-100 as TakeOrderedAndProject (distributed partial
    // heaps), NOT a keyless row_number over the corpus-sized frame;
    // the rank window then runs over exactly 100 rows
    w.orderBy($"wsum".desc, $"doc_id".asc).limit(100)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"wsum".desc, $"doc_id".asc)))
      .select($"rank", $"doc_id", $"source", $"n_tokens",
        ($"wsum" * 1000000L).cast("long").as("w_micro"))
      .orderBy($"rank")
  }

  /** q_ml_learning_curve — NESTED training subsets for scaling-law /
    * learning-curve experiments: ten budget fractions (10%..100%)
    * where each subset CONTAINS every smaller one — the property that
    * makes per-fraction runs comparable (Kaplan-style curves assume
    * nested data, not ten independent samples). Membership is the
    * repo's stable integer hash: doc d enters fraction f iff
    * h(d)·10 < f·M, so the subsets nest by construction and
    * membership is a pure int64 compare. One corpus scan fans each
    * doc to the fractions it belongs to (map-side explode of ≤10
    * literals), one partial-agg'd groupBy of 10 result rows — the
    * readout shape is scale-free. */
  def learningCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val M = 1000000007L
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars",
        pmod(pmod($"doc_id", lit(M)) * 2654435761L + 41L, lit(M)).as("h"))
      .select($"n_chars", $"h",
        explode(sequence(lit(1L), lit(10L))).as("frac10"))
      .filter($"h" * 10L < $"frac10" * M) // nested: f ⊂ f+1 by construction
      .groupBy($"frac10")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .orderBy($"frac10")
  }

  /** q_ml_target_encode — LEAVE-ONE-OUT target encoding of a
    * categorical feature (source → mean doc length), the standard
    * high-cardinality encoder for tabular/ranker features: a row's own
    * target is excluded from its category mean (enc = (Σ_g − x)/(n_g − 1))
    * so the encoding never leaks the row's label, plus the m-estimate
    * smoothed variant (enc_m = (Σ_g − x + m·μ)/(n_g − 1 + m), m = 10,
    * μ = the global mean) that shrinks rare categories toward the
    * prior (Micci-Barreca, SIGKDD Expl. 2001). Numerators stay exact
    * int64; the one division per variant runs in double in the same
    * operation order both engines use, micro-floored. A singleton
    * category yields NULL for the pure LOO (0/0) and the prior-pulled
    * value for the smoothed one — the reason the m-estimate exists.
    *
    * Scale: one partial-agg'd groupBy over the bounded category
    * domain, the category frame broadcast back; no window, no per-key
    * shuffle of the corpus. */
  def targetEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"n_chars")
    val g = docs.groupBy($"source")
      .agg(sum($"n_chars").as("s"), count(lit(1)).as("n"))
    val tot = docs.agg(sum($"n_chars").as("st"), count(lit(1)).as("nt"))
    docs.join(broadcast(g), Seq("source"))
      .crossJoin(broadcast(tot)) // 1-row global prior
      .withColumn("mu", $"st".cast("double") / $"nt")
      .select($"doc_id", $"source", $"n_chars",
        when($"n" > 1L,
          micro(($"s" - $"n_chars").cast("double") / ($"n" - 1L)))
          .as("loo_enc"),
        micro((($"s" - $"n_chars").cast("double") + lit(10.0) * $"mu") /
          ($"n" - 1L + 10L)).as("loo_enc_m10"))
      .orderBy($"doc_id")
  }

  /** q_ml_best_split — the decision-stump split finder (CART, Breiman
    * et al. 1984 ch. 2): the best single price threshold separating
    * 'F' orders by weighted Gini impurity. The corpus collapses ONCE
    * to the ≤100 exact isotonic price bins; every candidate threshold
    * (split after bin b, right side non-empty) reads its left/right
    * (n, s) from int64 prefix sums, and weighted Gini uses the exact
    * identity G_side·(n_side/N) = 2·s(n−s)/(n·N) — integer numerators,
    * the two divisions per candidate done in double over the ≤99-row
    * candidate frame and micro-floored BEFORE the argmin, so the
    * winner is selected on identical values in both engines (tie →
    * smallest bin). Readout: parent impurity, best split, its
    * impurity, and the gain.
    *
    * Scale: one partial-agg'd groupBy to the bounded bin frame;
    * cumsums, candidate scoring, and the argmin window all run on
    * ≤100 rows. 1-row readout. */
  def bestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val bins = graft.Tables.orders(spark, sfDir)
      .groupBy(least(floor($"o_totalprice" / 6000.0), lit(99.0))
        .cast("long").as("bin"))
      .agg(count(lit(1)).as("nb"),
        sum(when($"o_orderstatus" === "F", 1L).otherwise(0L)).as("sb"))
    val tot = bins.agg(sum($"nb").as("nn"), sum($"sb").as("ss"))
    val cand = bins
      .withColumn("nl", sum($"nb").over(
        w.orderBy($"bin").rowsBetween(w.unboundedPreceding, 0)))
      .withColumn("sl", sum($"sb").over(
        w.orderBy($"bin").rowsBetween(w.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot)) // 1-row totals frame
      .filter($"nl" < $"nn") // right side must be non-empty
      .withColumn("nr", $"nn" - $"nl")
      .withColumn("sr", $"ss" - $"sl")
      // every count product is cast-to-double BEFORE multiplying —
      // n·N and s(n−s) overflow int64 past ~3e9 rows (the 100 TB rule)
      .withColumn("g6", floor( // micro-scaled weighted Gini, argmin key
        (lit(2.0) * $"sl".cast("double") * ($"nl" - $"sl").cast("double") /
          ($"nl".cast("double") * $"nn".cast("double")) +
         lit(2.0) * $"sr".cast("double") * ($"nr" - $"sr").cast("double") /
          ($"nr".cast("double") * $"nn".cast("double"))) * 1e6)
        .cast("long"))
    cand.withColumn("rn",
        row_number().over(w.orderBy($"g6", $"bin")))
      .filter($"rn" === 1)
      .select($"nn".as("n_obs"), $"bin".as("best_bin"),
        $"nl".as("n_left"), $"nr".as("n_right"),
        micro(lit(2.0) * $"ss".cast("double") *
          ($"nn" - $"ss").cast("double") /
          ($"nn".cast("double") * $"nn".cast("double")))
          .as("gini_parent"),
        ($"g6" / 1e6).as("gini_split"),
        (floor((lit(2.0) * $"ss".cast("double") *
          ($"nn" - $"ss").cast("double") /
          ($"nn".cast("double") * $"nn".cast("double"))) * 1e6)
          .cast("long") - $"g6")
          .cast("double").divide(lit(1e6)).as("gini_gain"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ml_best_split" -> (bestSplit _),
    "q_ml_target_encode" -> (targetEncode _),
    "q_ml_learning_curve" -> (learningCurve _),
    "q_ml_bootstrap_ci" -> (bootstrapCi _),
    "q_ml_dsir_select" -> (dsirSelect _),
    "q_ml_neyman_sample" -> (neymanSample _),
    "q_ml_curriculum_order" -> (curriculumOrder _),
    "q_ml_eval_metrics" -> (evalMetrics _),
    "q_ml_eval_metrics_sql" -> (evalMetricsSql _),
    "q_ml_calibration" -> (calibration _),
    "q_ml_auc_rank" -> (aucRank _),
    "q_ml_power_analysis" -> (powerAnalysis _),
    "q_ml_kaplan_meier" -> (kaplanMeier _),
    "q_ml_nelson_aalen" -> (nelsonAalen _),
    "q_ml_propensity_balance" -> (propensityBalance _),
    "q_ml_cuped" -> (cuped _),
    "q_ml_ate_strata" -> (ateStrata _),
    "q_ml_weighted_sample" -> (weightedSample _),
    "q_ml_pps_systematic_sample" -> (ppsSystematicSample _),
    "q_ml_class_weights" -> (classWeights _),
    "q_ml_kfold" -> (kfold _),
    "q_ml_lag_features" -> (lagFeatures _),
    "q_ml_train_predict" -> (trainPredict _),
    "q_ml_sample_seeded" -> (sampleSeeded _),
    "q_ml_derive_label" -> (deriveLabel _),
    "q_ml_deterministic_split" -> (deterministicSplit _),
    "q_ml_group_split" -> (groupSplit _),
    "q_ml_quota_sample" -> (quotaSample _),
    "q_ml_temperature_mix" -> (temperatureMix _),
    "q_ml_domain_mix" -> (domainMix _),
    "q_ml_epoch_mix" -> (epochMix _),
    "q_ml_length_buckets" -> (lengthBuckets _),
    "q_ml_pack_sequences" -> (packSequences _),
    "q_ml_global_shuffle" -> (globalShuffle _),
    "q_ml_hashing_tf" -> (hashingTf _),
    "q_ml_hashing_tf_sql" -> (hashingTfSql _))

  def oracle: Map[String, String] = Map(
    "q_ml_best_split" ->
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
        |cand AS (
        |  SELECT bin, nn, ss,
        |    CAST(SUM(nb) OVER (ORDER BY bin) AS BIGINT) AS nl,
        |    CAST(SUM(sb) OVER (ORDER BY bin) AS BIGINT) AS sl
        |  FROM bins, tot),
        |scored AS (
        |  SELECT bin, nn, ss, nl, sl, nn - nl AS nr, ss - sl AS sr,
        |    CAST(floor(
        |      (2.0 * CAST(sl AS DOUBLE) * CAST(nl - sl AS DOUBLE) /
        |         (CAST(nl AS DOUBLE) * CAST(nn AS DOUBLE)) +
        |       2.0 * CAST(ss - sl AS DOUBLE) *
        |         CAST((nn - nl) - (ss - sl) AS DOUBLE) /
        |         (CAST(nn - nl AS DOUBLE) * CAST(nn AS DOUBLE)))
        |      * 1e6) AS BIGINT) AS g6
        |  FROM cand WHERE nl < nn)
        |SELECT nn AS n_obs, bin AS best_bin, nl AS n_left,
        |  nr AS n_right,
        |  CAST(floor(2.0 * CAST(ss AS DOUBLE) *
        |    CAST(nn - ss AS DOUBLE) /
        |    (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) * 1e6)
        |    AS BIGINT) / 1e6 AS gini_parent,
        |  g6 / 1e6 AS gini_split,
        |  CAST(CAST(floor(2.0 * CAST(ss AS DOUBLE) *
        |    CAST(nn - ss AS DOUBLE) /
        |    (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) * 1e6)
        |    AS BIGINT) - g6 AS DOUBLE) / 1e6 AS gini_gain
        |FROM scored ORDER BY g6, bin LIMIT 1""".stripMargin,
    "q_ml_target_encode" ->
      """WITH g AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS s,
        |    COUNT(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS st, COUNT(*) AS nt
        |  FROM documents)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  CASE WHEN g.n > 1 THEN
        |    CAST(floor(CAST(g.s - d.n_chars AS DOUBLE) / (g.n - 1) * 1e6)
        |      AS BIGINT) / 1e6 END AS loo_enc,
        |  CAST(floor((CAST(g.s - d.n_chars AS DOUBLE)
        |      + 10.0 * (CAST(t.st AS DOUBLE) / t.nt)) / (g.n - 1 + 10)
        |      * 1e6) AS BIGINT) / 1e6 AS loo_enc_m10
        |FROM documents d JOIN g USING (source) CROSS JOIN t
        |ORDER BY d.doc_id""".stripMargin,
    "q_ml_learning_curve" ->
      """WITH h AS (
        |  SELECT n_chars,
        |    ((doc_id % 1000000007) * 2654435761 + 41) % 1000000007 AS h
        |  FROM documents),
        |fan AS (
        |  SELECT n_chars, h, g.frac10
        |  FROM h, (SELECT unnest(range(1, 11)) AS frac10) g
        |  WHERE h * 10 < frac10 * 1000000007)
        |SELECT frac10, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM fan GROUP BY frac10 ORDER BY frac10""".stripMargin,
    "q_ml_bootstrap_ci" ->
      """WITH fan AS (
        |  SELECT o.o_orderkey, CAST(o.o_totalprice AS DECIMAL(14,2)) AS p,
        |    g.r,
        |    ((o.o_orderkey % 1000000007) * 2654435761 + g.r * 97003)
        |      % 1000000007 AS h
        |  FROM orders o, (SELECT unnest(range(0, 100)) AS r) g),
        |wtd AS (
        |  SELECT r, p,
        |    CASE WHEN h < 367879443 THEN 0 WHEN h < 735758887 THEN 1
        |         WHEN h < 919698609 THEN 2 WHEN h < 981011849 THEN 3
        |         WHEN h < 996340160 THEN 4 WHEN h < 999405822 THEN 5
        |         ELSE 6 END AS w
        |  FROM fan),
        |reps AS (
        |  SELECT r, CAST(floor(CAST(SUM(w * p) AS DOUBLE) /
        |    CAST(SUM(w) AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS mean_r
        |  FROM wtd GROUP BY r),
        |ranked AS (
        |  SELECT mean_r, ROW_NUMBER() OVER (ORDER BY mean_r, r) AS rk
        |  FROM reps),
        |ci AS (
        |  SELECT COUNT(*) AS n_replicates,
        |    MAX(CASE WHEN rk = 3 THEN mean_r END) AS ci_lo,
        |    MAX(CASE WHEN rk = 98 THEN mean_r END) AS ci_hi
        |  FROM ranked),
        |pt AS (
        |  SELECT COUNT(*) AS n_orders,
        |    CAST(floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
        |      AS DOUBLE) / COUNT(*) * 1e6) AS BIGINT) / 1e6 AS mean_point
        |  FROM orders)
        |SELECT n_orders, mean_point, n_replicates, ci_lo, ci_hi
        |FROM pt CROSS JOIN ci""".stripMargin,
    "q_ml_dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |cnt AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS c_r
        |  FROM tok GROUP BY t),
        |tot AS (
        |  SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
        |    CAST(SUM(c_r) AS BIGINT) AS n_r, COUNT(*) AS v FROM cnt),
        |lam AS (
        |  SELECT t, CAST(round(ln(
        |    (CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE)) /
        |    (CAST(c_r + 1 AS DOUBLE) / CAST(n_r + v AS DOUBLE))), 6)
        |    AS DECIMAL(18,6)) AS lam
        |  FROM cnt CROSS JOIN tot),
        |w AS (
        |  SELECT tok.doc_id, tok.source, COUNT(*) AS n_tokens,
        |    SUM(lam.lam) AS wsum
        |  FROM tok JOIN lam ON tok.t = lam.t
        |  WHERE tok.source NOT IN ('src0','src1','src2','src3','src4')
        |  GROUP BY tok.doc_id, tok.source)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY wsum DESC, doc_id) AS INT)
        |    AS rank,
        |  doc_id, source, n_tokens,
        |  CAST(wsum * 1000000 AS BIGINT) AS w_micro
        |FROM w ORDER BY wsum DESC, doc_id LIMIT 100""".stripMargin,
    // integer-exact twin of the histogram-pair AUC: every SUM is cast
    // to BIGINT (HUGEINT lint) and the single division happens last
    "q_ml_eval_metrics_sql" ->
      """WITH scored AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
        |    n_chars % 97 AS s,
        |    CASE WHEN n_chars % 97 >= 49 THEN 1 ELSE 0 END AS pred
        |  FROM documents),
        |cells AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN label=1 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN label=0 AND pred=1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN label=1 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN label=0 AND pred=0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM scored),
        |by_s AS (
        |  SELECT s, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS pos,
        |    COUNT(*) - CAST(SUM(label) AS BIGINT) AS neg
        |  FROM scored GROUP BY s),
        |wins AS (
        |  SELECT CAST(coalesce(SUM(a.pos * b.neg), 0) AS BIGINT) AS wins
        |  FROM by_s a JOIN by_s b ON a.s > b.s),
        |ties AS (
        |  SELECT CAST(coalesce(SUM(pos * neg), 0) AS BIGINT) AS ties
        |  FROM by_s),
        |m AS (SELECT * FROM cells, wins, ties)
        |SELECT metric, value FROM (
        |  SELECT 'tp' AS metric, CAST(tp AS DOUBLE) AS value FROM m
        |  UNION ALL SELECT 'fp', CAST(fp AS DOUBLE) FROM m
        |  UNION ALL SELECT 'fn', CAST(fn AS DOUBLE) FROM m
        |  UNION ALL SELECT 'tn', CAST(tn AS DOUBLE) FROM m
        |  UNION ALL SELECT 'accuracy',
        |    round((tp + tn) / CAST(tp+fp+fn+tn AS DOUBLE), 6) FROM m
        |  UNION ALL SELECT 'precision',
        |    round(tp / CAST(greatest(tp+fp, 1) AS DOUBLE), 6) FROM m
        |  UNION ALL SELECT 'recall',
        |    round(tp / CAST(greatest(tp+fn, 1) AS DOUBLE), 6) FROM m
        |  UNION ALL SELECT 'f1',
        |    round(2.0*tp / CAST(greatest(2*tp+fp+fn, 1) AS DOUBLE), 6) FROM m
        |  UNION ALL SELECT 'auc',
        |    round((2*wins + ties)
        |      / CAST(greatest(2*(tp+fn)*(fp+tn), 1) AS DOUBLE), 6) FROM m)
        |ORDER BY metric""".stripMargin,
    // integer-exact epoch/fractional-pass mixer: budgets, epochs and
    // the hash-threshold fractional selection all replay in BIGINT
    // (DuckDB // floors = Spark div truncates on these non-negative
    // operands). Mirrors epochMix.
    "q_ml_epoch_mix" ->
      """WITH w AS (
        |  SELECT 'src' || CAST(i AS VARCHAR) AS source,
        |    CAST(CASE WHEN i < 5 THEN 4 WHEN i < 10 THEN 2 ELSE 1 END
        |         AS BIGINT) AS w
        |  FROM range(20) t(i)),
        |c AS (
        |  SELECT d.source, w.w, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS src_chars
        |  FROM documents d JOIN w ON d.source = w.source
        |  GROUP BY d.source, w.w),
        |t AS (SELECT CAST(SUM(src_chars) AS BIGINT) AS c_total,
        |        CAST(SUM(w * src_chars) AS BIGINT) AS w_sum FROM c),
        |p AS (
        |  SELECT c.*,
        |    CAST((c_total * w * src_chars) // w_sum AS BIGINT) AS budget
        |  FROM c, t),
        |p2 AS (
        |  SELECT *, CAST(budget // src_chars AS BIGINT) AS epochs,
        |    CAST(budget % src_chars AS BIGINT) AS rem
        |  FROM p),
        |f AS (
        |  SELECT d.source, COUNT(*) AS n_frac_docs,
        |    CAST(SUM(d.n_chars) AS BIGINT) AS frac_chars
        |  FROM documents d JOIN p2 ON d.source = p2.source
        |  WHERE (((d.doc_id % 1000000007) * 2654435761 + 23) % 1000000007)
        |    * p2.src_chars
        |        < p2.rem * 1000000007
        |  GROUP BY d.source)
        |SELECT p2.source, p2.w, p2.n_docs, p2.src_chars, p2.budget,
        |  p2.epochs,
        |  coalesce(f.n_frac_docs, 0) AS n_frac_docs,
        |  coalesce(f.frac_chars, 0) AS frac_chars,
        |  p2.epochs * p2.src_chars + coalesce(f.frac_chars, 0)
        |    AS effective_chars
        |FROM p2 LEFT JOIN f ON p2.source = f.source
        |ORDER BY p2.source""".stripMargin,
    // proves the two-level range decomposition IS the global cumsum:
    // one keyless window here vs the 64-range plan on the Spark side
    "q_ml_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> len(w) > 0)) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_toks,
        |    CAST(SUM(n_toks) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
        |  FROM toks)
        |SELECT doc_id, n_toks,
        |  CAST((cum_end - n_toks) // 512 AS BIGINT) AS first_seq,
        |  CAST((cum_end - 1) // 512 AS BIGINT) AS last_seq,
        |  CAST((cum_end - 1) // 512 - (cum_end - n_toks) // 512 + 1
        |    AS BIGINT) AS n_seqs
        |FROM c WHERE n_toks > 0
        |ORDER BY doc_id""".stripMargin,
    "q_ml_length_buckets" ->
      """SELECT bucket, bucket * 64 AS cap_chars, n_docs,
        |  CAST((n_docs + 31) // 32 AS BIGINT) AS n_batches,
        |  used_chars,
        |  round(1.0 - CAST(used_chars AS DOUBLE)
        |    / CAST(((n_docs + 31) // 32) * 32 * bucket * 64 AS DOUBLE), 6)
        |    AS pad_frac
        |FROM (
        |  SELECT least((n_chars + 63) // 64, 8) AS bucket,
        |    COUNT(*) AS n_docs,
        |    CAST(SUM(least(n_chars, 512)) AS BIGINT) AS used_chars
        |  FROM documents GROUP BY 1)
        |ORDER BY bucket""".stripMargin,
    "q_ml_cuped" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN
        |      CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      // 100 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01' THEN
        |      CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      // 100 ELSE 0 END) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |arms AS (
        |  SELECT *, CASE WHEN ((o_custkey % 1000000007) * 2654435761 + 13)
        |      % 1000 < 500 THEN 'treat' ELSE 'control' END AS arm
        |  FROM per),
        |pooled AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM arms),
        |sc AS (
        |  SELECT n,
        |    (CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |      (CAST(sy AS DOUBLE)/n)) /
        |    (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |      (CAST(sx AS DOUBLE)/n)) AS theta,
        |    CAST(sx AS DOUBLE)/n AS xbar,
        |    1.0 - (
        |      (CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n) *
        |        (CAST(sy AS DOUBLE)/n))
        |      - 2.0 * ((CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sy AS DOUBLE)/n)) /
        |        (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sx AS DOUBLE)/n))) *
        |        (CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sy AS DOUBLE)/n))
        |      + ((CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sy AS DOUBLE)/n)) /
        |        (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sx AS DOUBLE)/n))) *
        |        ((CAST(sxy AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sy AS DOUBLE)/n)) /
        |        (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sx AS DOUBLE)/n))) *
        |        (CAST(sxx AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n) *
        |          (CAST(sx AS DOUBLE)/n))
        |    ) / (CAST(syy AS DOUBLE)/n - (CAST(sy AS DOUBLE)/n) *
        |        (CAST(sy AS DOUBLE)/n)) AS vrr
        |  FROM pooled),
        |am AS (
        |  SELECT arm, COUNT(*) AS n_arm,
        |    CAST(SUM(x) AS BIGINT) AS ax, CAST(SUM(y) AS BIGINT) AS ay
        |  FROM arms GROUP BY 1)
        |SELECT arm, n_arm,
        |  CAST(floor(CAST(ay AS DOUBLE) / n_arm * 1e6) AS BIGINT)
        |    / 1e6 AS mean_y,
        |  CAST(floor((CAST(ay AS DOUBLE) / n_arm - theta *
        |    (CAST(ax AS DOUBLE) / n_arm - xbar)) * 1e6) AS BIGINT)
        |    / 1e6 AS mean_y_adj,
        |  CAST(floor(theta * 1e6) AS BIGINT) / 1e6 AS theta,
        |  CAST(floor(vrr * 1e6) AS BIGINT) / 1e6 AS var_reduction
        |FROM am CROSS JOIN sc ORDER BY arm""".stripMargin,
    "q_ml_ate_strata" ->
      """WITH f AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN ((doc_id % 1000000007) * 2654435761 + 29) % 1000 <
        |      CASE WHEN lang = 'en' THEN 650 ELSE 350 END
        |      THEN 1 ELSE 0 END AS treat
        |  FROM documents),
        |cells AS (
        |  SELECT lang, treat, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sy
        |  FROM f GROUP BY 1, 2),
        |tot AS (
        |  SELECT treat, CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(sy) AS BIGINT) AS st
        |  FROM cells GROUP BY 1),
        |naive AS (
        |  SELECT CAST(SUM(nt) AS BIGINT) AS n_docs,
        |    CAST(floor((
        |      MAX(CASE WHEN treat = 1 THEN CAST(st AS DOUBLE) / nt END) -
        |      MAX(CASE WHEN treat = 0 THEN CAST(st AS DOUBLE) / nt END))
        |      * 1e6) AS BIGINT) / 1e6 AS naive_diff
        |  FROM tot),
        |strata AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS ns,
        |    MAX(CASE WHEN treat = 1 THEN CAST(sy AS DOUBLE) / n END) AS m1,
        |    MAX(CASE WHEN treat = 0 THEN CAST(sy AS DOUBLE) / n END) AS m0
        |  FROM cells GROUP BY 1),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN m1 IS NOT NULL AND m0 IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_strata,
        |    CAST(SUM(CASE WHEN m1 IS NULL OR m0 IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_strata_dropped,
        |    SUM(CASE WHEN m1 IS NOT NULL AND m0 IS NOT NULL
        |      THEN ns * CAST(round(m1 - m0, 6) AS DECIMAL(18,6)) END) AS s,
        |    CAST(SUM(CASE WHEN m1 IS NOT NULL AND m0 IS NOT NULL
        |      THEN ns END) AS BIGINT) AS nn
        |  FROM strata)
        |SELECT n_docs, n_strata, n_strata_dropped, naive_diff,
        |  CAST(floor(CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS ate_strat
        |FROM g CROSS JOIN naive""".stripMargin,
    "q_ml_propensity_balance" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01' THEN
        |      CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |      // 100 ELSE 0 END) AS BIGINT) AS pre_dollars,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS pre_orders,
        |    CAST(COUNT(DISTINCT CASE WHEN o_orderdate <
        |      TIMESTAMP '1999-01-01' THEN CAST(o_orderdate AS DATE) END)
        |      AS BIGINT) AS pre_days,
        |    CASE WHEN ((o_custkey % 1000000007) * 2654435761 + 13)
        |      % 1000 < 500 THEN 1 ELSE 0 END AS t
        |  FROM orders GROUP BY o_custkey),
        |long3 AS (
        |  SELECT t, 'pre_dollars' AS covariate, pre_dollars AS v FROM per
        |  UNION ALL
        |  SELECT t, 'pre_orders', pre_orders FROM per
        |  UNION ALL
        |  SELECT t, 'pre_days', pre_days FROM per),
        |g AS (
        |  SELECT covariate,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    SUM(CASE WHEN t = 1 THEN CAST(v AS DECIMAL(20,0))
        |      ELSE CAST(0 AS DECIMAL(20,0)) END) AS s1,
        |    SUM(CASE WHEN t = 0 THEN CAST(v AS DECIMAL(20,0))
        |      ELSE CAST(0 AS DECIMAL(20,0)) END) AS s0,
        |    SUM(CASE WHEN t = 1 THEN
        |      CAST(v AS DECIMAL(20,0)) * CAST(v AS DECIMAL(20,0))
        |      ELSE CAST(0 AS DECIMAL(20,0)) END) AS q1,
        |    SUM(CASE WHEN t = 0 THEN
        |      CAST(v AS DECIMAL(20,0)) * CAST(v AS DECIMAL(20,0))
        |      ELSE CAST(0 AS DECIMAL(20,0)) END) AS q0
        |  FROM long3 GROUP BY 1)
        |SELECT covariate, n1 AS n_treat, n0 AS n_ctrl,
        |  CAST(floor(CAST(s1 AS DOUBLE) / n1 * 1e6) AS BIGINT) / 1e6
        |    AS mean_treat,
        |  CAST(floor(CAST(s0 AS DOUBLE) / n0 * 1e6) AS BIGINT) / 1e6
        |    AS mean_ctrl,
        |  CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) /
        |    sqrt((CAST(CAST(n1 AS DECIMAL(20,0)) * q1 - s1 * s1 AS DOUBLE) /
        |          CAST(n1 * (n1 - 1) AS DOUBLE) +
        |          CAST(CAST(n0 AS DECIMAL(20,0)) * q0 - s0 * s0 AS DOUBLE) /
        |          CAST(n0 * (n0 - 1) AS DOUBLE)) / 2.0) * 1e6) AS BIGINT)
        |    / 1e6 AS smd
        |FROM g ORDER BY covariate""".stripMargin,
    "q_ml_nelson_aalen" ->
      """WITH per AS (
        |  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
        |    MAX(CAST(o_orderdate AS DATE)) AS l
        |  FROM orders GROUP BY 1),
        |h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
        |cells AS (
        |  SELECT CAST(date_diff('day', f, l) AS BIGINT) AS dur,
        |    CAST(SUM(CASE WHEN date_diff('day', l, m) > 90
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN date_diff('day', l, m) > 90
        |      THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM per CROSS JOIN h GROUP BY 1),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_total FROM cells),
        |risk AS (
        |  SELECT dur, d, c,
        |    n_total - coalesce(CAST(SUM(d + c) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS n_risk
        |  FROM cells CROSS JOIN tot),
        |cum AS (
        |  SELECT dur, d, n_risk,
        |    SUM(CASE WHEN d > 0 THEN CAST(round(
        |      CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6)
        |      AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
        |      OVER (ORDER BY dur) AS chaz
        |  FROM risk)
        |SELECT dur AS dur_days, n_risk, d AS n_events,
        |  CAST(chaz AS DOUBLE) AS cum_hazard,
        |  CAST(floor(exp(-CAST(chaz AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
        |    AS surv_breslow
        |FROM cum WHERE d > 0 ORDER BY dur""".stripMargin,
    "q_ml_kaplan_meier" ->
      """WITH per AS (
        |  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
        |    MAX(CAST(o_orderdate AS DATE)) AS l
        |  FROM orders GROUP BY 1),
        |h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
        |durs AS (
        |  SELECT CAST(date_diff('day', f, l) AS BIGINT) AS dur,
        |    CASE WHEN date_diff('day', l, m) > 90 THEN 1 ELSE 0 END
        |      AS event
        |  FROM per CROSS JOIN h),
        |cells AS (
        |  SELECT dur, CAST(SUM(event) AS BIGINT) AS d,
        |    CAST(SUM(1 - event) AS BIGINT) AS c
        |  FROM durs GROUP BY 1),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_total FROM cells),
        |risk AS (
        |  SELECT dur, d, c,
        |    n_total - coalesce(CAST(SUM(d + c) OVER (ORDER BY dur
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS n_risk
        |  FROM cells CROSS JOIN tot),
        |terms AS (
        |  SELECT dur, d, c, n_risk,
        |    CASE WHEN d > 0 AND n_risk > d THEN CAST(round(ln(
        |      CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS term
        |  FROM risk),
        |cum AS (
        |  SELECT dur, d, c, n_risk,
        |    SUM(term) OVER (ORDER BY dur) AS cum
        |  FROM terms)
        |SELECT dur AS dur_days, n_risk, d AS n_events,
        |  c AS n_censored_at,
        |  CASE WHEN n_risk > d THEN CAST(cum AS DOUBLE) END AS log_surv,
        |  CASE WHEN n_risk > d THEN
        |    CAST(floor(exp(CAST(cum AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
        |    ELSE 0.0 END AS surv
        |FROM cum WHERE d > 0 ORDER BY dur""".stripMargin,
    "q_ml_power_analysis" ->
      """WITH g AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
        |      AS BIGINT) // 100 AS y FROM orders)),
        |m AS (SELECT unnest([1, 2, 5]) AS mde_pct)
        |SELECT mde_pct, n AS n_obs,
        |  CAST(floor(CAST(sy AS DOUBLE) / n * 1e6) AS BIGINT) / 1e6
        |    AS mean_y,
        |  CAST(floor(CAST(CAST(n AS DECIMAL(20,0)) * CAST(syy AS DECIMAL(20,0))
        |      - CAST(sy AS DECIMAL(20,0)) * CAST(sy AS DECIMAL(20,0))
        |      AS DOUBLE) /
        |    CAST(n*(n-1) AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS var_y,
        |  CAST(ceil(CAST(2.0 AS DOUBLE) *
        |    (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) *
        |    (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) *
        |    (CAST(CAST(n AS DECIMAL(20,0)) * CAST(syy AS DECIMAL(20,0))
        |      - CAST(sy AS DECIMAL(20,0)) * CAST(sy AS DECIMAL(20,0))
        |      AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)) /
        |    ((CAST(0.01 AS DOUBLE) * mde_pct * (CAST(sy AS DOUBLE) / n)) *
        |     (CAST(0.01 AS DOUBLE) * mde_pct * (CAST(sy AS DOUBLE) / n))))
        |    AS BIGINT) AS n_per_arm
        |FROM m CROSS JOIN g ORDER BY mde_pct""".stripMargin,
    "q_ml_auc_rank" ->
      """WITH h AS (
        |  SELECT n_chars % 97 AS s,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
        |      AS neg
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT pos, neg,
        |    CAST(SUM(neg) OVER (ORDER BY s) AS BIGINT) - neg AS negb
        |  FROM h),
        |g AS (
        |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(neg) AS BIGINT) AS n_neg,
        |    CAST(SUM(pos * (2*negb + neg)) AS BIGINT) AS num2
        |  FROM c)
        |SELECT n_pos, n_neg,
        |  CAST(floor(CAST(num2 AS DOUBLE) /
        |    (2.0 * CAST(n_pos * n_neg AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
        |    AS auc,
        |  CAST(floor(CAST(num2 - n_pos * n_neg AS DOUBLE) /
        |    CAST(n_pos * n_neg AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS gini
        |FROM g""".stripMargin,
    "q_ml_calibration" ->
      """SELECT (n_chars % 97) // 10 AS bin, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS pos,
        |  round(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 6) AS pos_rate,
        |  round(CAST(SUM(n_chars % 97) AS BIGINT)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS mean_s
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ml_pps_systematic_sample" ->
      """WITH t AS (
        |  SELECT CAST(SUM(n_chars) AS BIGINT) AS w_tot FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  (cum*100 // t.w_tot) - ((cum - n_chars)*100 // t.w_tot)
        |    AS n_picks,
        |  ((cum - n_chars)*100 // t.w_tot) + 1 AS first_tick
        |FROM c, t
        |WHERE (cum*100 // t.w_tot) - ((cum - n_chars)*100 // t.w_tot) >= 1
        |ORDER BY doc_id""".stripMargin,
    "q_ml_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(((doc_id % 1000000007) * 2654435761 + 7) % 1000000007
        |         AS DOUBLE) / 1000000007.0 AS u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |    round(ln(greatest(u, 0.000000001)), 6)
        |      / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM k)
        |SELECT CAST(rk AS INT) AS rk, doc_id, lang, n_chars,
        |  round(es_key, 9) AS es_key
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id)
        |    AS rk FROM r)
        |WHERE rk <= 100 ORDER BY rk""".stripMargin,
    "q_ml_class_weights" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents
        |           GROUP BY lang),
        |t AS (SELECT SUM(n_docs) AS total, COUNT(*) AS k FROM c)
        |SELECT lang, n_docs,
        |  round(CAST(total AS DOUBLE) / CAST(k * n_docs AS DOUBLE), 6)
        |    AS class_weight
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,
    "q_ml_kfold" ->
      """SELECT ((doc_id % 1000000007) * 2654435761) % 5 AS fold,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ml_lag_features" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        |  lag(value, 1) OVER w AS value_lag1,
        |  CAST(sum(CAST(value AS DECIMAL(14,2)))
        |      OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(count(*)
        |      OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS value_avg7,
        |  CAST(row_number() OVER w - 1 AS INT) AS n_prior
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "q_ml_group_split" ->
      """SELECT CASE WHEN ((user_id % 1000) * 2654435761) % 1000 < 800
        |            THEN 'train' ELSE 'test' END AS split,
        |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ml_quota_sample" ->
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 25 ORDER BY lang, rk""".stripMargin,
    // N_h*sigma_h = sqrt(n*sxx - sx^2) exactly; floor(sqrt(bigint))
    // is engine-portable (the temperature-mix precedent), all else
    // bigint
    "q_ml_neyman_sample" ->
      """WITH m AS (
        |  SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
        |  FROM documents GROUP BY lang),
        |s AS (
        |  SELECT lang, n,
        |    CAST(floor(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))) AS BIGINT)
        |      AS s
        |  FROM m),
        |q AS (
        |  SELECT lang,
        |    CAST(least(n, greatest(1, (s * 300) // (SELECT SUM(s) FROM s)))
        |      AS BIGINT) AS quota
        |  FROM s),
        |ranked AS (
        |  SELECT d.lang, q.quota, d.doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang
        |      ORDER BY ((d.doc_id % 1000000007) * 2654435761) % 1000000007, d.doc_id) AS rk
        |  FROM documents d JOIN q USING (lang))
        |SELECT lang, quota, rk, doc_id FROM ranked
        |WHERE rk <= quota ORDER BY lang, rk""".stripMargin,
    "q_ml_curriculum_order" ->
      """SELECT rk, bucket, doc_id FROM (
        |  SELECT doc_id, least(n_chars // 64, 8) AS bucket,
        |    ROW_NUMBER() OVER (PARTITION BY least(n_chars // 64, 8)
        |      ORDER BY ((doc_id % 1000000007) * 2654435761) % 1000000007, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 40 ORDER BY rk, bucket""".stripMargin,
    // integer-portable by construction: floor(sqrt(bigint)) is exact
    // under correctly-rounded IEEE sqrt in both engines, everything
    // after is bigint arithmetic
    "q_ml_temperature_mix" ->
      """WITH counts AS (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s
        |  FROM counts),
        |q AS (
        |  SELECT lang, CAST(greatest(1, (s * 200) // (SELECT SUM(s) FROM w))
        |    AS BIGINT) AS quota
        |  FROM w),
        |ranked AS (
        |  SELECT d.lang, q.quota, d.doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang
        |      ORDER BY ((d.doc_id % 1000000007) * 2654435761) % 1000000007, d.doc_id) AS rk
        |  FROM documents d JOIN q USING (lang))
        |SELECT lang, quota, rk, doc_id FROM ranked
        |WHERE rk <= quota ORDER BY lang, rk""".stripMargin,
    // declared-weight mixture; all-bigint arithmetic (DuckDB `//` floors
    // and Spark `div` truncates, identical on these non-negative
    // operands — the sign-dependent trap is documented in SNIPPETS)
    "q_ml_domain_mix" ->
      """WITH wts AS (
        |  SELECT 'src' || CAST(i AS VARCHAR) AS source,
        |    CASE WHEN i < 5 THEN 4 WHEN i < 10 THEN 2 ELSE 1 END AS w
        |  FROM (SELECT unnest(generate_series(0, 19)) AS i)),
        |counts AS (
        |  SELECT d.source, COUNT(*) AS n, MIN(w.w) AS w
        |  FROM documents d JOIN wts w ON d.source = w.source
        |  GROUP BY d.source),
        |q AS (
        |  SELECT source,
        |    CAST(least(n, greatest(1,
        |        (w * 400) // (SELECT SUM(w) FROM counts))) AS BIGINT)
        |      AS quota
        |  FROM counts),
        |ranked AS (
        |  SELECT d.source, q.quota, d.doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY d.source
        |      ORDER BY ((d.doc_id % 1000000007) * 2654435761) % 1000000007, d.doc_id) AS rk
        |  FROM documents d JOIN q ON d.source = q.source)
        |SELECT source, quota, rk, doc_id FROM ranked
        |WHERE rk <= quota ORDER BY source, rk""".stripMargin,
    // the bucketed two-level rank must equal ONE global row_number over
    // (h, doc_id) — contiguous hash ranges concatenate in order
    "q_ml_global_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id % 1000000007) * 2654435761 + 17) % 1000000007 AS h
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY h, doc_id) AS pos
        |  FROM h)
        |SELECT pos, (pos - 1) % 8 AS shard_id, doc_id
        |FROM ranked ORDER BY pos""".stripMargin,
    "q_ml_hashing_tf_sql" ->
      """SELECT doc_id, COUNT(DISTINCT bucket) AS nnz, COUNT(*) AS total_tf
        |FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(sha256(token), 1, 8)) AS BIGINT) % 1000
        |      AS bucket
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents))
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ml_derive_label" ->
      """SELECT CASE WHEN lang LIKE 'e%' THEN 1.0 ELSE 0.0 END AS label,
        |  COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ml_deterministic_split" ->
      """SELECT CASE WHEN o_orderkey % 5 < 4 THEN 'train' ELSE 'test' END
        |    AS split,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
}
