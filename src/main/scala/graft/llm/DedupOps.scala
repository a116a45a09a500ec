package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (north star;
  * SURVEY.md §2.4): exact, n-gram Jaccard, MinHash-LSH, SimHash,
  * embedding-cosine. The reference has no dedup (its corpus is 500 rows,
  * 00_training_pipeline.py:13) — these are the capability extension, built
  * for the blocking-first discipline that survives 100 TB:
  * NEVER a global cross join; candidates come from equality blocking
  * (fingerprint, LSH band bucket, SimHash band, label+window), so the only
  * shuffles are groupBy/join on those keys, and AQE handles bucket skew.
  */
object DedupOps extends graft.QueryModule {

  /** Cosine threshold of the two embedding near-dup queries — CALIBRATED
    * TO THE SYNTHETIC FIXTURE, not a production setting: the fixture's
    * same-label cosines top out near 0.475, so 0.40 is the value at which
    * the declared queries (and their oracles) exercise REAL pairs instead
    * of vacuously matching on empty results. Production near-dup sits at
    * 0.9+; the knob, not the plan, changes with the corpus (and at 0.9
    * the LSH variant needs FEWER bands — see [[embeddingCosineLsh]]). */
  private[llm] val FixtureCosineThreshold = 0.4

  /** whitespace-token 3-gram shingles, distinct, one tight pass.
    * A UDF on purpose, not a transform()/element_at() column tree: HOFs are
    * CodegenFallback AND predicate pushdown inlines the aliased split()
    * into every element_at inside the lambda (visible in the pushed
    * Generate filter), re-tokenizing the doc once per shingle reference —
    * O(n^2) interpreted work per row that cost ~250 s cold at sf0.1.
    * Pushdown may still duplicate the UDF into a filter, but each
    * evaluation is a single linear pass. Docs under 3 tokens yield an
    * empty set (same rows as the oracle's `len(...) >= 3` guard).
    * split(" ", -1) matches Spark/DuckDB split semantics (trailing
    * empties kept); set order is irrelevant downstream (intersection
    * sizes and per-k minima are order-free). */
  private val shinglesUdf = udf((text: String) => {
    if (text == null) Array.empty[String]
    else {
      val toks = text.split(" ", -1)
      if (toks.length < 3) Array.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]
        var i = 0
        while (i <= toks.length - 3) {
          seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
          i += 1
        }
        val out = new Array[String](seen.size)
        seen.toArray(out)
        out
      }
    }
  })

  /** Shared shingle/band column builders for flow.CorpusFlow's near-dup
    * batch stage — the SAME 3-gram shingles and 21x3 banding as every
    * dedup query here, so the flow's incremental band index is
    * value-compatible with q_dedup_minhash_lsh / q_dedup_incremental_minhash. */
  private[graft] def shingleCol(text: Column): Column = shinglesUdf(text)
  private[graft] def bandCol(sh: Column): Column =
    minhashBandsUdf(transform(sh, s => xxhash64(s)))

  /** Exact dedup: sha2-256 over whitespace-normalized lowercase text,
    * deterministic survivor = min doc_id per fingerprint. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", contentFp($"text").as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  /** N-gram Jaccard near-dup: candidate pairs from (lang, length-bucket)
    * blocking, exact Jaccard over 3-gram shingle sets. Docs shorter than 3
    * tokens are excluded (no shingles).
    *
    * Same dup-heavy-corpus discipline as [[minhashPairs]]: identical
    * (block, shingle-set) docs collapse to ONE representative per
    * fingerprint before the postings join, so a corpus with m identical
    * docs contributes ONE posting row per shingle instead of m — the
    * postings self-join can never concentrate a hot shingle's m² pair
    * rows in a task. Member pairs re-expand afterward through joins
    * (cross-group pairs inherit their reps' jaccard because members
    * have identical sets; intra-group pairs are jaccard 1.0 by
    * definition), so the OUTPUT is exactly the collapse-free pair list,
    * and the inherent m² of true duplicates is produced by a streamed
    * join, never buffered. DedupSpec pins the degenerate 5k-identical
    * corpus on this exact path. */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // inverted-index formulation: explode shingles into postings, pair
    // reps through the (block, shingle) join, count shared shingles per
    // pair. Equivalent to the array-intersect version (pairs with zero
    // shared shingles have jaccard 0 < threshold) but nothing larger than
    // a posting row ever crosses the shuffle — the block-pairwise version
    // carried both shingle ARRAYS per candidate pair (2x wall time here,
    // unboundedly worse at 100 TB).
    //
    // fp covers (lang, lb) as well as the shingle set: two docs with
    // identical text but different lang/length-bucket sit in different
    // blocks and must NOT merge (their intra-group pair would escape the
    // declared blocking). 256-bit sha2 for the same reason as minhash's
    // fp: same-fp pairs are emitted UNVERIFIED at jaccard 1.0.
    val base = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", floor($"n_chars" / 100).as("lb"),
        shinglesUdf($"text").as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("sz", size($"sh"))
      .withColumn("fp", sha2(concat_ws("\u0000",
        $"lang", $"lb".cast("string"),
        concat_ws("\u0001", array_sort($"sh"))), 256))
      // feeds reps + members x4; don't re-shingle per leg. CLUSTER
      // CAVEAT (applies to every localCheckpoint in this family): local
      // checkpoints live as NON-REPLICATED blocks on executors — an
      // executor loss or decommission mid-query fails the job and it
      // restarts from the source scan. That is a fault-RECOVERY cost,
      // not a correctness or working-set-size issue; where the
      // materialization must survive executors, persist it under
      // Artifacts.root instead (the shingle/fp/pair indexes already do
      // exactly that — this in-plan truncation is for single-query legs
      // only).
      .localCheckpoint()
    val members = base.select($"fp", $"doc_id")
    // every member of an fp group has the SAME (lang, lb, sz, sh) by
    // construction, so first() is deterministic here
    val reps = base.groupBy($"fp")
      .agg(first($"lang").as("lang"), first($"lb").as("lb"),
        first($"sz").as("sz"), first($"sh").as("sh"))
    val postings = reps.select($"fp", $"lang", $"lb", $"sz",
      explode($"sh").as("shingle"))
    // candidate rep pairs via the codegen'd posting SELF-JOIN, not the
    // bucket-collect pair UDF (r18): these (lang, lb, shingle) buckets
    // are UNCAPPED — exact-dup collapse bounds nothing here, a
    // boilerplate shingle shared by many distinct-text docs floods its
    // bucket at corpus scale, and the r17 bucket-collect buffered that
    // bucket's full member list in ONE non-spillable aggregation buffer
    // and emitted its m² pairs from ONE interpreted-UDF task (the
    // measured simhash failure mode, 1.5→18-21 s). The join streams the
    // same pairs through whole-stage codegen across tasks and spills;
    // its bucket-collect sf0.1 edge (~0.2 s) was inside the ambient
    // band. Shared-shingle count = the pair's join multiplicity.
    val pa = postings.select($"lang", $"lb", $"shingle",
      $"fp".as("a_fp"), $"sz".as("a_sz"))
    val pb = postings.select($"lang", $"lb", $"shingle",
      $"fp".as("b_fp"), $"sz".as("b_sz"))
    val repPairs = pa.join(pb, Seq("lang", "lb", "shingle"))
      .filter($"a_fp" < $"b_fp")
      .groupBy($"a_fp", $"b_fp", $"a_sz", $"b_sz")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", $"inter".cast("double") /
        ($"a_sz" + $"b_sz" - $"inter").cast("double"))
      .filter($"jaccard" >= 0.2)
      .select($"a_fp", $"b_fp", $"jaccard")
    val crossGroup = repPairs
      .join(members.select($"fp".as("a_fp"), $"doc_id".as("x")), Seq("a_fp"))
      .join(members.select($"fp".as("b_fp"), $"doc_id".as("y")), Seq("b_fp"))
      .select(least($"x", $"y").as("a_id"), greatest($"x", $"y").as("b_id"),
        $"jaccard")
    val intraGroup = members.select($"fp", $"doc_id".as("x"))
      .join(members.select($"fp", $"doc_id".as("y")), Seq("fp"))
      .filter($"x" < $"y")
      .select($"x".as("a_id"), $"y".as("b_id"), lit(1.0).as("jaccard"))
    crossGroup.union(intraGroup)
      .select($"a_id", $"b_id", round($"jaccard", 6).as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** q_dedup_threshold_curve — the dedup-rate-vs-threshold curve: for
    * every Jaccard cutoff θ ∈ {0.2..0.9}, how many candidate pairs
    * survive and how many documents they touch — THE tuning readout
    * behind "where do we set the near-dup threshold" (the knee of
    * this curve is where a corpus's duplication structure lives;
    * sweeping θ by re-running the dedup 8 times is 8 corpus scans,
    * this is one). Reuses [[ngramJaccard]]'s inverted-index candidate
    * pairs verbatim (θ ≥ 0.2 floor), crossed with the 8-row threshold
    * dim; zero-pair thresholds still emit (left join from the dim, the
    * oracle mirrors).
    *
    * Scale: the candidate-pair frame is the bounded object (df-pruned
    * posting join, pre-collapsed fp groups); the sweep adds one
    * broadcast 8-row cross and two hash aggs over it. */
  def thresholdCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccard(spark, sfDir)
      .localCheckpoint() // candidate-bounded; feeds both aggs
    val th = spark.range(8)
      .select(((lit(2L) + $"id").cast("double") / 10.0).as("threshold"))
    val f = pairs.crossJoin(broadcast(th))
      .filter($"jaccard" >= $"threshold")
    val np = f.groupBy($"threshold").agg(count(lit(1)).as("np"))
    val nd = f.select($"threshold",
        explode(array($"a_id", $"b_id")).as("d"))
      .groupBy($"threshold").agg(countDistinct($"d").as("nd"))
    th.join(np, Seq("threshold"), "left")
      .join(nd, Seq("threshold"), "left")
      .select($"threshold", coalesce($"np", lit(0L)).as("n_pairs"),
        coalesce($"nd", lit(0L)).as("n_docs"))
      .orderBy($"threshold")
  }

  /** The persisted shingled-corpus artifact (doc_id, lang,
    * length-bucket, shingle set) — the dedup pipeline's FIRST working
    * set, built once per corpus and read by the scale-path queries. */
  private[llm] def buildShingleIndex(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.Artifacts.ensure("graft_shingle_index/", sfDir, Docs, ArtifactVersion) { tmp =>
      graft.Tables.documents(spark, sfDir)
        .select($"doc_id", $"lang", floor($"n_chars" / 100).as("lb"),
          shinglesUdf($"text").as("sh"))
        .filter(size($"sh") > 0)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** The SCALE.md stop-shingle variant of [[ngramJaccard]]: shingles
    * hotter than `maxDf` docs within their block are excluded from
    * CANDIDATE GENERATION (they are the m² pair-explosion risk at
    * 100 TB), then every surviving candidate pair is verified EXACTLY
    * via full-array intersection — so there are no false positives, and
    * the only recall loss is pairs whose shared shingles are ALL hotter
    * than the cutoff (the prefix-filtering trade). Declared as
    * q_dedup_ngram_jaccard_cutoff, oracled by fixture-equality with the
    * exact SQL; behavior also pinned in DedupSpec. */
  private[llm] def ngramJaccardWithCutoff(
      spark: SparkSession, sfDir: String, maxDf: Int): DataFrame = {
    import spark.implicits._
    // the shingled docs feed FOUR plan legs (postings for df counts,
    // both candidate sides, and the exact verify's two array joins);
    // they come from the persisted shingle artifact — one shingling pass
    // per CORPUS, not one per query call (the declared exact query still
    // shingles from scratch against its oracle)
    val docs = spark.read.parquet(buildShingleIndex(spark, sfDir))
    // candidate generation runs on xxhash64(shingle) LONGs, not the
    // 20-30 byte shingle strings: the df-count shuffle, the rare-join,
    // and the candidate self-join all carry 8-byte keys. A 64-bit
    // collision usually ADDs a candidate (discarded by the exact verify
    // below), but in the df leg it can also MERGE two distinct shingles'
    // counts and push a rare shingle past maxDf — a recall loss the
    // verify cannot recover. At p ~ n_shingles²/2⁶⁵ per block the odds
    // are negligible, and the cutoff path is itself a declared
    // recall-bounded heuristic; callers needing exact-df pruning should
    // count df on the raw shingle before hashing.
    val postings = docs
      .select($"doc_id", $"lang", $"lb", explode($"sh").as("s"))
      .select($"doc_id", $"lang", $"lb", xxhash64($"s").as("shingle"))
    // df-prune: a bucket is one (lang, lb, shingle) posting list of at
    // most maxDf docs
    val cand = BucketPairs.underCap(
        postings, Seq("lang", "lb", "shingle"), $"doc_id", maxDf)
      .select($"a".as("a_id"), $"b".as("b_id")).distinct()
    // exact verify: the PAIR side is the build side (shuffle-hash) —
    // without the hint Spark broadcasts the whole shingled corpus (full
    // arrays) twice, a ~2 s build at sf0.1 and an OOM at corpus scale
    cand.hint("shuffle_hash")
      .join(docs.select($"doc_id".as("a_id"), $"sh".as("a_sh")), Seq("a_id"))
      .hint("shuffle_hash")
      .join(docs.select($"doc_id".as("b_id"), $"sh".as("b_sh")), Seq("b_id"))
      .withColumn("jaccard",
        size(array_intersect($"a_sh", $"b_sh")).cast("double") /
          size(array_union($"a_sh", $"b_sh")).cast("double"))
      .filter($"jaccard" >= 0.2)
      .select($"a_id", $"b_id", round($"jaccard", 6).as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** MinHash signature: K independent hash views of the shingle set; the
    * signature is the per-k minimum. Shingles are hashed once with
    * codegen'd xxhash64, then the K views come from a cheap 64-bit mix in
    * a single tight UDF pass (interpreted HOF trees cost ~10x more here).
    * Round 5: promoted from rows-only to a FULL fixture-equality oracle —
    * every emitted pair is verified by exact jaccard >= 0.5, so the only
    * way the result can differ from the plain all-pairs SQL is a banding
    * MISS, and on the deterministic fixture there is none (25/25 pairs at
    * sf0.01): the CORRECTNESS row now goes red if band tuning ever drops
    * a qualifying pair (the q_dedup_ngram_jaccard_cutoff pattern).
    * Planted-dup + degenerate-corpus behavior pinned in DedupSpec. */
  // 21 bands x 3 rows: at jaccard 0.6 the miss rate is (1-0.6^3)^21 ~ 0.6%
  // (16x4 missed ~11%), while dissimilar docs (j~0.05) collide in only
  // ~0.3% of pairs (32x2's 2-minima keys let ~8% through -> 1M false
  // candidates and a 32 s verify stage at sf0.1).
  private val K = 63
  private val BANDS = 21

  @inline private def mix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** shingle hashes -> BANDS (=21) LSH band hashes, each chaining
    * K/BANDS (=3) per-k minima */
  private val minhashBandsUdf = udf((hs: Seq[Long]) => {
    val sig = Array.fill(K)(Long.MaxValue)
    hs.foreach { h =>
      var k = 0
      while (k < K) {
        val v = mix64(h ^ (0x9E3779B97F4A7C15L * (k + 1)))
        if (v < sig(k)) sig(k) = v
        k += 1
      }
    }
    val rows = K / BANDS
    Array.tabulate(BANDS) { b =>
      var acc = 0xcbf29ce484222325L
      var j = 0
      while (j < rows) { acc = mix64(acc ^ sig(b * rows + j)); j += 1 }
      acc
    }.toSeq
  })

  /** Candidate pairs whose signatures collide in >=1 of the 21 LSH bands,
    * verified by exact shingle Jaccard >= 0.5.
    *
    * Dup-heavy corpora are the reason dedup exists, so the plan must
    * survive thousands of IDENTICAL documents without concentrating
    * their m² pair expansion in one task. Shape:
    *  1. collapse identical shingle sets to one representative per
    *     fingerprint (sha2-256 of the sorted shingle array) — exact
    *     duplicates never reach the banding stage;
    *  2. band the representatives, pair them through a self-join on
    *     (band, bandhash) — a streamed join, so a hot bucket buffers its
    *     member fingerprints (not its pair cross-product) in memory;
    *  3. verify candidates exactly on the representatives' shingle sets
    *     (identical sets share one verification, not m² of them);
    *  4. expand verified representative pairs back to member pairs via
    *     joins (distributed; a pair's jaccard equals its reps' jaccard
    *     because members have identical sets), and emit intra-group
    *     pairs at jaccard exactly 1.0 through a members self-join on the
    *     fingerprint (streamed — the inherent m² OUTPUT of m identical
    *     docs is produced incrementally, never materialized per-task).
    * Output is identical to banding the raw docs: same-fp pairs always
    * collide in every band (jaccard 1 >= 0.5), and cross-fp collisions
    * depend only on the shingle sets, which the reps preserve. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(graft.Tables.documents(spark, sfDir))

  /** Core of [[minhashLsh]] over any (doc_id, text, ...) frame —
    * exposed for the degenerate-corpus spec (DedupSpec). */
  private[llm] def minhashPairs(docsIn: DataFrame): DataFrame = {
    import docsIn.sparkSession.implicits._
    // fp identity must need NO verification (same-fp docs merge into one
    // rep and their pairs are emitted at jaccard 1.0 unverified), so it
    // is 256-bit sha2 over the NUL-joined sorted shingles — collision
    // probability stays negligible at any corpus size, unlike a 64-bit
    // hash whose birthday bound bites at billions of docs. docs is
    // materialized once: it feeds seven plan legs (reps, banding, both
    // verify sides, members x3), which Catalyst would otherwise clone.
    val docs = docsIn
      .select($"doc_id", shinglesUdf($"text").as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("fp", sha2(concat_ws("\u0000", array_sort($"sh")), 256))
      .localCheckpoint()
    val members = docs.select($"fp", $"doc_id")
    val reps = docs.groupBy($"fp")
      .agg(min_by($"sh", $"doc_id").as("sh"))
    val banded = reps
      .select($"fp", posexplode(minhashBandsUdf(transform($"sh", s => xxhash64(s)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
      .select($"band", $"bandhash", $"fp")
    // candidate pairs via the codegen'd BAND SELF-JOIN, not the
    // bucket-collect pair UDF (r18, settling the r17 regression): the
    // collect variant added two exchanges (the groupBy(band,bandhash)
    // aggregate where the broadcast join needed none, plus the collect's
    // own partial/final split) and measured +0.4 s at sf0.1 in both r17
    // final runs. Band buckets are also UNCAPPED here — dup-cluster-sized
    // on real corpora, so a hot band value would buffer its full member
    // list in one aggregation buffer and emit m² pairs from one task
    // through an interpreted UDF (the measured simhash failure mode,
    // 1.5→18-21 s), where the join streams the same pairs through
    // whole-stage codegen across tasks. Same rule as simhash :515.
    val candidates = banded.select($"band", $"bandhash", $"fp".as("a_fp"))
      .join(banded.select($"band", $"bandhash", $"fp".as("b_fp")),
        Seq("band", "bandhash"))
      .filter($"a_fp" < $"b_fp")
      .select($"a_fp", $"b_fp").distinct()
    // pair side is the shuffle-hash build side: without the hint Spark
    // broadcasts the full rep shingle arrays per verify leg
    val verified = candidates.hint("shuffle_hash")
      .join(reps.select($"fp".as("a_fp"), $"sh".as("a_sh")), Seq("a_fp"))
      .hint("shuffle_hash")
      .join(reps.select($"fp".as("b_fp"), $"sh".as("b_sh")), Seq("b_fp"))
      .withColumn("jaccard",
        size(array_intersect($"a_sh", $"b_sh")).cast("double") /
          size(array_union($"a_sh", $"b_sh")).cast("double"))
      .filter($"jaccard" >= 0.5)
      .select($"a_fp", $"b_fp", $"jaccard")
    val crossGroup = verified
      .join(members.select($"fp".as("a_fp"), $"doc_id".as("x")), Seq("a_fp"))
      .join(members.select($"fp".as("b_fp"), $"doc_id".as("y")), Seq("b_fp"))
      .select(least($"x", $"y").as("a_id"), greatest($"x", $"y").as("b_id"),
        $"jaccard")
    val intraGroup = members.select($"fp", $"doc_id".as("x"))
      .join(members.select($"fp", $"doc_id".as("y")), Seq("fp"))
      .filter($"x" < $"y")
      .select($"x".as("a_id"), $"y".as("b_id"), lit(1.0).as("jaccard"))
    crossGroup.union(intraGroup)
      .select($"a_id", $"b_id", round($"jaccard", 6).as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** 64-bit SimHash near-dup (Charikar, STOC'02; Manku et al., WWW'07):
    * bit j of each token hash votes +1/-1 weighted by term frequency
    * (tokens kept with duplicates); the sign of the per-bit sum forms
    * the fingerprint. Near-dups = Hamming distance <= 10 (a one-token
    * edit on a ~15-token doc flips ~7 bits in expectation), candidates
    * blocked on 8 8-bit sub-bands — the declared semantics INCLUDE the
    * banding (pigeonhole guarantees recall at hamming <= 7; 8-10 needs
    * a clean band), and the oracle replicates it as an OR of the 8
    * byte-equality tests.
    *
    * Fully value-oracled: the declared query hashes tokens with the
    * ENGINE-NEUTRAL sha256-prefix (plans.SimHash64Expression portable
    * mode — first 8 bytes of SHA-256, the q_ml_hashing_tf_sql
    * precedent), which DuckDB reproduces bit-for-bit from
    * `substr(sha256(tok),1,16)`, votes and all. The xxhash64-hashed
    * variant (`simhash64`) stays the 100 TB-scale default — xxhash64
    * is not reproducible in DuckDB (64-bit wraparound arithmetic; the
    * q_text_winnow mod-1e9+7 re-expression trick does not apply to a
    * hash whose every intermediate overflows) — and its semantics are
    * pinned by DedupSpec's planted-distance test, which runs the same
    * query shape through the non-portable expression. */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashWith(spark, sfDir, "simhash64_sha")

  private[llm] def simhashWith(
      spark: SparkSession, sfDir: String, fn: String): DataFrame = {
    import spark.implicits._
    // one-pass native expression (plans.SimHash64Expression): tokenize +
    // token-hash + per-bit tf-weighted vote packed into ONE long, inside
    // whole-stage codegen — hamming is then codegen'd bit_count(xor), and
    // candidate pairs carry 8 bytes through the shuffle/distinct.
    graft.plans.GraftExtensions.register(spark)
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", call_function(fn, $"text").as("sim"))
      .filter($"sim".isNotNull)
    // blocking: 8 8-bit sub-bands (pigeonhole: hamming<=7 guarantees a
    // clean band; <=10 collides in >=1 band with high probability)
    val banded = docs.select($"doc_id", $"sim",
      posexplode(array((0 until 8).map(b =>
        shiftright($"sim", b * 8).bitwiseAND(255)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandkey")
    // NOTE (r17 optimization round): this one stays a codegen'd
    // self-join ON PURPOSE. The bucket-collect + map-side pair UDF that
    // sped up the capped/df-pruned candidate generators was tried here
    // and measured 1.5 s → 18-21 s at sf0.1: simhash band buckets are
    // UNCAPPED and highly correlated (synthetic near-dup text ⇒ hot
    // 8-bit band values holding thousands of members), so the hot
    // bucket's m² pair emission serialized through one interpreted UDF
    // task, where the join streams the same m² rows through
    // whole-stage-codegen'd filter across all tasks.
    // r18 UPDATE — the rule, settled across the family: bucket-collect
    // pair emission is ONLY for buckets with a hard membership bound
    // (df-pruned ≤ maxDf, or an explicit census cap); every uncapped
    // band/bucket keeps the self-join. minhashPairs confirmed it from
    // the other direction: its r17 bucket-collect variant REGRESSED
    // (1.27 → 1.68-1.76 s, Exchange 20→22) and was reverted to this
    // same self-join shape. prefixFilterJaccard splits on df at
    // BucketPairs.MaxMembers and routes flooded buckets to the join.
    val l = banded.select($"band", $"bandkey", $"doc_id".as("a_id"), $"sim".as("a_sim"))
    val r = banded.select($"band", $"bandkey", $"doc_id".as("b_id"), $"sim".as("b_sim"))
    l.join(r, Seq("band", "bandkey"))
      .filter($"a_id" < $"b_id")
      .withColumn("hamming", bit_count($"a_sim".bitwiseXOR($"b_sim")))
      .filter($"hamming" <= 10)
      .select($"a_id", $"b_id", $"hamming").distinct()
      .orderBy($"a_id", $"b_id")
  }

  /** THE normalized content fingerprint (whitespace-collapsed lowercase
    * sha2-256) — shared across the dedup family AND flow.CorpusFlow;
    * every cross-component dedup-compatibility claim rides on this
    * single definition. */
  private[graft] def contentFp(c: Column): Column =
    sha2(regexp_replace(lower(c), "\\s+", " "), 256)

  /** Artifact schema version: part of every artifact path, so changing
    * a fingerprint/shingle/pair definition can never silently reuse a
    * stale artifact built by older code — bump it with the definition. */
  private val ArtifactVersion = "v2"

  /** The source every dedup artifact is keyed on (graft.Artifacts.key),
    * so a corpus REBUILT at the same path gets a fresh artifact. */
  private val Docs = "documents.parquet"

  /** Materialize the EXISTING corpus's fingerprint set ONCE as a parquet
    * artifact (distinct fp, hash-partitioned and sorted within partitions
    * on fp), committed through graft.Artifacts.ensure. This is the
    * piece that makes incremental dedup actually incremental: daily
    * batches anti-join against the index — one column, already distinct,
    * a fraction of the corpus bytes — instead of re-hashing 100 TB of
    * documents per run. After each accepted batch the index grows by an
    * append of the batch's new fps (same partitioning); here it is built
    * one-shot from the corpus slice because the fixture corpus is static. */
  private[llm] def buildFpIndex(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.Artifacts.ensure("graft_fp_index/", sfDir, Docs, ArtifactVersion) { tmp =>
      graft.Tables.documents(spark, sfDir)
        .filter($"doc_id" % 3 =!= 0 && $"text".isNotNull) // EXISTING slice
        .select(contentFp($"text").as("fp"))
        .distinct()
        .repartition(8, $"fp").sortWithinPartitions($"fp")
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Incremental dedup: the production shape — dedup a NEW batch against
    * an EXISTING corpus without ever re-processing the corpus. The batch
    * (deterministic slice doc_id % 3 = 0) keeps a doc iff its fingerprint
    * (1) does not appear in the corpus's PERSISTED fingerprint index
    * (left-anti join against the one-column artifact from
    * [[buildFpIndex]] — the documents table is scanned exactly once, for
    * the batch slice) and (2) is not an intra-batch duplicate (min-id
    * survivor). One shuffle on fp for the anti join + one for the
    * survivor pick; the index side arrives pre-distinct and fp-sorted. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val index = spark.read.parquet(buildFpIndex(spark, sfDir))
    // null text would make the anti-join and the oracle's NOT IN
    // disagree (null never equi-matches; NOT IN goes three-valued) —
    // null-text docs are out of the dedup contract on both sides
    val batch = graft.Tables.documents(spark, sfDir)
      .filter($"doc_id" % 3 === 0 && $"text".isNotNull)
      .select($"doc_id", contentFp($"text").as("fp"))
    batch
      .join(index, Seq("fp"), "left_anti")
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .orderBy($"keep_id")
  }

  /** Persist the EXISTING corpus's MinHash-LSH index ONCE: three parquet
    * frames under one atomically-committed dir — `members` (fp, doc_id),
    * `reps` (fp, shingle set of the min-id representative), `bands`
    * (band, bandhash, fp). This is what makes NEAR-dup incremental the
    * way [[buildFpIndex]] makes EXACT dedup incremental: the index is a
    * fraction of corpus bytes (21 band hashes + one shingle set per
    * DISTINCT shingle-fingerprint, not per doc), and a daily batch joins
    * against it without the corpus text ever being re-shingled. In
    * production the index grows by appending each accepted batch's reps
    * and bands (same partitioning); here it is built one-shot from the
    * corpus slice because the fixture corpus is static. */
  private[llm] def buildMinhashIndex(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.Artifacts.ensure("graft_minhash_index/", sfDir, Docs, ArtifactVersion) { tmp =>
      val corpus = graft.Tables.documents(spark, sfDir)
        .filter($"doc_id" % 3 =!= 0) // EXISTING slice (complement of batch)
        .select($"doc_id", shinglesUdf($"text").as("sh"))
        .filter(size($"sh") > 0)
        .withColumn("fp", sha2(concat_ws("\u0000", array_sort($"sh")), 256))
        .localCheckpoint() // feeds all three writes once
      corpus.select($"fp", $"doc_id")
        .repartition(8, $"fp").sortWithinPartitions($"fp")
        .write.mode("overwrite").parquet(s"$tmp/members")
      val reps = corpus.groupBy($"fp")
        .agg(min_by($"sh", $"doc_id").as("sh"))
        .localCheckpoint() // feeds reps AND bands writes
      reps.repartition(8, $"fp").sortWithinPartitions($"fp")
        .write.mode("overwrite").parquet(s"$tmp/reps")
      reps
        .select($"fp",
          posexplode(minhashBandsUdf(transform($"sh", s => xxhash64(s)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
        .select($"band", $"bandhash", $"fp")
        .repartition(8, $"bandhash")
        .write.mode("overwrite").parquet(s"$tmp/bands")
    }
  }

  /** Incremental NEAR-dup: a NEW batch (doc_id % 3 = 0) against the
    * EXISTING corpus's persisted MinHash index — the production shape for
    * continuous ingestion, where re-banding 100 TB per day is the cost
    * being engineered away. The batch is shingled and banded exactly like
    * [[minhashLsh]]; candidates are batch-band x index-band collisions
    * (a streamed equi-join on (band, bandhash) — hot buckets buffer
    * member fps, never pair cross-products); verification is exact
    * Jaccard >= 0.5 on the two representative shingle sets; verified rep
    * pairs expand to (batch doc, corpus doc) via the members frames.
    * Identical docs across the slices need no special case: equal shingle
    * sets mean equal fp and equal bands, so they collide in every band
    * and verify at jaccard 1.0. Oracle: exact all-pairs Jaccard across
    * the slice boundary (sound for the same reason [[minhashLsh]]'s
    * all-pairs oracle is — on the fixture the 21x3 banding has full
    * recall at the 0.5 threshold, and this query's pairs are a subset). */
  def incrementalMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val idx = buildMinhashIndex(spark, sfDir)
    val corpusReps = spark.read.parquet(s"$idx/reps")
    val corpusBands = spark.read.parquet(s"$idx/bands")
    val corpusMembers = spark.read.parquet(s"$idx/members")
    val batch = graft.Tables.documents(spark, sfDir)
      .filter($"doc_id" % 3 === 0) // NEW batch slice
      .select($"doc_id", shinglesUdf($"text").as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("fp", sha2(concat_ws("\u0000", array_sort($"sh")), 256))
      .localCheckpoint() // feeds reps, bands, and the member expansion
    val batchReps = batch.groupBy($"fp").agg(min_by($"sh", $"doc_id").as("sh"))
    val batchBands = batchReps
      .select($"fp",
        posexplode(minhashBandsUdf(transform($"sh", s => xxhash64(s)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
    val candidates = batchBands.select($"band", $"bandhash", $"fp".as("n_fp"))
      .join(corpusBands.select($"band", $"bandhash", $"fp".as("c_fp")),
        Seq("band", "bandhash"))
      .select($"n_fp", $"c_fp").distinct()
    val verified = candidates
      .join(batchReps.select($"fp".as("n_fp"), $"sh".as("n_sh")), Seq("n_fp"))
      .join(corpusReps.select($"fp".as("c_fp"), $"sh".as("c_sh")), Seq("c_fp"))
      .withColumn("jaccard",
        size(array_intersect($"n_sh", $"c_sh")).cast("double") /
          size(array_union($"n_sh", $"c_sh")).cast("double"))
      .filter($"jaccard" >= 0.5)
      .select($"n_fp", $"c_fp", $"jaccard")
    verified
      .join(batch.select($"fp".as("n_fp"), $"doc_id".as("batch_id")), Seq("n_fp"))
      .join(corpusMembers.select($"fp".as("c_fp"), $"doc_id".as("corpus_id")),
        Seq("c_fp"))
      .select($"batch_id", $"corpus_id", round($"jaccard", 6).as("jaccard"))
      .orderBy($"batch_id", $"corpus_id")
  }

  /** Duplicate-cluster assignment: connected components over the n-gram
    * Jaccard near-dup pair graph, component id = min doc_id reachable.
    * Iterative min-label propagation (the simple variant of the
    * large-star/small-star CC algorithm) — each round is one shuffle
    * (neighbor-min groupBy), rounds bounded by component diameter, which
    * for dup clusters is tiny. localCheckpoint truncates the per-round
    * lineage AND materializes the edge list once (the ngram pipeline would
    * otherwise rerun every round); no session-lifetime persist.
    *
    * Edges come from the persisted pair-graph artifact (round 9 — the
    * same source its downstream analytics already read): the artifact IS
    * ngramJaccard's exact declared output, built once per corpus
    * generation, so the labeling is value-identical to propagating over
    * a fresh pair computation while re-shingling nothing per query. */
  def components(spark: SparkSession, sfDir: String): DataFrame =
    componentsOfIndex(spark, sfDir)

  /** Same labeling, fed by the persisted pair-graph artifact — the form
    * the downstream analytics (cluster stats, keep-list) consume so they
    * don't re-shingle the corpus per query. Values are identical to
    * [[components]] (the artifact IS the exact pair output). */
  private def componentsOfIndex(spark: SparkSession, sfDir: String): DataFrame =
    propagateMinLabel(
      spark.read.parquet(buildPairIndex(spark, sfDir)).select("a_id", "b_id"))
      .toDF("doc_id", "component_id")
      .orderBy("doc_id")

  /** Min-label propagation to fixpoint over an undirected edge list
    * (a_id, b_id) -> (id, comp=min reachable id). Exposed for property
    * testing against a driver-side union-find (DedupSpec).
    * Per round: ONE shuffle (neighbor-min groupBy); convergence is read
    * off the label sum — comp values only ever decrease, so the sum is
    * strictly monotone until fixpoint, replacing a join+count with a
    * single tiny aggregate. Labels initialize at min(self, direct
    * neighbors), which is the first round for free. */
  private[llm] def propagateMinLabel(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val cols = pairs.columns
    val edges = pairs.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
      .union(pairs.select(col(cols(1)).as("src"), col(cols(0)).as("dst")))
      .localCheckpoint()
    def sumOf(df: DataFrame): Long =
      df.agg(coalesce(sum($"comp"), lit(0L))).head().getLong(0)
    var labels = edges.select($"src".as("id"), $"dst".as("comp"))
      .union(edges.select($"src".as("id"), $"src".as("comp")))
      .groupBy($"id").agg(min($"comp").as("comp"))
      .localCheckpoint()
    var prevSum = sumOf(labels)
    var rounds = 0
    var converged = false
    while (rounds < 25 && !converged) {
      val next = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), labels("comp"))
        .union(labels.select($"id", $"comp"))
        .groupBy($"id").agg(min($"comp").as("comp"))
        .localCheckpoint()
      val s = sumOf(next)
      labels = next
      rounds += 1
      converged = s == prevSum
      prevSum = s
    }
    // Round cap without sum convergence means the graph's diameter
    // exceeds what label propagation can close here (long near-dup
    // chains). Silent return would hand out WRONG component ids — fall
    // back to the O(log²)-round star contraction, which is
    // property-tested equivalent and diameter-independent.
    if (!converged) starContraction(pairs)
    else labels.select($"id", $"comp")
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * published algorithm, reimplemented on DataFrames): converges in
    * O(log²) rounds on ANY diameter, vs min-label propagation's
    * O(diameter). The SCALE.md upgrade path for deep dup graphs, kept
    * result-equivalent to [[propagateMinLabel]] (property-tested against
    * a union-find in DedupSpec).
    *
    * Each round is two grouped-min joins (no adjacency lists collected —
    * high-degree nodes never materialize their neighbor sets on one
    * task, which is the algorithm's whole point):
    *  - large-star: every neighbor v > u links to m(u) = min(N(u) ∪ u)
    *  - small-star: every neighbor v <= u (plus u) links to m(u)
    * At fixpoint every node's edge set is a star rooted at its
    * component min. */
  private[llm] def starContraction(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val cols = pairs.columns
    def canon(df: DataFrame): DataFrame =
      df.filter($"u" =!= $"v")
        .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
        .distinct()
    def sym(df: DataFrame): DataFrame =
      df.select($"a".as("u"), $"b".as("v"))
        .union(df.select($"b".as("u"), $"a".as("v")))
    def mins(symEdges: DataFrame): DataFrame =
      symEdges.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
    val vertices = sym(canon(
      pairs.select(col(cols(0)).as("u"), col(cols(1)).as("v"))))
      .select($"u".as("id")).distinct().localCheckpoint()
    var edges = canon(
      pairs.select(col(cols(0)).as("u"), col(cols(1)).as("v")))
      .localCheckpoint()
    var prevSig = (-1L, -1L)
    var rounds = 0
    while (rounds < 50) {
      val s = sym(edges)
      // large-star: (v, m(u)) for v > u
      val large = canon(
        s.join(mins(s), Seq("u"))
          .filter($"v" > $"u")
          .select($"v".as("u"), $"m".as("v")))
      val sl = sym(large)
      // small-star: (v, m(u)) for v <= u, plus (u, m(u))
      val byU = sl.filter($"v" <= $"u")
      val m2 = mins(sl)
      val small = canon(
        byU.join(m2, Seq("u")).select($"v".as("u"), $"m".as("v"))
          .union(m2.select($"u", $"m".as("v"))))
        .localCheckpoint()
      // fixpoint signature: (edge count, label sum) of the canonical set
      val sigRow = small.agg(count(lit(1)),
        coalesce(sum($"a" + $"b"), lit(0L))).head()
      val sig = (sigRow.getLong(0), sigRow.getLong(1))
      edges = small
      rounds += 1
      if (sig == prevSig) rounds = 50
      prevSig = sig
    }
    // stars: every edge (min, v); vertices not in any edge are their own root
    val labels = sym(edges).groupBy($"u".as("id"))
      .agg(min($"v").as("nbrMin"))
      .select($"id", least($"id", $"nbrMin").as("comp"))
    vertices.join(labels, Seq("id"), "left")
      .select($"id", coalesce($"comp", $"id").as("comp"))
  }

  /** Embedding-cosine near-dup: windowed blocking (same label, id distance
    * <= 100 — deterministic, bounded fan-out), exact cosine in double.
    * Oracle: DuckDB list ops over DOUBLE[] (same left-to-right fold).
    * Threshold: [[FixtureCosineThreshold]] — fixture-calibrated, see the
    * constant's note before reading 0.40 as a production setting.
    *
    * RECALL CONTRACT: the (label, id-window <= 100) block is part of the
    * DECLARED semantics, not an approximation — pairs whose ids are more
    * than 100 apart are out of scope by definition (the shape fits
    * ingest-ordered corpora, where near-dups arrive close together), and
    * the oracle checks exactly that contract. Because that contract is
    * easy to misapply (recall silently depends on ingest order),
    * [[embeddingCosineLsh]] is the PRIMARY embedding-dedup operator —
    * order-independent blocking, same verify — and this id-window form
    * is the bounded-fan-out special case for corpora where arrival
    * adjacency is a real invariant. */
  def embeddingCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .withColumn("norm", sqrt(SimSearchOps.dot($"embedding", $"embedding")))
    val a = emb.select($"vec_id".as("a_id"), $"label",
      $"embedding".as("a_e"), $"norm".as("a_n"))
    val b = emb.select($"vec_id".as("b_id"), $"label",
      $"embedding".as("b_e"), $"norm".as("b_n"))
    a.join(b, Seq("label"))
      .filter($"a_id" < $"b_id" && $"b_id" - $"a_id" <= 100)
      .withColumn("cosine",
        SimSearchOps.dot($"a_e", $"b_e") / ($"a_n" * $"b_n"))
      .filter($"cosine" >= FixtureCosineThreshold)
      .select($"label", $"a_id", $"b_id", round($"cosine", 6).as("cosine"))
      .orderBy($"a_id", $"b_id")
  }

  /** Embedding-cosine near-dup, LSH-blocked (order-independent recall):
    * candidate pairs share a hyperplane band bucket in ANY band, then
    * exact cosine >= [[FixtureCosineThreshold]] inside the same label
    * (fixture-calibrated — see the constant; at a production 0.9 the
    * same plan runs with FEWER bands). No id window — recall does not depend
    * on ingest order. The band shape is the dedup-tuned 48x4-bit set
    * (SimSearchOps.dedupBandKeysUdf): at cosine 0.40 (angle ~66.4deg,
    * p_plane ~ 0.631) the per-band collision is 0.631^4 ~ 0.159, so the
    * per-pair miss probability is (1 - 0.159)^48 ~ 2.5e-4 — and on the
    * DETERMINISTIC fixture (seeded planes, fixed data) the block is
    * exhaustive, proven by the oracle itself, which is the UNBLOCKED
    * all-pairs-within-label SQL over a NON-EMPTY result: the CORRECTNESS
    * row goes red if the buckets ever drop a qualifying pair (the
    * q_dedup_ngram_jaccard_cutoff fixture-equality pattern).
    *
    * SCALE (the r16 cliff fix, hardened by the r17 sf10 decade): recall
    * at cosine 0.40 forces loose bands — at p_plane 0.631 vs the
    * random-pair 0.5 the LSH gap gives rho = ln(1/0.631)/ln(1/0.5)
    * ~ 0.66, so NO band calibration is both exhaustive and
    * sub-candidate-quadratic here (more bits/band drops recall below
    * the oracle bar long before precision recovers; 48x4 admits ~95% of
    * random same-label pairs). Two defenses, BOTH inside the band join:
    *
    *  1. the packed 1024-bit simhash Hamming prefilter
    *     (SimSearchOps.dedupSigUdf — calibration math and margins at
    *     its declaration): 16 flat long columns per side,
    *     sum(bit_count(xor)) <= SIG_HAMMING_MAX as a join conjunct —
    *     ~90% of collisions die at a popcount in whole-stage codegen;
    *  2. the exact cosine verify FUSED as the next conjunct, so the
    *     ~10% leak (pairs geometrically inside the Hamming passband —
    *     at 64 dims the bulk sigma_cos is 0.125, so cos 0.16-0.40 is a
    *     real population; a safe fixed threshold cannot exclude it)
    *     pays ONE guarded 64-FMA dot per collision and nothing else.
    *
    * The first fix (r16) only prefiltered and still routed the leak
    * through a distinct exchange + two 512-byte/row vector re-joins:
    * fine at sf1 (22.09 -> 3.37 s) but the leak is a FRACTION of the
    * within-label quadratic, so the second decade exploded it (596 s at
    * sf10, exp 2.12 — caught by exactly the SCALESPOT discipline the
    * r16 verdict asked for). Fusing the verify deletes the pair-side
    * shuffles entirely: survivors exit the join already scored, and the
    * only exchange after the band join is a distinct over QUALIFYING
    * rows (band-multiplicity duplicates of ~86 pairs, not 10^8
    * candidates). Carrying the 256-byte vector + 128-byte sig through
    * the 48-band explode costs bands x payload per ROW, which beats
    * leak x payload per PAIR as soon as pairs/row >> bands/leak — at
    * any bulk-threshold config by orders of magnitude. Measured:
    * sf10 596 -> ~25 s (exp(d2) 2.12 -> ~0.7). The conjunct order is
    * load-bearing (codegen short-circuits left to right: id test,
    * 16-word popcount, then the dot only for passband rows).
    *
    * The prefilter is calibrated so no qualifying pair can miss
    * (per-pair ~4e-8 at the threshold; EmbeddingSigSpec pins the
    * fixture margin), the cosine expression is bit-identical to the
    * oracle's (same dot, same pre-banded norms), and the unblocked
    * all-pairs oracle remains the recall certificate at both verify
    * scales. */
  def embeddingCosineLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = SimSearchOps.SIG_WORDS
    val emb = graft.Tables.embeddings(spark, sfDir)
      .withColumn("norm", sqrt(SimSearchOps.dot($"embedding", $"embedding")))
    val banded = emb
      .withColumn("sig", SimSearchOps.dedupSigUdf($"embedding"))
      .select($"vec_id" +: $"label" +: $"embedding" +: $"norm" +:
        explode(SimSearchOps.dedupBandKeysUdf($"embedding")).as("bkey") +:
        (0 until W).map(i => $"sig".getField(s"_${i + 1}").as(s"s$i")): _*)
    val aSide = banded.select($"bkey" +: $"label" +: $"vec_id".as("a_id") +:
      $"embedding".as("a_e") +: $"norm".as("a_n") +:
      (0 until W).map(i => col(s"s$i").as(s"sa$i")): _*)
    val bSide = banded.select($"bkey" +: $"label" +: $"vec_id".as("b_id") +:
      $"embedding".as("b_e") +: $"norm".as("b_n") +:
      (0 until W).map(i => col(s"s$i").as(s"sb$i")): _*)
    val hamming = (0 until W)
      .map(i => bit_count(col(s"sa$i").bitwiseXOR(col(s"sb$i"))))
      .reduce(_ + _)
    val cosine = SimSearchOps.dot($"a_e", $"b_e") / ($"a_n" * $"b_n")
    // join strategy is left to Catalyst deliberately (broadcast at
    // verify scales, SMJ beyond): a shuffle_hash hint measured FASTER
    // at sf0.1/sf1 (2.9 vs 4.7 s) but 3.7x SLOWER at sf10 (230 vs
    // 62 s) — hashed-relation iteration over 1000-row duplicate-key
    // buckets loses to SMJ's sequential sorted-run scans exactly where
    // the combo volume peaks, and the sf10 decade is what this shape
    // is graded on.
    aSide.join(bSide, Seq("bkey", "label"))
      .filter($"a_id" < $"b_id" &&
        hamming <= SimSearchOps.SIG_HAMMING_MAX &&
        cosine >= FixtureCosineThreshold)
      .select($"label", $"a_id", $"b_id", round(cosine, 6).as("cosine"))
      .distinct()
      .orderBy($"a_id", $"b_id")
  }

  /** The 100 TB-safe ngram path as a DECLARED query (rows-only — the
    * df-cutoff is a candidate-generation heuristic, not SQL-expressible
    * at matching cost): generous maxDf=50 keeps the fixture result equal
    * to the exact query (DedupSpec pins the equality), while hot-shingle
    * pair explosion is structurally bounded at scale. */
  def ngramJaccardCutoff(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardWithCutoff(spark, sfDir, maxDf = 50)

  /** q_dedup_containment — Broder CONTAINMENT near-dup (Broder, "On the
    * resemblance and containment of documents", SEQUENCES'97): flags
    * pairs where the smaller doc's shingle set is mostly inside the
    * larger's — the small-doc-embedded-in-big-doc case (quoted article
    * in an aggregator page, README pasted into a repo dump) that
    * Jaccard MISSES by construction (a 30-shingle doc inside a
    * 300-shingle doc has containment 1.0 but Jaccard ≤ 0.1, below any
    * sane threshold), and that the (lang, length-bucket) blocking of
    * [[ngramJaccard]] can never see because the pair spans buckets.
    *
    * Declared semantics (exactly what the oracle runs): candidate
    * pairs share ≥ 3 distinct shingles — ANY lang/length, off the
    * persisted shingle artifact — and qualify at
    * inter / min(|A|,|B|) ≥ 0.8. Candidate GENERATION carries the same
    * df-cutoff knob as [[ngramJaccardWithCutoff]] (hot-shingle Σdf²
    * pair explosion is the identical risk): shingles hotter than
    * maxDf docs are excluded from the self-join, then every surviving
    * pair is verified EXACTLY via full-array intersection, so `inter`
    * and `containment` in the output are the true values and the only
    * recall loss at scale is pairs sharing < 3 sub-cutoff shingles.
    * At fixture df ≤ ~30 the maxDf=100 prune drops nothing, so the
    * declared query remains equal to the exact oracle (DedupSpec pins
    * the cutoff ≡ no-cutoff equality). Pair-side shuffle-hash hints
    * for the verify joins — the anti-corpus-broadcast discipline. */
  def containment(spark: SparkSession, sfDir: String): DataFrame =
    containmentOf(spark.read.parquet(buildShingleIndex(spark, sfDir)),
      maxDf = 100)

  /** The declared containment rule over an explicit (doc_id, sh) frame —
    * exposed so CurationSpec can plant the size-asymmetric
    * small-doc-inside-big-doc case the synthetic fixture never produces
    * (its near-dups are all same-length, so containment ≈ Jaccard
    * there; the planted case is where the two metrics diverge). */
  private[llm] def containmentOf(
      docsIn: DataFrame, maxDf: Int = Int.MaxValue): DataFrame = {
    import docsIn.sparkSession.implicits._
    val docs = docsIn.select($"doc_id", $"sh")
    // candidate generation on xxhash64(shingle) LONGs — 8-byte shuffle
    // keys; a 64-bit collision only ADDs a candidate (discarded by the
    // exact verify below) or, in the df leg, can merge two rare
    // shingles' counts past maxDf (negligible odds, same trade
    // documented at ngramJaccardWithCutoff).
    val post = docs.select($"doc_id", explode($"sh").as("s"))
      .select($"doc_id", xxhash64($"s").as("shingle"))
    // df-prune bounds the Σdf² candidate fan-out of a hot shingle (a
    // boilerplate header at corpus df 10⁶ would emit ~5·10¹¹ pairs);
    // shared-shingle count = the pair's bucket multiplicity
    val cand = BucketPairs.underCap(post, Seq("shingle"), $"doc_id", maxDf)
      .groupBy($"a".as("a_id"), $"b".as("b_id"))
      .agg(count(lit(1)).as("shared_rare"))
      .filter($"shared_rare" >= 3)
      .select($"a_id", $"b_id")
    // exact verify: recompute the TRUE inter from the full shingle
    // arrays (so the output values are cutoff-independent), pair side
    // as shuffle-hash build — never broadcast the shingled corpus
    cand.hint("shuffle_hash")
      .join(docs.select($"doc_id".as("a_id"), $"sh".as("a_sh")), Seq("a_id"))
      .hint("shuffle_hash")
      .join(docs.select($"doc_id".as("b_id"), $"sh".as("b_sh")), Seq("b_id"))
      .withColumn("inter",
        size(array_intersect($"a_sh", $"b_sh")).cast("long"))
      .withColumn("mn",
        least(size($"a_sh"), size($"b_sh")).cast("long"))
      .filter($"inter" >= 3 &&
        $"inter".cast("double") / $"mn" >= 0.8)
      .select($"a_id", $"b_id", $"inter",
        round($"inter".cast("double") / $"mn", 6).as("containment"))
      .orderBy($"a_id", $"b_id")
  }

  /** q_text_novelty — per-doc novelty score for curation order: the
    * fraction of a doc's distinct shingles whose FIRST corpus
    * occurrence (min doc_id — ingest order on the fixture) is this
    * doc. Low-novelty docs add nothing the corpus hasn't seen — the
    * streaming-curation complement of dup_frac: span_flag asks "is
    * this doc made of duplicated windows", novelty asks "did this doc
    * arrive first with its content". One postings shuffle for the
    * min-doc_id per shingle, one join back (first-occurrence side as
    * shuffle-hash build — one row per distinct shingle). */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val post = spark.read.parquet(buildShingleIndex(spark, sfDir))
      .select($"doc_id", explode($"sh").as("s"))
    val first = post.groupBy($"s").agg(min($"doc_id").as("fd"))
    post.join(first.hint("shuffle_hash"), Seq("s"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"fd" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        round($"n_novel".cast("double") / $"n_shingles", 6).as("novelty"))
      .orderBy($"doc_id")
  }

  /** q_dedup_semantic — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then call two items semantic
    * duplicates when their cosine inside a shared cluster exceeds the
    * threshold, keeping — per the paper — the member with the LOWEST
    * centroid similarity (the most atypical example survives; its
    * duplicates are the redundant ones). The pairwise form of that
    * keep rule: DROP v iff some probe-cell-sharing u has cos(u,v) >= t
    * and u sits farther from ITS centroid than v does from v's (tie on
    * centroid-sim broken by lower vec_id surviving), so every
    * duplicate group keeps at least its centroid-sim minimum.
    *
    * Scale shape: reuses the PERSISTED IVF index (spherical-KMeans
    * cells, L2-normalized vectors, corpus partitioned by cell — built
    * once per corpus generation, SimSearchOps.buildIvfIndex). Each
    * vector probes its TOP-2 nearest cells (the IVF multi-probe move),
    * so near-duplicates straddling a cell boundary — the pairs
    * single-probe SemDeDup is structurally blind to — share a probe
    * cell and are caught; the pair scan self-joins ON the probe cell,
    * so the shuffle moves 2n ROWS keyed by cell (linear — no all-pairs
    * side ever exists) and the quadratic term stays bounded per cell
    * (boundary members at most double a cell's population) — exactly
    * the SemDeDup argument for clustering before comparing (k grows
    * with the corpus; cells stay bounded, and a hot cell is the same
    * skew problem salting already solves for joins). Centroids join in
    * as a 16-row broadcast and drive top-2 selection as a bounded
    * k-literal, shuffle-free. Declared rows-only (KMeans cells are
    * impl-specific, SURVEY §2.5 rule 4); the keep rule, probe-visible
    * exhaustiveness, boundary-pair recall, and determinism are pinned
    * in SemDedupSpec against a driver-side brute-force recompute. */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val idx = SimSearchOps.buildIvfIndex(spark, sfDir)
    val centroids = spark.read.parquet(s"$idx/centroids")
      .select($"cell", $"center".cast("array<float>").as("center"))
    semanticDedupOf(spark.read.parquet(s"$idx/cells"), centroids)
  }

  /** The SemDeDup rule over explicit (cell, vec_id, ne) + (cell, center)
    * frames — exposed so SemDedupSpec can plant a boundary-straddling
    * pair (two near-identical vectors assigned to DIFFERENT cells)
    * that single-probe SemDeDup is structurally blind to. */
  private[llm] def semanticDedupOf(
      cells: DataFrame, centroids: DataFrame): DataFrame = {
    import cells.sparkSession.implicits._
    // ne is L2-normalized, so dot == cosine; centroid similarity uses
    // the same expression against the (unit-ish) KMeans center.
    // c_sim is always vs the HOME (assigned) centroid — multi-probe
    // changes which pairs are VISIBLE, never the keep rule's scores.
    val scored = cells
      .join(broadcast(centroids), Seq("cell"))
      .select($"cell", $"vec_id", $"ne",
        SimSearchOps.dot($"ne", $"center").as("c_sim"))
    // multi-probe: each vector participates in its TOP-2 nearest cells,
    // so a near-dup pair straddling a cell boundary shares the probe
    // cell between them. The k centroids are a bounded driver collect
    // (the reviewed pattern); top-2 selection is pure column arithmetic
    // over the k-literal — no shuffle, no explode of the corpus beyond
    // the declared 2x probe fan-out.
    val cArr = centroids.select($"cell", $"center")
      .as[(Int, Array[Float])].collect()
    val dcols = cArr.map { case (c, ctr) =>
      struct(SimSearchOps.dot($"ne", typedLit(ctr)).as("d"),
        lit(c).as("pcell"))
    }
    val probed = scored
      .withColumn("p",
        explode(slice(reverse(array_sort(array(dcols.toSeq: _*))), 1,
          math.min(2, cArr.length))))
      .select($"cell", $"vec_id", $"ne", $"c_sim", $"p.pcell".as("pcell"))
    val a = probed.select($"pcell", $"vec_id".as("a_id"), $"ne".as("a_e"),
      $"c_sim".as("a_cs"))
    val b = probed.select($"pcell", $"vec_id".as("b_id"), $"ne".as("b_e"),
      $"c_sim".as("b_cs"), $"cell".as("b_home"))
    a.join(b, Seq("pcell"))
      .filter($"a_id" =!= $"b_id")
      .withColumn("cos", SimSearchOps.dot($"a_e", $"b_e"))
      .filter($"cos" >= FixtureCosineThreshold)
      // rows where the OTHER side dominates (farther from centroid, or
      // equal-distance with smaller id): b_id is the dropped member
      .filter($"a_cs" < $"b_cs" ||
        ($"a_cs" === $"b_cs" && $"a_id" < $"b_id"))
      // a pair sharing BOTH probe cells appears twice — collapse before
      // counting (cos is bit-identical across the two, same inputs)
      .select($"a_id", $"b_id", $"cos", $"b_home").distinct()
      .groupBy($"b_id".as("vec_id"), $"b_home".as("cell"))
      .agg(count(lit(1)).as("n_dups"),
        round(max($"cos"), 6).as("max_cosine"))
      .orderBy($"vec_id")
  }

  /** distinct word 5-grams — wider than the family's 3-gram recipe on
    * purpose: prefix filtering wants a feature space where near-dup
    * pairs are separable from topical overlap (3-grams over this
    * corpus's ~50-word vocabulary collide broadly; 5-grams isolate the
    * planted near-duplicates at jaccard ≥ 0.5 while the background
    * stays far below). */
  private val fiveGramsUdf = udf((text: String) => {
    if (text == null) Array.empty[String]
    else {
      val toks = text.split(" ", -1)
      if (toks.length < 5) Array.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]
        var i = 0
        while (i <= toks.length - 5) {
          seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2) + " " +
            toks(i + 3) + " " + toks(i + 4))
          i += 1
        }
        val out = new Array[String](seen.size)
        seen.toArray(out)
        out
      }
    }
  })

  /** q_dedup_prefix_filter — prefix-filtered set-similarity self-join
    * (All-Pairs / PPJoin family: Bayardo, Ma, Srikant WWW'07;
    * Chaudhuri, Ganti, Kaushik ICDE'06): all document pairs with
    * 5-gram-shingle Jaccard ≥ 0.5, WITHOUT the all-pairs token join.
    * Shingles get a global total order (df asc, shingle asc — rarest
    * first); a doc with n shingles exposes only its first
    * p = n − ⌈t·n⌉ + 1 shingles as join keys (any pair with
    * Jaccard ≥ t MUST collide inside these prefixes — the filter is
    * lossless for any total order, which is exactly what the all-pairs
    * DuckDB oracle certifies); candidates are verified with an exact
    * integer intersection count and the pure-integer threshold
    * 3·inter ≥ n_a + n_b (⇔ jaccard ≥ 0.5, no float compare).
    *
    * Scale: this is the published fix for the posting-join blow-up the
    * df-cutoff variant (q_dedup_ngram_jaccard_cutoff) only bounds:
    * join fan-out is Σ_prefix df² over RARE shingles instead of Σ df²
    * over all, and the prefix shrinks as t rises. One df shuffle, one
    * per-doc rank window, one prefix self-join, one candidate-bounded
    * verify join — no corpus×corpus anything. */
  def prefixFilterJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", explode(fiveGramsUdf($"text")).as("s"))
      .localCheckpoint() // feeds df, sizes, prefix AND both verify legs
    val df = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df".asc, $"s".asc)
    val pref = sh.join(df, Seq("s"))
      .withColumn("pos", row_number().over(w))
      .join(sz, Seq("doc_id"))
      // p = n − ceil(0.5·n) + 1, in pure integers (div, not `/` —
      // Column./ is double division)
      .filter(expr("pos <= n - ((n + 1) div 2) + 1"))
      .select($"s", $"doc_id", $"df")
      // feeds the small-bucket collect AND both hot-bucket join legs —
      // pin it so the rank window isn't recomputed per consumer
      .localCheckpoint()
    // route by df — the shingle's FULL posting count, an upper bound on
    // its prefix-bucket membership: buckets within BucketPairs.MaxMembers
    // emit their pairs map-side, hotter ones take the streamed self-join.
    // A bucket goes entirely to one branch, so the union adds no dups.
    val small = BucketPairs.of(
        pref.filter($"df" <= BucketPairs.MaxMembers), Seq("s"), $"doc_id")
      .select($"a".as("a_id"), $"b".as("b_id"))
    val hotPref = pref.filter($"df" > BucketPairs.MaxMembers)
    val hot = hotPref.select($"s", $"doc_id".as("a_id"))
      .join(hotPref.select($"s", $"doc_id".as("b_id")), Seq("s"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id")
    val cands = small.union(hot).distinct()
    val inter = cands
      .join(sh.select($"doc_id".as("a_id"), $"s"), Seq("a_id"))
      .join(sh.select($"doc_id".as("b_id"), $"s"), Seq("b_id", "s"))
      .groupBy($"a_id", $"b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select($"doc_id".as("a_id"), $"n".as("n_a")), Seq("a_id"))
      .join(sz.select($"doc_id".as("b_id"), $"n".as("n_b")), Seq("b_id"))
      .filter($"inter" * 3L >= $"n_a" + $"n_b")
      .select($"a_id", $"b_id", $"inter", $"n_a", $"n_b",
        round($"inter".cast("double") /
          ($"n_a" + $"n_b" - $"inter").cast("double"), 6).as("jaccard"))
      .orderBy($"a_id", $"b_id")
  }

  /** q_dedup_url_canonical — crawl-URL canonicalization + dedup, the
    * FIRST dedup pass of every web-corpus pipeline (cheaper than any
    * content hash: two fetches of the same resource usually differ
    * only in URL noise). Synthetic crawl URLs are derived from the
    * documents table with planted noise — www prefixes, the :443
    * default port, trailing slashes, utm_* tracking params, fragments
    * — and canonicalized by the standard rule chain (RFC 3986 §6 plus
    * the tracking-param strip every crawler applies): drop fragment,
    * strip utm_* params, tidy dangling ?/&, drop the https default
    * port, strip www., drop the trailing path slash. Docs sharing
    * (source, lang, doc_id mod 50) collide by construction, so the
    * dedup is non-vacuous; keeper = min doc_id per canonical URL.
    *
    * Scale: six stateless regex maps + ONE groupBy on the canonical
    * string — the crawl-frontier shape; no join, no window. Every
    * regex step is mirrored verbatim in the oracle (DuckDB needs the
    * explicit 'g' flag where Spark replaces all matches by default). */
  def urlCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .withColumn("canonical",
        canonicalUrl(syntheticCrawlUrl($"doc_id", $"source", $"lang")))
      .groupBy($"canonical")
      .agg(count(lit(1)).as("n_dups"), min($"doc_id").as("keep_doc_id"))
      .orderBy($"canonical")
  }

  /** The synthetic crawl URL of a fixture doc (the fixture carries no
    * url column; a real crawl does and skips this) — planted noise:
    * www prefix, https default port, trailing slash, utm params,
    * fragment; docs sharing (source, lang, doc_id mod 50) collide by
    * construction. Shared by q_dedup_url_canonical and the CorpusFlow
    * UrlDedupBatch stage so the two can never drift. */
  def syntheticCrawlUrl(docId: org.apache.spark.sql.Column,
                        source: org.apache.spark.sql.Column,
                        lang: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val pid = pmod(docId, lit(50L))
    concat(
      lit("https://"),
      when(pmod(docId, lit(3)) === 0, "www.").otherwise(""),
      source, lit(".example.com"),
      when(pmod(docId, lit(5)) === 0, ":443").otherwise(""),
      lit("/"), lang, lit("/doc-"), pid,
      when(pmod(docId, lit(2)) === 0, "/").otherwise(""),
      lit("?utm_source="), source, lit("&id="), pid,
      when(pmod(docId, lit(4)) > 0,
        concat(lit("#sec-"), pmod(docId, lit(4)))).otherwise(""))
  }

  /** The canonicalization rule chain (RFC 3986 §6 plus the
    * tracking-param strip every crawler applies): drop fragment, strip
    * utm_* params, tidy dangling ?/&, drop the https default port,
    * strip www., drop the trailing path slash. Mirrored verbatim in
    * the q_dedup_url_canonical oracle (DuckDB needs the explicit 'g'
    * flag where Spark replaces all matches by default). */
  def canonicalUrl(url: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(
        url, "#.*$", ""),
        "utm_[a-z_]+=[^&]*&?", ""),
        "[?&]+$", ""),
        "^https://www\\.", "https://"),
        ":443/", "/"),
        "/\\?", "?")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_url_canonical" -> (urlCanonical _),
    "q_dedup_prefix_filter" -> (prefixFilterJaccard _),
    "q_dedup_semantic" -> (semanticDedup _),
    "q_dedup_containment" -> (containment _),
    "q_text_novelty" -> (novelty _),
    "q_dedup_exact" -> (exactDedup _),
    "q_dedup_incremental" -> (incrementalDedup _),
    "q_dedup_ngram_jaccard" -> (ngramJaccard _),
    "q_dedup_threshold_curve" -> (thresholdCurve _),
    "q_dedup_ngram_jaccard_cutoff" -> (ngramJaccardCutoff _),
    "q_dedup_minhash_lsh" -> (minhashLsh _),
    "q_dedup_incremental_minhash" -> (incrementalMinhash _),
    "q_dedup_simhash" -> (simhash _),
    "q_dedup_components" -> (components _),
    "q_dedup_cluster_stats" -> (clusterStats _),
    "q_dedup_source_stats" -> (sourceStats _),
    "q_dedup_keep_list" -> (keepList _),
    "q_dedup_keep_best_quality" -> (keepBestQuality _),
    "q_dedup_triangles" -> (triangles _),
    "q_dedup_embedding_cosine" -> (embeddingCosine _),
    "q_dedup_embedding_cosine_lsh" -> (embeddingCosineLsh _))

  /** The dedup END PRODUCT — the survivor keep-list a training run
    * actually consumes: every document outside the near-dup graph, plus
    * one representative (min doc_id = its component id) per duplicate
    * cluster. Left-join against the component labels; no second pass
    * over text. */
  def keepList(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val comps = componentsOfIndex(spark, sfDir)
    graft.Tables.documents(spark, sfDir).select($"doc_id")
      .join(comps, Seq("doc_id"), "left")
      .filter($"component_id".isNull || $"doc_id" === $"component_id")
      .select($"doc_id",
        coalesce($"component_id", $"doc_id").as("component_id"))
      .orderBy($"doc_id")
  }

  /** q_dedup_keep_best_quality — cluster consolidation keeping the BEST
    * member per duplicate component instead of the first-seen: the
    * keep-longest convention (CCNet-style dedup keeps the longest
    * duplicate — the version most likely to be the complete original,
    * where min-id keeps whatever happened to crawl first). Rule the
    * oracle replays exactly: over the SAME pair-graph components as
    * q_dedup_keep_list, keep the member with max n_chars, ties → lowest
    * doc_id; unclustered docs keep themselves. Scale: expressed as a
    * partial-agg'd groupBy argmax — min over (-n_chars, doc_id) structs,
    * map-side combinable — NOT a per-component window, so the one
    * shuffle moves component keys and no component's membership ever
    * sorts inside a task. */
  def keepBestQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val comps = componentsOfIndex(spark, sfDir)
    val labeled = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars")
      .join(comps, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"component_id", $"doc_id").as("component_id"),
        $"n_chars")
    labeled.groupBy($"component_id")
      .agg(min(struct((-$"n_chars").as("neg"), $"doc_id".as("id")))
        .as("best"))
      .select($"best.id".as("doc_id"), $"component_id",
        (-$"best.neg").as("n_chars"))
      .orderBy($"doc_id")
  }

  /** Location of the persisted near-dup pair-graph artifact (the edge
    * list every dup-graph analytics query consumes). */
  private val PairIndex = "graft_pair_index/"
  private[llm] def pairIndexPath(sfDir: String): String =
    graft.Artifacts.path(PairIndex, sfDir, Docs, ArtifactVersion)

  /** Materialize the exact ngram-Jaccard pair graph ONCE as a parquet
    * artifact (canonical a<b edges), committed atomically — the fp-index
    * pattern applied to the pair graph: the analytics family (cluster
    * stats, keep-list, triangles) reads these edges instead of each
    * re-shingling the corpus, which is also the production shape (the
    * pair graph is the dedup pipeline's second persisted working set,
    * right after the shingled docs). The DECLARED pair query
    * (q_dedup_ngram_jaccard) still computes from scratch — it IS the
    * pair computation — while q_dedup_components and the downstream
    * analytics read this artifact (round 9), whose content is exactly
    * their oracle's nearpairs CTE; changing the artifact layout or
    * ArtifactVersion therefore requires re-verifying those oracles. */
  private[llm] def buildPairIndex(spark: SparkSession, sfDir: String): String =
    graft.Artifacts.ensure(PairIndex, sfDir, Docs, ArtifactVersion) { tmp =>
      ngramJaccard(spark, sfDir).select("a_id", "b_id")
        .write.mode("overwrite").parquet(tmp)
    }

  /** Triangle enumeration over the near-dup CANDIDATE graph — the classic
    * graph-quality signal (triangle-dense regions are true duplicate
    * clusters; bridges with no triangles are often false positives worth
    * re-verifying). The signal is computed where it is actually consumed:
    * on the CANDIDATE pairs (same lang, >= 2 shared 3-gram shingles),
    * BEFORE the jaccard-0.2 verify — triangle support is evidence FOR
    * promoting a candidate, so measuring it on the already-verified graph
    * (which at fixture scale is a near-empty forest) answers nothing.
    *
    * Plan shape, all off the persisted shingle artifact (no re-shingling):
    *  1. df-prune hot shingles (df computed on the RAW shingle string, so
    *     hash collisions cannot inflate a df past the cutoff; maxDf=100 is
    *     a fixture no-op — hottest lang-level df is 14 at sf0.1 — while
    *     bounding the posting self-join's per-shingle fan-out at 100 TB);
    *  2. candidate pairs from the 8-byte xxhash64 posting self-join,
    *     >= 2 shared hashed shingles (collisions only ever ADD here);
    *  3. exact verify: size(array_intersect) >= 2 on the shingle arrays;
    *  4. canonical a<b edges -> each triangle appears exactly once as
    *     a<b<c via two endpoint self-joins — never an adjacency list on
    *     one task. */
  def triangles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(buildShingleIndex(spark, sfDir))
    val postings = docs.select($"doc_id", $"lang", explode($"sh").as("s"))
    // counting shared RAW shingles instead of shared xxhash64 ones can
    // only DROP collision-inflated candidates the exact verify below
    // would discard anyway — final edges identical
    val cand = BucketPairs.underCap(postings, Seq("lang", "s"), $"doc_id", 100)
      .groupBy($"a".as("a_id"), $"b".as("b_id"))
      .agg(count(lit(1)).as("nh"))
      .filter($"nh" >= 2)
      .select($"a_id", $"b_id")
    // pair side is the shuffle-hash build side: without the hint Spark
    // broadcasts the whole shingled corpus (full arrays) per verify leg
    val edges = cand.hint("shuffle_hash")
      .join(docs.select($"doc_id".as("a_id"), $"sh".as("a_sh")), Seq("a_id"))
      .hint("shuffle_hash")
      .join(docs.select($"doc_id".as("b_id"), $"sh".as("b_sh")), Seq("b_id"))
      .filter(size(array_intersect($"a_sh", $"b_sh")) >= 2)
      .select($"a_id", $"b_id")
      // three triangle legs share the edge list (executor-loss caveat:
      // see ngramJaccard's localCheckpoint note)
      .localCheckpoint()
    edges
      .join(edges.select($"a_id".as("b_id"), $"b_id".as("c_id")), Seq("b_id"))
      .join(edges.select($"a_id", $"b_id".as("c_id")), Seq("a_id", "c_id"))
      .select($"a_id", $"b_id", $"c_id")
      .orderBy($"a_id", $"b_id", $"c_id")
  }

  /** Dup-cluster size distribution — the corpus-health readout every
    * dedup run ends with (how much is duplicated, and in how big
    * clusters): component sizes from [[components]], folded to
    * (cluster_size -> n_clusters, n_docs). Composition over the CC
    * operator, so its oracle extends the recursive-CTE components
    * oracle with two plain GROUP BYs. */
  def clusterStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    componentsOfIndex(spark, sfDir)
      .groupBy($"component_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * $"cluster_size").as("n_docs"))
      .orderBy($"cluster_size")
  }

  /** q_dedup_source_stats — WHO contributes the duplicates: the
    * per-source curation readout over the same near-dup components the
    * keep-list uses (every corpus report has this table — without it a
    * dedup pass tells you HOW MUCH was removed but not WHERE to fix
    * ingestion). Per source: total docs, docs in a near-dup cluster,
    * docs the keep-list would remove (non-representative members),
    * removal fraction, and the cross-source count — removed docs whose
    * surviving representative lives in a DIFFERENT source, the
    * mirror/scraper-overlap signal that per-source dedup would miss
    * entirely. Reads the persisted pair-graph artifact (no
    * re-shingling); two partial-agg'd groupBys + a broadcast-sized
    * join of the clustered slice (cluster membership is orders of
    * magnitude below corpus size at any scale — if it isn't, dedup
    * itself was the bottleneck long before this readout). */
  def sourceStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source")
    val comps = componentsOfIndex(spark, sfDir)
    val withSrc = comps.join(docs, Seq("doc_id"))
    val repSrc = docs.select($"doc_id".as("component_id"),
      $"source".as("rep_source"))
    val per = withSrc.join(repSrc, Seq("component_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_clustered"),
        sum(when($"doc_id" =!= $"component_id", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when($"doc_id" =!= $"component_id" &&
          $"source" =!= $"rep_source", 1L).otherwise(0L))
          .as("n_cross_source"))
    docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(per, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"n_clustered", lit(0L)).as("n_clustered"),
        coalesce($"n_removed", lit(0L)).as("n_removed"),
        round(coalesce($"n_removed", lit(0L)).cast("double") /
          $"n_docs".cast("double"), 6).as("removal_frac"),
        coalesce($"n_cross_source", lit(0L)).as("n_cross_source"))
      .orderBy($"source")
  }

  /** shared CTE text: the ngram-jaccard pair query (the declared
    * q_dedup_ngram_jaccard oracle), reused as the edge source of the
    * components oracle */
  private[llm] val ngramPairsSql =
    """docs AS (
      |  SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS lb,
      |    list_sort(list_distinct(list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> concat_ws(' ', string_split(text, ' ')[i],
      |                     string_split(text, ' ')[i+1],
      |                     string_split(text, ' ')[i+2])))) AS sh
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    len(list_intersect(a.sh, b.sh)) AS inter,
      |    len(a.sh) AS asz, len(b.sh) AS bsz
      |  FROM docs a JOIN docs b
      |    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id),
      |nearpairs AS (
      |  SELECT a_id, b_id,
      |    round(CAST(inter AS DOUBLE) / CAST(asz + bsz - inter AS DOUBLE), 6)
      |      AS jaccard
      |  FROM pairs
      |  WHERE CAST(inter AS DOUBLE) / CAST(asz + bsz - inter AS DOUBLE) >= 0.2)
      |""".stripMargin

  /** shared DuckDB cosine(a.embedding, b.embedding) over DOUBLE[] casts —
    * the fold appeared four times inline before round 6 (twice per
    * embedding oracle: SELECT and WHERE) */
  private val cosineExprSql =
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), " +
      "CAST(b.embedding AS DOUBLE[])) / " +
      "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), " +
      "CAST(a.embedding AS DOUBLE[]))) * " +
      "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), " +
      "CAST(b.embedding AS DOUBLE[]))))"

  /** within-label embedding pair scan at [[FixtureCosineThreshold]];
    * `blockPred` is the extra join predicate of the blocked variant
    * ("" = the unblocked all-pairs twin that proves LSH exhaustiveness) */
  private def embeddingCosineOracle(blockPred: String): String =
    s"""SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
       |  round($cosineExprSql, 6) AS cosine
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id$blockPred
       |WHERE $cosineExprSql >= $FixtureCosineThreshold
       |ORDER BY a_id, b_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_dedup_url_canonical" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
        |    source || '.example.com' ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
        |    '/' || lang || '/doc-' || CAST(doc_id % 50 AS VARCHAR) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |    '?utm_source=' || source ||
        |    '&id=' || CAST(doc_id % 50 AS VARCHAR) ||
        |    CASE WHEN doc_id % 4 > 0
        |      THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END
        |    AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(
        |        url, '#.*$', '', 'g'),
        |        'utm_[a-z_]+=[^&]*&?', '', 'g'),
        |        '[?&]+$', '', 'g'),
        |        '^https://www\.', 'https://', 'g'),
        |        ':443/', '/', 'g'),
        |        '/\?', '?', 'g') AS canonical
        |  FROM raw)
        |SELECT canonical, COUNT(*) AS n_dups,
        |  CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
        |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin,
    // ALL-PAIRS twin of the prefix-filtered join: equality certifies
    // the prefix filter is lossless (every jaccard>=0.5 pair collides
    // in the exposed prefixes), the All-Pairs completeness property
    "q_dedup_prefix_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS a
        |  FROM documents),
        |pos AS (SELECT doc_id, a, unnest(range(1, len(a)-3)) AS i
        |  FROM w WHERE len(a) >= 5),
        |sh AS (SELECT DISTINCT doc_id,
        |    a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] ||
        |    ' ' || a[i+4] AS s
        |  FROM pos),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter, sa.n AS n_a, sb.n AS n_b,
        |  round(CAST(inter AS DOUBLE) /
        |    CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
        |FROM inter
        |JOIN sz sa ON a_id = sa.doc_id
        |JOIN sz sb ON b_id = sb.doc_id
        |WHERE 3 * inter >= sa.n + sb.n
        |ORDER BY a_id, b_id""".stripMargin,
    // bit-exact twin of the portable-hash simhash: token hash = first
    // 8 bytes of sha256 (UBIGINT view of the same bit pattern the Spark
    // expression packs into a signed long), tf-weighted per-bit votes,
    // vote>0 packs bit 1, 8x8-bit banding as an OR of byte equalities
    "q_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |th AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(sha256(tok), 1, 16)) AS UBIGINT) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
        |  GROUP BY 1, 2),
        |sim AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN vote > 0
        |      THEN (CAST(1 AS UBIGINT) << b)
        |      ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sim
        |  FROM votes GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |  WHERE ((a.sim >> 0)  & 255) = ((b.sim >> 0)  & 255)
        |     OR ((a.sim >> 8)  & 255) = ((b.sim >> 8)  & 255)
        |     OR ((a.sim >> 16) & 255) = ((b.sim >> 16) & 255)
        |     OR ((a.sim >> 24) & 255) = ((b.sim >> 24) & 255)
        |     OR ((a.sim >> 32) & 255) = ((b.sim >> 32) & 255)
        |     OR ((a.sim >> 40) & 255) = ((b.sim >> 40) & 255)
        |     OR ((a.sim >> 48) & 255) = ((b.sim >> 48) & 255)
        |     OR ((a.sim >> 56) & 255) = ((b.sim >> 56) & 255))
        |SELECT a_id, b_id, hamming FROM pairs
        |WHERE hamming <= 10 ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_containment" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                     string_split(text, ' ')[i+1],
        |                     string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |post AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        |cand AS (
        |  SELECT p1.doc_id AS a_id, p2.doc_id AS b_id, count(*) AS inter
        |  FROM post p1 JOIN post p2
        |    ON p1.s = p2.s AND p1.doc_id < p2.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |sz AS (SELECT doc_id, len(sh) AS n FROM docs)
        |SELECT c.a_id, c.b_id, c.inter,
        |  round(CAST(c.inter AS DOUBLE) / least(sa.n, sb.n), 6)
        |    AS containment
        |FROM cand c JOIN sz sa ON c.a_id = sa.doc_id
        |JOIN sz sb ON c.b_id = sb.doc_id
        |WHERE CAST(c.inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    "q_text_novelty" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                     string_split(text, ' ')[i+1],
        |                     string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |post AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        |first AS (SELECT s, min(doc_id) AS fd FROM post GROUP BY s)
        |SELECT p.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN f.fd = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(CAST(sum(CASE WHEN f.fd = p.doc_id THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 6) AS novelty
        |FROM post p JOIN first f ON p.s = f.s
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // the UNBLOCKED all-pairs truth at the verify threshold: banding only
    // generates candidates, exact jaccard >= 0.5 decides — equality holds
    // iff no qualifying pair misses every band (fixture-measured: none)
    "q_dedup_minhash_lsh" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                     string_split(text, ' ')[i+1],
        |                     string_split(text, ' ')[i+2])))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) AS asz, len(b.sh) AS bsz
        |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id,
        |  round(CAST(inter AS DOUBLE) / CAST(asz + bsz - inter AS DOUBLE), 6)
        |    AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(asz + bsz - inter AS DOUBLE) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    // exact all-pairs jaccard ACROSS the slice boundary (batch = id%3=0,
    // corpus = the rest) — sound because the full-corpus banding has
    // measured full recall at 0.5 and this query's pairs are a subset
    "q_dedup_incremental_minhash" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                     string_split(text, ' ')[i+1],
        |                     string_split(text, ' ')[i+2])))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |pairs AS (
        |  SELECT n.doc_id AS batch_id, c.doc_id AS corpus_id,
        |    len(list_intersect(n.sh, c.sh)) AS inter,
        |    len(n.sh) AS nsz, len(c.sh) AS csz
        |  FROM docs n JOIN docs c
        |    ON n.doc_id % 3 = 0 AND c.doc_id % 3 <> 0)
        |SELECT batch_id, corpus_id,
        |  round(CAST(inter AS DOUBLE) / CAST(nsz + csz - inter AS DOUBLE), 6)
        |    AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(nsz + csz - inter AS DOUBLE) >= 0.5
        |ORDER BY batch_id, corpus_id""".stripMargin,
    // the generous-cutoff variant equals the exact query on the fixture
    // (hottest block-level shingle df is 8 << maxDf=50; DedupSpec pins
    // the equality), so the exact SQL is its oracle at oracle scale
    "q_dedup_ngram_jaccard_cutoff" ->
      s"""WITH $ngramPairsSql
         |SELECT a_id, b_id, jaccard FROM nearpairs
         |ORDER BY a_id, b_id""".stripMargin,
    // connected components as a recursive CTE: comp = min doc_id
    // reachable over the near-dup pair graph (tiny at oracle scale)
    "q_dedup_components" ->
      s"""WITH RECURSIVE $ngramPairsSql,
         |edges(src, dst) AS (
         |  SELECT a_id, b_id FROM nearpairs
         |  UNION ALL SELECT b_id, a_id FROM nearpairs),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, MIN(comp) AS component_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // candidate graph (lang block, >= 2 shared shingles); the df<=100
    // cutoff in the Spark plan is a fixture no-op (hottest df is 14), so
    // the plain SQL is exact
    "q_dedup_triangles" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    list_sort(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                     string_split(text, ' ')[i+1],
        |                     string_split(text, ' ')[i+2])))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |edges AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM docs a JOIN docs b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) >= 2)
        |SELECT e1.a_id AS a_id, e1.b_id AS b_id, e2.b_id AS c_id
        |FROM edges e1
        |JOIN edges e2 ON e2.a_id = e1.b_id
        |JOIN edges e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
        |ORDER BY a_id, b_id, c_id""".stripMargin,
    "q_dedup_keep_list" ->
      s"""WITH RECURSIVE $ngramPairsSql,
         |edges(src, dst) AS (
         |  SELECT a_id, b_id FROM nearpairs
         |  UNION ALL SELECT b_id, a_id FROM nearpairs),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |comps AS (
         |  SELECT id AS doc_id, MIN(comp) AS component_id
         |  FROM reach GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(c.component_id, d.doc_id) AS component_id
         |FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id
         |WHERE c.component_id IS NULL OR d.doc_id = c.component_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_keep_best_quality" ->
      s"""WITH RECURSIVE $ngramPairsSql,
         |edges(src, dst) AS (
         |  SELECT a_id, b_id FROM nearpairs
         |  UNION ALL SELECT b_id, a_id FROM nearpairs),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |comps AS (
         |  SELECT id AS doc_id, MIN(comp) AS component_id
         |  FROM reach GROUP BY id),
         |labeled AS (
         |  SELECT d.doc_id,
         |    coalesce(c.component_id, d.doc_id) AS component_id, d.n_chars
         |  FROM documents d LEFT JOIN comps c ON d.doc_id = c.doc_id)
         |SELECT doc_id, component_id, n_chars FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY component_id
         |    ORDER BY n_chars DESC, doc_id) AS rk FROM labeled)
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q_dedup_source_stats" ->
      s"""WITH RECURSIVE $ngramPairsSql,
         |edges(src, dst) AS (
         |  SELECT a_id, b_id FROM nearpairs
         |  UNION ALL SELECT b_id, a_id FROM nearpairs),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |comps AS (
         |  SELECT id AS doc_id, MIN(comp) AS component_id
         |  FROM reach GROUP BY id),
         |per AS (
         |  SELECT d.source,
         |    COUNT(*) AS n_clustered,
         |    CAST(SUM(CASE WHEN c.doc_id <> c.component_id
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |    CAST(SUM(CASE WHEN c.doc_id <> c.component_id
         |                   AND d.source <> rd.source
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source
         |  FROM comps c
         |  JOIN documents d ON c.doc_id = d.doc_id
         |  JOIN documents rd ON c.component_id = rd.doc_id
         |  GROUP BY d.source)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  coalesce(ANY_VALUE(per.n_clustered), 0) AS n_clustered,
         |  coalesce(ANY_VALUE(per.n_removed), 0) AS n_removed,
         |  round(CAST(coalesce(ANY_VALUE(per.n_removed), 0) AS DOUBLE)
         |    / COUNT(*), 6) AS removal_frac,
         |  coalesce(ANY_VALUE(per.n_cross_source), 0) AS n_cross_source
         |FROM documents d LEFT JOIN per ON d.source = per.source
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_dedup_cluster_stats" ->
      s"""WITH RECURSIVE $ngramPairsSql,
         |edges(src, dst) AS (
         |  SELECT a_id, b_id FROM nearpairs
         |  UNION ALL SELECT b_id, a_id FROM nearpairs),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
         |comps AS (
         |  SELECT id AS doc_id, MIN(comp) AS component_id
         |  FROM reach GROUP BY id),
         |sizes AS (
         |  SELECT component_id, COUNT(*) AS cluster_size
         |  FROM comps GROUP BY component_id)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |  COUNT(*) * cluster_size AS n_docs
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q_dedup_incremental" ->
      """WITH fps AS (
        |  SELECT doc_id,
        |         sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |batch AS (SELECT * FROM fps WHERE doc_id % 3 = 0),
        |existing AS (SELECT fp FROM fps WHERE doc_id % 3 <> 0)
        |SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_batch_copies
        |FROM batch
        |WHERE fp NOT IN (SELECT fp FROM existing)
        |GROUP BY fp ORDER BY keep_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM (
        |  SELECT doc_id,
        |         sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |GROUP BY fp ORDER BY keep_id""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS lb,
        |    list_sort(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                     string_split(text, ' ')[i+1],
        |                     string_split(text, ' ')[i+2])))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) AS asz, len(b.sh) AS bsz
        |  FROM docs a JOIN docs b
        |    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id,
        |  round(CAST(inter AS DOUBLE) / CAST(asz + bsz - inter AS DOUBLE), 6)
        |    AS jaccard
        |FROM pairs
        |WHERE CAST(inter AS DOUBLE) / CAST(asz + bsz - inter AS DOUBLE) >= 0.2
        |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_threshold_curve" ->
      s"""WITH $ngramPairsSql,
         |th AS (
         |  SELECT (2 + unnest(generate_series(0, 7))) / 10.0
         |    AS threshold),
         |f AS (
         |  SELECT threshold, a_id, b_id
         |  FROM nearpairs, th WHERE jaccard >= threshold),
         |np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |       FROM f GROUP BY 1),
         |nd AS (
         |  SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
         |  FROM (SELECT threshold, unnest([a_id, b_id]) AS d FROM f)
         |  GROUP BY 1)
         |SELECT th.threshold,
         |  CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
         |FROM th LEFT JOIN np USING (threshold)
         |LEFT JOIN nd USING (threshold)
         |ORDER BY threshold""".stripMargin,
    "q_dedup_embedding_cosine" ->
      embeddingCosineOracle("\n AND b.vec_id - a.vec_id <= 100"),
    // the UNBLOCKED all-pairs-within-label twin: proves the LSH blocking
    // loses nothing on the fixture (fixture-equality oracle)
    "q_dedup_embedding_cosine_lsh" -> embeddingCosineOracle(""))
}
