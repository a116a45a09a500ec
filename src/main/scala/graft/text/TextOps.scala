package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.AggOps.micro

/** Text-pipeline operators (SURVEY.md §2.4 + reference D8-D15: the Clean
  * chain at 00_training_pipeline.py:77-89 / 01_classification_pipeline.py:104-122).
  *
  * The chain is pure column expressions end-to-end (codegen-friendly) except
  * the Porter2 stem, which is a Scala UDF applied LAST, after stopword
  * filtering has shrunk the token stream (100 TB rule: UDF cost scales with
  * surviving tokens only).
  *
  * Tokenization note: Python's re `\w+` (reference tokenizer) is
  * unicode-aware; Java's default is ASCII-only, so the Spark side uses the
  * embedded (?U) flag for REFERENCE parity — that contract wins. The
  * DuckDB oracle's RE2 `\w` is ASCII-ONLY (verified: 'ión' extracts as
  * ['i','n']), so the oracle twin is exact only for ASCII corpora like
  * the fixture; a non-ASCII corpus keeps reference parity and would need
  * the oracle row demoted to golden/spec. The same class of caveat
  * applies to `\s` (Java includes \x0B, RE2 does not) — fixture text
  * has no control characters.
  */
object TextOps extends graft.QueryModule {

  /** lower → \w+ tokenize → NLTK-stopword filter (D9-D12), as columns. */
  def cleanTokens(text: Column): Column = {
    val toks = regexp_extract_all(lower(text), lit("(?U)\\w+"), lit(0))
    filter(toks, t => !t.isin(Stopwords.tokensOnly: _*))
  }

  /** full reference Clean: tokens → stem → space-join (D13-D14), stemming
    * via the native codegen PorterStemExpression (graft.plans) applied
    * per-token inside transform — stays in the codegen span, no UDF
    * serialization. Porter2.stem is also wrapped as a plain UDF in
    * text.Clean for row-level use. */
  def cleanedWords(text: Column): Column =
    array_join(
      transform(cleanTokens(text), t => call_function("porter_stem", t)), " ")

  /** q_text_clean — oracle-checkable part of the chain (stemming excluded;
    * SURVEY.md §2.4 pins the stopword list inline on both sides). */
  def textClean(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        array_join(cleanTokens($"text"), " ").as("cleaned_nostem"))
      .orderBy($"doc_id")
  }

  /** q_text_clean_stemmed — the complete reference chain incl. Porter2.
    * No oracle (DuckDB has no Snowball); golden-tested against the
    * reference's own daily/<date>/cleaned.csv in TextCleanGoldenSpec. */
  def textCleanStemmed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", cleanedWords($"text").as("cleaned_words"))
      .orderBy($"doc_id")
  }

  /** q_text_token_stats — corpus term analytics: per-token total count +
    * document frequency, top 100 (count desc, token tiebreak). */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("df"))
      .orderBy($"n".desc, $"token")
      .limit(100)
  }

  /** q_text_token_count — whitespace tokens + BPE-ish regex token count
    * (letters runs / digit runs / punctuation runs, the usual pre-tokenizer
    * shape) per doc. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(split($"text", " ")).as("ws_tokens"),
        size(expr(
          "regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]+', 0)"))
          .as("bpe_ish_tokens"))
      .orderBy($"doc_id")
  }

  /** q_text_readability — FORCAST readability grade (Caylor & Sticht,
    * HumRRO TR 73-5, 1973: grade = 20 − 150·mono/words/10) per
    * document, the readability formula built for text WITHOUT sentence
    * punctuation — exactly this corpus (and at 100 TB, a large share
    * of web-extracted text post-cleaning). Syllables are the
    * deterministic vowel-run proxy (count of [aeiouy]+ groups per
    * word, clamped to ≥1 — the hyphenation-free heuristic both engines
    * can evaluate identically); a word is monosyllabic iff it has ≤1
    * vowel run. Ships syllables-per-word as the second readability
    * axis. Exact integer counts per row; TWO micro-floored divisions
    * per readout row, each mirrored verbatim in the oracle.
    *
    * Scale: pure per-row projection over codegen'd higher-order array
    * functions — no shuffle at all beyond the final presentation sort,
    * which a real pipeline drops. */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_words"),
        expr("""aggregate(transform(split(text, ' '),
                w -> greatest(size(regexp_extract_all(w, '[aeiouy]+', 0)),
                              1)),
              0L, (acc, x) -> acc + x)""").as("n_syllables"),
        expr("""cast(size(filter(split(text, ' '),
                w -> w rlike '^[^aeiouy]*[aeiouy]*[^aeiouy]*$'))
              as bigint)""").as("n_mono"))
      .select($"doc_id", $"n_words", $"n_syllables", $"n_mono",
        micro($"n_syllables".cast("double") / $"n_words".cast("double"))
          .as("syll_per_word"),
        micro(lit(20.0) - lit(15.0) * $"n_mono".cast("double") /
          $"n_words".cast("double")).as("forcast_grade"))
      .orderBy($"doc_id")
  }

  /** q_text_burrows_delta — Burrows's Delta (Literary & Linguistic
    * Computing 2002), the standard stylometric distance between
    * sources: per (source, word) relative frequencies are z-scored
    * across sources per word, and Delta(a,b) = mean_w |z_aw − z_bw| —
    * the "same author/pipeline?" readout between corpus slices (a
    * crawl source whose Delta to everything suddenly drops is
    * duplicating another feed). Numerics: relative frequencies are
    * micro-floored ONCE to exact integers f6 = (count·1e6) div total
    * (non-negative: Spark div == DuckDB //), so per-word means/
    * variances across the N sources are exact int64 (S_w = Σf6,
    * Q_w = Σf6²) and z differences reduce to N·|f6_a − f6_b| /
    * √(N·Q_w − S_w²) — one double division per (pair, word) term,
    * 6dp-rounded and DECIMAL-summed per pair; zero-variance words are
    * excluded and the per-pair divisor is the included-word count
    * (deterministic both engines).
    *
    * Scale: one (source, token) partial-agg'd groupBy; the top-150
    * MFW cut (a TakeOrderedAndProject heap, the published method's
    * own restriction) bounds everything after to the |sources|·150
    * grid and the |sources|²·150 pair-term frame — catalog-bounded
    * even when the vocabulary is millions of types. */
  def burrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sw = graft.Tables.documents(spark, sfDir)
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .localCheckpoint() // sources × vocab; feeds totals + stats
    val tot = sw.groupBy($"source").agg(sum($"c").as("t"))
    // Burrows restricts to the top-V most-frequent words (the MFW
    // list, classically 100-300): V = 150 here, selected by corpus
    // count with a token tiebreak via TakeOrderedAndProject — this is
    // BOTH the published method and the scale guard (the densified
    // grid and the pair-term frame are |sources|·150 and
    // |sources|²·150, never |vocab|-sized)
    val mfw = sw.groupBy($"w").agg(sum($"c").as("cw"))
      .orderBy($"cw".desc, $"w").limit(150).select($"w")
    // DENSIFY over the source × MFW grid: a word a source never uses
    // is a REAL stylometric signal (f6 = 0), not a missing pair term
    val f = tot.select($"source", $"t")
      .crossJoin(mfw)
      .join(sw, Seq("source", "w"), "left")
      .select($"source", $"w",
        expr("coalesce(c, 0L) * 1000000L div t").as("f6"))
      .localCheckpoint() // sources × 150; feeds stats + both pair legs
    val ns = tot.agg(count(lit(1)).as("n_src"))
    val stats = f.groupBy($"w")
      .agg(sum($"f6").as("s"), sum($"f6" * $"f6").as("q"))
      .crossJoin(broadcast(ns))
      .withColumn("varn", $"n_src" * $"q" - $"s" * $"s")
      .filter($"varn" > 0L) // zero-variance words carry no signal
      .select($"w", $"n_src", $"varn")
    val pairs = f.select($"source".as("sa"), $"w", $"f6".as("fa"))
      .join(f.select($"source".as("sb"), $"w", $"f6".as("fb")),
        Seq("w"))
      .filter($"sa" < $"sb")
      .join(stats, Seq("w"))
      .select($"sa", $"sb",
        round($"n_src".cast("double") *
          abs($"fa" - $"fb").cast("double") /
          sqrt($"varn".cast("double")), 6)
          .cast("decimal(18,6)").as("term"))
    pairs.groupBy($"sa", $"sb")
      .agg(sum($"term").as("ts"), count(lit(1)).as("n_words"))
      .select($"sa".as("source_a"), $"sb".as("source_b"), $"n_words",
        micro($"ts".cast("double") / $"n_words".cast("double"))
          .as("delta"))
      .orderBy($"source_a", $"source_b")
  }

  /** q_text_quality — heuristic quality scoring: length, stopword ratio,
    * unique-token ratio, mean token length (all exact-arithmetic so the
    * oracle twin matches bit-for-bit after round(,6)). */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(Stopwords.tokensOnly: _*)))
      .cast("double")
    val nUniq = size(array_distinct(toks)).cast("double")
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars",
        size(toks).as("n_tokens"),
        round(nStop / nTok, 6).as("stopword_ratio"),
        round(nUniq / nTok, 6).as("unique_ratio"),
        round(length(regexp_replace($"text", " ", "")).cast("double") / nTok, 6)
          .as("mean_token_len"))
      .orderBy($"doc_id")
  }

  /** q_text_gopher_rules — repetition/composition quality gates in the
    * Gopher (Rae et al. 2021) / C4 style, the second quality axis next
    * to q_text_quality's ratio scores: repeated 3-gram fraction (bulk
    * duplication inside a doc), top-token dominance (max single-token
    * frequency / tokens), digit-char fraction, and alpha-word fraction,
    * plus the combined keep/drop verdict. All exact arithmetic rounded
    * at 6dp so the DuckDB twin matches bit-for-bit; narrow map + one
    * explode/groupBy for the dominance term. */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val toks = split($"text", " ")
    val nTok = size(toks).cast("double")
    // duplicated-shingle fraction: 1 - distinct/total 3-grams (0 when
    // < 3 tokens), over the 3-gram multiset (Ngrams).
    val base = docs
      .withColumn("sh3", Ngrams.trigrams($"text"))
      .select($"doc_id", $"n_chars", $"text",
      size(toks).as("n_tokens"),
      when(size(toks) < 3, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct($"sh3")).cast("double") /
          size($"sh3").cast("double")).as("rep3_frac_raw"),
      (length(regexp_replace($"text", "[^0-9]", "")).cast("double") /
        $"n_chars").as("digit_frac_raw"),
      (size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("double") / nTok)
        .as("alpha_frac_raw"))
    val dominance = docs
      .select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_tok"))
    base.join(dominance, Seq("doc_id"))
      .select($"doc_id", $"n_tokens",
        round($"rep3_frac_raw", 6).as("rep3_frac"),
        round($"top_tok".cast("double") / $"n_tokens", 6).as("dominance"),
        round($"digit_frac_raw", 6).as("digit_frac"),
        round($"alpha_frac_raw", 6).as("alpha_frac"),
        ($"rep3_frac_raw" <= 0.2 && $"top_tok".cast("double") / $"n_tokens" <= 0.2 &&
          $"digit_frac_raw" <= 0.2 && $"alpha_frac_raw" >= 0.6)
          .cast("int").as("keep"))
      .orderBy($"doc_id")
  }

  /** q_text_fingerprint — document fingerprint: sha2-256 over
    * whitespace-normalized lowercase text (exact-dedup key; north star). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        sha2(regexp_replace(lower($"text"), "\\s+", " "), 256).as("fp"))
      .orderBy($"doc_id")
  }

  // PII patterns shared by query and spec: kept to constructs with
  // IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB) — no
  // backrefs, no lookaround, anchored digit runs via \b
  private[text] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[text] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[text] val LongDigitsRe = "\\b\\d{10,}\\b"

  /** q_text_pii_redact — corpus PII scrub (a standard pre-training
    * hygiene pass): emails, IPv4s, and 10+-digit runs (phone/account
    * shaped) are replaced with typed placeholders, with per-category
    * counts from the ORIGINAL text for audit. Chain order matters
    * (email before ip before digits — placeholders contain no digits,
    * so later rules never re-match earlier redactions); the oracle
    * replays the same chain with RE2. Narrow map, zero shuffles. */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        regexp_replace(regexp_replace(regexp_replace($"text",
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), LongDigitsRe, "<NUMBER>")
          .as("redacted"),
        regexp_count($"text", lit(EmailRe)).as("n_emails"),
        regexp_count($"text", lit(Ipv4Re)).as("n_ips"),
        regexp_count($"text", lit(LongDigitsRe)).as("n_numbers"))
      .orderBy($"doc_id")
  }

  /** q_text_winnow — rolling-hash (Rabin-Karp) winnowing fingerprint:
    * hash every k-char window with a true rolling update, then keep the
    * minimum per w-window (MOSS-style winnowing). The surviving minima
    * identify near-duplicate passages cheaply. The polynomial hash is
    * taken mod the prime 1e9+7 — every intermediate fits a BIGINT
    * without wraparound, so the DuckDB oracle reproduces the exact hash
    * values with list ops (Long-overflow wrapping would not be
    * SQL-portable) and the query is FULLY oracled, not rows-only. */
  def winnowFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val K = 8  // gram length (chars)
    val W = 16 // winnow window
    val winnowUdf = udf((text: String) => {
      if (text == null) Seq.empty[Long]
      else {
        // hash over CODE POINTS, not UTF-16 code units: the oracle's
        // unicode(substr(...)) sees code points, and the two only agree
        // for BMP text — an emoji would split into two surrogate units
        // here while DuckDB sees one value. Identical to charAt for the
        // all-BMP case (every ASCII/Latin corpus).
        val cps = text.codePoints().toArray
        if (cps.length < K) Seq.empty[Long]
        else {
        val B = 257L
        val P = 1000000007L
        var pow = 1L
        var i = 1
        while (i < K) { pow = pow * B % P; i += 1 }
        val hashes = new Array[Long](cps.length - K + 1)
        var h = 0L
        var j = 0
        while (j < K) { h = (h * B + cps(j)) % P; j += 1 }
        hashes(0) = h
        var p = 1
        while (p <= cps.length - K) {
          h = ((h - cps(p - 1) * pow % P + P) % P * B +
            cps(p + K - 1)) % P
          hashes(p) = h
          p += 1
        }
        // winnow: min of each window of W consecutive gram hashes, deduped
        val out = scala.collection.mutable.LinkedHashSet.empty[Long]
        var s = 0
        while (s <= hashes.length - W) {
          var m = hashes(s)
          var t = s + 1
          while (t < s + W) { if (hashes(t) < m) m = hashes(t); t += 1 }
          out += m
          s += 1
        }
        if (out.isEmpty) Seq(hashes.min) else out.toSeq
        }
      }
    })
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", winnowUdf($"text").as("fps"))
      .select($"doc_id", size($"fps").cast("long").as("n_fingerprints"),
        array_min($"fps").as("fp_min"))
      .orderBy($"doc_id")
  }

  /** q_text_langid — character-n-gram language ID heuristic: score each
    * language by hits of its characteristic char-trigrams over the text's
    * trigram stream (one tight pass), deterministic argmax (score desc,
    * profile order asc). FULLY oracled: the trigram hit counts and the
    * argmax tie-break are plain SQL over the unnested trigram positions.
    * Profiles are pinned real-language trigrams — on the synthetic fixture
    * corpus (same vocab for every lang label) accuracy is undefined by
    * construction; the operator contract is the exact scoring function. */
  private val langProfiles: Seq[(String, Set[String])] = Seq(
    "de" -> Set("der", "sch", "ein", "ich", "und", "die", "cht", "ung", "gen"),
    "en" -> Set("the", "and", "ing", "ion", "ent", "her", "for", "tha", "ter"),
    "es" -> Set("que", "los", "ión", "nte", "con", "ado", "una", "par", "ent"),
    "fr" -> Set("les", "que", "ent", "des", "une", "ait", "eur", "our", "ois"),
    "zh" -> Set("shi", "zhe", "ian", "ang", "eng", "ing", "uan", "hao", "wei"))

  private val langIdUdf = udf((text: String) => {
    if (text == null || text.length < 3) "unknown"
    else {
      val lower = text.toLowerCase(java.util.Locale.ROOT)
      val counts = new Array[Int](langProfiles.size)
      var i = 0
      while (i <= lower.length - 3) {
        val tri = lower.substring(i, i + 3)
        var l = 0
        while (l < langProfiles.size) {
          if (langProfiles(l)._2.contains(tri)) counts(l) += 1
          l += 1
        }
        i += 1
      }
      val best = counts.indices.maxBy(j => (counts(j), -j))
      if (counts(best) == 0) "unknown" else langProfiles(best)._1
    }
  })

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang".as("labeled_lang"),
        langIdUdf($"text").as("predicted_lang"))
      .orderBy($"doc_id")
  }

  /** q_text_edit_distance — character-level fuzzy near-dup: levenshtein
    * over (lang, length-bucket, id-window) blocked pairs. The id-distance
    * bound keeps per-row fan-out constant (levenshtein is O(len_a*len_b)
    * per pair — unblocked it would be the whole job's cost at scale). Two
    * result-preserving prunes do the heavy lifting: |len_a - len_b| is a
    * lower bound on edit distance, so the cheap length filter kills pairs
    * before any DP runs, and the THRESHOLD form of levenshtein (3-arg,
    * returns -1 past the bound) runs a banded O(max_len * threshold) DP
    * instead of the full O(len_a * len_b) table — at 60 vs ~1k chars
    * that is ~10x less work per surviving pair. The oracle keeps the
    * plain 2-arg form: both prunes only remove/-1 pairs the <= 60 filter
    * discards anyway. */
  def editDistance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", floor($"n_chars" / 100).as("lb"),
        $"n_chars", $"text")
    val a = docs.select($"doc_id".as("a_id"), $"lang", $"lb",
      $"n_chars".as("a_len"), $"text".as("a_text"))
    val b = docs.select($"doc_id".as("b_id"), $"lang", $"lb",
      $"n_chars".as("b_len"), $"text".as("b_text"))
    a.join(b, Seq("lang", "lb"))
      .filter($"a_id" < $"b_id" && $"b_id" - $"a_id" <= 10 &&
        abs($"a_len" - $"b_len") <= 60)
      .withColumn("edit_dist", levenshtein($"a_text", $"b_text", 60))
      .filter($"edit_dist" >= 0)
      .select($"a_id", $"b_id", $"edit_dist")
      .orderBy($"a_id", $"b_id")
  }

  /** q_text_chunk — sliding-window document chunking for training-context
    * prep: 50-token windows, stride 40 (10-token overlap), last chunk
    * ragged. Pure per-row expression work (explode of a chunk-index
    * sequence + slice) — linear in output tokens, no shuffle until the
    * presentation sort. */
  def chunk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val win = 50
    val stride = 40
    val d = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n", size($"toks"))
    d.select($"doc_id", $"toks", $"n",
      explode(sequence(lit(0),
        (lit(1) + ceil(greatest($"n" - win, lit(0)) / stride.toDouble))
          .cast("int") - 1)).as("chunk_id"))
      .withColumn("start", $"chunk_id" * stride)
      .withColumn("n_tokens", least(lit(win), $"n" - $"start"))
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"), $"n_tokens",
        array_join(slice($"toks", $"start" + 1, $"n_tokens"), " ")
          .as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** q_text_pack — sequence packing: assign docs (per lang, id order) to
    * fixed token-budget bins via running token count, the shuffle-free
    * formulation of greedy context packing (bin = completed budget
    * multiples BEFORE this doc). One window shuffle on lang. */
  def pack(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val budget = 2000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", size(split($"text", " ")).as("n_tokens"))
      .withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"lang", $"n_tokens",
        floor(($"cum" - $"n_tokens") / budget).as("bin"))
      .orderBy($"doc_id")
  }

  /** q_text_tfidf — top-3 TF-IDF terms per document (first 50 docs, to
    * bound the report): tf from one explode+groupBy, df from a distinct
    * explode+groupBy, idf = ln(N/df) in double (identical transcendental
    * on both engines' libm), deterministic tiebreak on the token. Two
    * shuffles (tf, df) + the ranking window — the df side is the one to
    * df-threshold at 100 TB. */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    // corpus size as a broadcast 1-row aggregate inside THE SAME plan
    // (the oracle's CROSS JOIN n) — an eager docs.count() here would be
    // a second full scan per invocation, a separate job at 100 TB
    val nDocs = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
    val tf = toks.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df = toks.select($"doc_id", $"token").distinct()
      .groupBy($"token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id")
      .orderBy($"tfidf".desc, $"token")
    tf.join(df, Seq("token"))
      .crossJoin(nDocs)
      .withColumn("tfidf",
        round($"tf" * log($"n_docs" / $"df"), 6))
      .filter($"doc_id" < 50)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk", $"token", $"tf", $"df", $"tfidf")
      .orderBy($"doc_id", $"rk")
  }

  /** q_text_unigram_logprob — corpus-LM quality score (the CCNet/Gopher
    * perplexity-gate shape with the LM reduced to the corpus's own
    * unigram distribution): avg per-token log p(token), where
    * p = count(token)/total_tokens over the whole corpus. Low scores =
    * rare-token-heavy docs (boilerplate, codes, mojibake) — the standard
    * cheap quality signal before an expensive LM pass. All in one plan:
    * unigram counts are a token-keyed aggregate joined back to the
    * postings; the total is a broadcast 1-row aggregate (tfidf pattern).
    * Determinism discipline: per-token logprob is rounded to 6 dp and
    * summed as DECIMAL(18,6) (exact, order-free), then divided once in
    * double — the ln() inputs are int-ratio doubles exactly as in the
    * proven-portable tfidf oracle. */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("token"))
    val uni = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
    val nToks = broadcast(toks.agg(count(lit(1)).cast("double").as("n_total")))
    toks.join(uni, Seq("token"))
      .crossJoin(nToks)
      .withColumn("lp",
        round(log($"cnt".cast("double") / $"n_total"), 6)
          .cast("decimal(18,6)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round((sum($"lp").cast("double") / count(lit(1))), 6)
          .as("avg_logprob"))
      .orderBy($"doc_id")
  }

  /** q_text_ppl_bucket — CCNet-style perplexity bucketing (Wenzek et
    * al., LREC 2020): per-language deciles of the unigram-LM score
    * ([[unigramLogprob]]'s avg_logprob as the cheap LM stand-in), with
    * the keep rule that drops the worst-scoring tail (buckets 8-10 ≈
    * CCNet's "tail" third) — the standard head/middle filter a
    * pretraining corpus applies per language so high-resource languages
    * don't set the bar for low-resource ones. Deterministic: the decile
    * order is (avg_logprob DESC, doc_id), both engines' ntile splits
    * remainder buckets identically, and the report aggregates per
    * (lang, bucket) so the output is vocabulary-bounded. Scale: exact
    * ntile is a per-language sort — fine while per-lang volumes sort in
    * a stage; at 100 TB swap the decile edges to approx_percentile
    * cutoffs broadcast back (same keep decision, one pass, no sort) —
    * the declared exact form is the oracle-able contract for that
    * rewrite. */
  def pplBucket(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val lp = unigramLogprob(spark, sfDir)
      .select($"doc_id", $"avg_logprob")
    val langs = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang")
    val w = Window.partitionBy($"lang")
      .orderBy($"avg_logprob".desc, $"doc_id")
    lp.join(langs, Seq("doc_id"))
      .withColumn("bucket", ntile(10).over(w))
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(min($"avg_logprob"), 6).as("lp_min"),
        round(max($"avg_logprob"), 6).as("lp_max"))
      .withColumn("kept", ($"bucket" <= 7).cast("int"))
      .orderBy($"lang", $"bucket")
  }

  /** q_text_sentences — sentence segmentation with stable positions:
    * sentences are maximal runs of non-terminator chars plus their
    * trailing `[.!?]` terminators (an RE2-compatible extraction — no
    * lookbehind, so the DuckDB oracle runs the IDENTICAL pattern),
    * whitespace-trimmed, empties dropped, per-sentence index and char
    * length kept. sent_idx is the position in the raw extraction, so
    * it is stable even if an element trims away. */
  def sentences(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id",
        posexplode(regexp_extract_all($"text",
          lit("[^.!?]+[.!?]*"), lit(0))))
      .withColumn("sentence", trim($"col"))
      .filter(length($"sentence") > 0)
      .select($"doc_id", $"pos".cast("long").as("sent_idx"),
        length($"sentence").cast("long").as("n_chars"), $"sentence")
      .orderBy($"doc_id", $"sent_idx")
  }

  /** q_text_bigram_pmi — collocation mining: pointwise mutual
    * information ln(p(ab) / (p(a)p(b))) over corpus bigrams (Church &
    * Hanks 1990), the classic signal for multi-word expressions worth
    * protecting from tokenization. Counts are exact distributed
    * aggregates; the two totals are broadcast 1-row aggregates over the
    * count tables (no second corpus scan); min count 5 kills the noisy
    * tail; top-20 by rounded PMI with the bigram string as total
    * tie-break. */
  def bigramPmi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
    val uni = docs.select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    val bc = docs.select(explode(Ngrams.bigrams($"text")).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c_ab"))
    val nUni = broadcast(uni.agg(sum($"c").cast("double").as("n_uni")))
    val nBig = broadcast(bc.agg(sum($"c_ab").cast("double").as("n_big")))
    bc.filter($"c_ab" >= 5)
      .withColumn("a", split($"bg", " ").getItem(0))
      .withColumn("b", split($"bg", " ").getItem(1))
      .join(uni.select($"tok".as("a"), $"c".as("c_a")), Seq("a"))
      .join(uni.select($"tok".as("b"), $"c".as("c_b")), Seq("b"))
      .crossJoin(nUni).crossJoin(nBig)
      .withColumn("pmi", round(log(($"c_ab" / $"n_big") /
        (($"c_a" / $"n_uni") * ($"c_b" / $"n_uni"))), 6))
      .select($"bg", $"c_ab", $"c_a", $"c_b", $"pmi")
      .orderBy($"pmi".desc, $"bg")
      .limit(20)
  }

  /** q_text_fuzzy_entity — entity resolution / record linkage over the
    * part-name dictionary with the native [[graft.plans.JaroWinklerExpression]]
    * (classic Winkler convention, pinned bit-for-bit to the DuckDB
    * builtin — see the Expression scaladoc): distinct names are
    * blocked on their first character (the declared blocking key —
    * standard for JW, whose prefix boost makes cross-initial matches
    * rare) and pairs at round(sim,4) ≥ 0.85 come back with each name's
    * row count, the merge-impact readout a dedup decision needs.
    *
    * Scale: the self-join runs on the RESOLVED dictionary (one exact
    * groupBy of the corpus → |distinct names| rows), never on the raw
    * table — the canonical entity-resolution shape: resolve the
    * dictionary, then broadcast the mapping back. Blocking bounds the
    * pair space to Σ_block |block|²; the similarity itself stays in
    * whole-stage codegen. */
  def fuzzyEntity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val dict = graft.Tables.part(spark, sfDir)
      .groupBy($"p_name").agg(count(lit(1)).as("n"))
    val a = dict.select($"p_name".as("name_a"), $"n".as("n_a"))
    val b = dict.select($"p_name".as("name_b"), $"n".as("n_b"))
    a.join(b, $"name_a" < $"name_b" &&
        substring($"name_a", 1, 1) === substring($"name_b", 1, 1))
      .withColumn("sim",
        round(call_function("jaro_winkler", $"name_a", $"name_b"), 4))
      .filter($"sim" >= 0.85)
      .select($"name_a", $"name_b", $"sim", $"n_a", $"n_b")
      .orderBy($"name_a", $"name_b")
  }

  /** q_text_concordance — KWIC (keyword-in-context) concordance for a
    * query term: every occurrence with up to 3 tokens of left/right
    * context — the corpus-inspection view a curation analyst pulls
    * before writing a filter rule ("show me how 'spark' is actually
    * used"). One narrow posexplode + per-row slices (the token array
    * is carried once); at scale the term filter makes output
    * occurrence-sized, and a real deployment fronts it with the
    * inverted index (q_text_keyword_search) so only matching docs are
    * exploded at all. */
  def concordance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val term = "spark"
    graft.Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks", size($"toks").as("n"),
        posexplode($"toks").as(Seq("pos0", "tok")))
      .filter($"tok" === term)
      .select($"doc_id", ($"pos0" + 1).as("pos"),
        array_join(slice($"toks", greatest(lit(1), $"pos0" - 2),
          least(lit(3), $"pos0")), " ").as("left_ctx"),
        array_join(slice($"toks", $"pos0" + 2,
          least(lit(3), $"n" - $"pos0" - 1)), " ").as("right_ctx"))
      .orderBy($"doc_id", $"pos")
  }

  /** q_text_zipf_fit — Zipf-law exponent of the corpus unigram
    * distribution: OLS of ln(freq) on ln(rank) over the ranked
    * vocabulary (slope ≈ −s; a healthy natural-language corpus sits
    * near s ≈ 1, synthetic or template-heavy corpora deviate — a
    * cheap corpus-health fingerprint next to lexical_diversity).
    * Ranks are deterministic ((freq desc, token asc)); both log
    * coordinates go through round(ln,6)::DECIMAL(18,6), the moment
    * sums are exact decimals, and the closed-form slope/intercept/R²
    * run in the ols_fit mirrored double order. The fit uses the
    * TOP-1000 types (the standard head fit — tail ranks are noise),
    * which also makes the plan scale-safe: the cut is a
    * TakeOrderedAndProject over the type counts, and the rank window
    * then sees ≤ 1000 rows regardless of vocabulary size. */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val freq = graft.Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("t"))
      .groupBy($"t").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"t".asc).limit(1000) // distributed top-k
    val ranked = freq.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"c".desc, $"t".asc))) // <= 1000 rows
      .select(
        round(log($"rk".cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log($"c".cast("double")), 6).cast("decimal(18,6)").as("y"))
    val g = ranked.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"x" * $"y").as("sxy"))
    val vxx = $"sxx".cast("double") -
      $"sx".cast("double") * $"sx".cast("double") / $"n"
    val vyy = $"syy".cast("double") -
      $"sy".cast("double") * $"sy".cast("double") / $"n"
    val vxy = $"sxy".cast("double") -
      $"sx".cast("double") * $"sy".cast("double") / $"n"
    val slope = vxy / vxx
    // degenerate guard: a one-type vocabulary leaves a single rank
    // point → vxx = 0 → 0/0 (and a constant-frequency head zeroes
    // vyy for R²); the `when` lazily gates each division (ANSI throws
    // on double x/0), CASE-mirrored in the twin
    g.select($"n".as("n_types"),
      when(vxx > 0.0, micro(slope)).as("slope"),
      when(vxx > 0.0,
        micro(($"sy".cast("double") - slope * $"sx".cast("double")) / $"n"))
        .as("intercept"),
      when(vxx > 0.0 && vyy > 0.0,
        micro(vxy * vxy / (vxx * vyy))).as("r2"))
  }

  /** (pid, pos, tok, phrase_len) of every CANDIDATE (non-stopword)
    * token of one doc, emitted map-side: pid = number of stopword
    * delimiters before the token (the running sum(is_stop) the
    * replaced window computed), plen = the token count of its maximal
    * stopword-free run. Null-guarded like the co-occurrence UDFs. */
  private val rakeSegUdf = udf((toks: Seq[String]) => {
    if (toks == null) Array.empty[(Long, Int, String, Long)]
    else {
      val stop = Stopwords.tokenSet
      val n = toks.length
      val isStop = new Array[Boolean](n)
      val pid = new Array[Long](n)
      val plen = new java.util.HashMap[Long, Long]()
      var cur = 0L
      var i = 0
      while (i < n) {
        val s = stop.contains(toks(i)); isStop(i) = s
        if (s) cur += 1L
        else { pid(i) = cur; plen.merge(cur, 1L, (a, b) => a + b) }
        i += 1
      }
      val out = Array.newBuilder[(Long, Int, String, Long)]
      out.sizeHint(n)
      i = 0
      while (i < n) {
        if (!isStop(i)) out += ((pid(i), i, toks(i), plen.get(pid(i))))
        i += 1
      }
      out.result()
    }
  })

  /** q_text_rake — RAKE keyword extraction (Rose et al., "Automatic
    * Keyword Extraction from Individual Documents", 2010), corpus-wide:
    * candidate phrases are the maximal stopword-free token runs
    * (delimiters = the pinned NLTK list, the q_text_clean filter set);
    * each word scores deg(w)/freq(w) where freq counts candidate
    * occurrences and deg sums the lengths of the phrases containing
    * them (hub words inside long collocations outrank isolated
    * frequent words); a phrase scores the sum of its words' scores.
    * Top-20 phrases by (score, phrase). Numerics: deg/freq is ONE
    * double division per word occurrence, round(,6)::DECIMAL, exact
    * DECIMAL phrase sums, cast once at the readout (identical phrase
    * text ⇒ identical word multiset ⇒ identical score, so the
    * cross-doc collapse can take max(score) without ambiguity).
    *
    * Scale: segmentation and phrase lengths are emitted MAP-side from
    * each doc's own token array ([[rakeSegUdf]], r18 — the previous
    * shape paid a corpus exchange + two per-doc window sorts for
    * values derivable from the array in one pass); word stats are one
    * hash aggregation over candidate occurrences; the final top-20 is
    * a TakeOrderedAndProject heap. Linear in corpus tokens end to
    * end. */
  def rake(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val seg = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", explode(rakeSegUdf(split($"text", " "))).as("s"))
      .select($"doc_id", $"s._1".as("pid"), $"s._2".as("pos"),
        $"s._3".as("tok"), $"s._4".as("plen"))
    val wordstats = seg.groupBy($"tok")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
    val phrases = seg.join(wordstats, Seq("tok"))
      .withColumn("term",
        round($"deg".cast("double") / $"freq".cast("double"), 6)
          .cast("decimal(18,6)"))
      .groupBy($"doc_id", $"pid")
      .agg(array_join(transform(
          array_sort(collect_list(struct($"pos", $"tok"))),
          x => x.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("n_words"),
        sum($"term").as("score"))
    phrases.groupBy($"phrase")
      .agg(max($"n_words").as("n_words"), count(lit(1)).as("n_occur"),
        max($"score").as("score"))
      .select($"phrase", $"n_words", $"n_occur",
        $"score".cast("double").as("score"))
      .orderBy($"score".desc, $"phrase").limit(20) // top-k heap
  }

  /** q_text_keyness — corpus-contrastive keyword extraction by Dunning
    * log-likelihood G² (Dunning, Comp. Ling. 1993; the keyness measure
    * corpus linguistics standardized on — unlike raw frequency ratio
    * it is calibrated for rare words): for each token, the 2×2 table
    * (count in src0, count in src1, rest of src0, rest of src1) and
    * G² = 2·Σ O·ln(O/E). The log arguments are INTEGER ratios
    * (O/E_a = a·N/((a+b)·n0) — the js_divergence recipe), each term
    * O·round(ln(·),6)::DECIMAL with zero cells contributing exactly 0
    * via the same when-guard both engines spell; the ×2 and the one
    * double cast happen at the readout. `direction` says WHICH corpus
    * overuses the token (a·n1 vs b·n0, pure integers). Top-20 by
    * (G², token).
    *
    * Scale: one token hash-aggregation to the vocabulary, a broadcast
    * 1-row totals frame, per-row arithmetic, and a
    * TakeOrderedAndProject heap — never a window, never a second
    * corpus pass. */
  def keyness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = graft.Tables.documents(spark, sfDir)
      .filter($"source".isin("src0", "src1"))
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"tok")
      .agg(sum(when($"source" === "src0", 1L).otherwise(0L)).as("a"),
        sum(when($"source" === "src1", 1L).otherwise(0L)).as("b"))
    val tot = tf.agg(sum($"a").as("n0"), sum($"b").as("n1")) // 1 row
    def term(o: Column, num: Column, den: Column): Column =
      when(o > 0L, o * round(log(num.cast("double") / den.cast("double")), 6)
        .cast("decimal(18,6)")).otherwise(lit(0).cast("decimal(18,6)"))
    tf.crossJoin(broadcast(tot))
      .withColumn("n", $"n0" + $"n1")
      .withColumn("c", $"n0" - $"a").withColumn("d", $"n1" - $"b")
      .withColumn("g2x2",
        term($"a", $"a" * $"n", ($"a" + $"b") * $"n0") +
        term($"b", $"b" * $"n", ($"a" + $"b") * $"n1") +
        term($"c", $"c" * $"n", ($"c" + $"d") * $"n0") +
        term($"d", $"d" * $"n", ($"c" + $"d") * $"n1"))
      .select($"tok", $"a".as("count_src0"), $"b".as("count_src1"),
        micro($"g2x2".cast("double") * 2.0).as("g2"),
        when($"a" * $"n1" > $"b" * $"n0", "src0").otherwise("src1")
          .as("overused_in"))
      .orderBy($"g2".desc, $"tok").limit(20) // top-k heap
  }

  /** q_text_burstiness — per-token dispersion (variance-to-mean ratio
    * of the per-document count, Church & Gale 1995's burstiness): a
    * token whose occurrences CLUMP (vmr ≫ 1) is topical; one spread
    * evenly (vmr ≈ 1, the Poisson baseline) is function-word-like —
    * the signal that separates the two at equal corpus frequency.
    * Closed form over zeros WITHOUT densifying: with per-doc counts c
    * over all N docs (absent docs contribute 0), vmr =
    * (N·Σc² − (Σc)²)/(N·Σc) — pure int64 from one (doc, tok)
    * aggregation and one token aggregation, ONE micro-floored double
    * division (df ≥ 50 floor keeps the readout stable). Top-20 by
    * (vmr, token).
    *
    * Scale: two hash aggregations (corpus → doc-token counts →
    * vocabulary) + a broadcast 1-row N + a top-k heap. */
  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dc = graft.Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val n = graft.Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs")) // 1 row
    dc.groupBy($"tok")
      .agg(count(lit(1)).as("df"), sum($"c").as("s1"),
        sum($"c" * $"c").as("s2"))
      .filter($"df" >= 50L)
      .crossJoin(broadcast(n))
      .select($"tok", $"df", $"s1".as("total_tf"),
        micro($"s1".cast("double") / $"n_docs".cast("double")).as("mean_tf"),
        micro(($"n_docs" * $"s2" - $"s1" * $"s1").cast("double") /
          ($"n_docs" * $"s1").cast("double")).as("vmr"))
      .orderBy($"vmr".desc, $"tok").limit(20) // top-k heap
  }

  /** q_text_bigram_llr — collocation extraction by Dunning
    * log-likelihood over the bigram 2×2 table (Dunning, Comp. Ling.
    * 1993 — the paper's ORIGINAL application, and the fix for PMI's
    * known failure on sparse counts: q_text_bigram_pmi top-ranks rare
    * pairs, G² is frequency-calibrated, so the two declared queries
    * disagree on purpose). Margins come from the bigram table itself
    * (first-position / second-position sums — unigram counts are off
    * by one per document boundary), cells k11..k22 in exact int64,
    * each O·round(ln(O·T/(rowΣ·colΣ)),6)::DECIMAL with the keyness
    * zero-cell guard, ×2 at the readout. k11 ≥ 5 floor (the PMI
    * MinPair), top-20 by (G², bigram).
    *
    * Scale: one bigram hash aggregation (vocab²-bounded), two margin
    * re-aggregations of THAT table, a broadcast 1-row total, a top-k
    * heap. */
  def bigramLlr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bc = graft.Tables.documents(spark, sfDir)
      .select(explode(Ngrams.bigrams($"text")).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("k11"))
      .withColumn("a", split($"bg", " ").getItem(0))
      .withColumn("b", split($"bg", " ").getItem(1))
      .localCheckpoint() // vocab²-bounded; feeds margins + total + self
    val ra = bc.groupBy($"a").agg(sum($"k11").as("ca"))
    val cb = bc.groupBy($"b").agg(sum($"k11").as("cbm"))
    val tt = bc.agg(sum($"k11").as("t")) // 1 row
    def term(o: Column, rs: Column, cs: Column): Column =
      when(o > 0L, o * round(log(
        (o * $"t").cast("double") / (rs * cs).cast("double")), 6)
        .cast("decimal(18,6)")).otherwise(lit(0).cast("decimal(18,6)"))
    bc.filter($"k11" >= 5L)
      .join(ra, Seq("a")).join(cb, Seq("b")).crossJoin(broadcast(tt))
      .withColumn("k12", $"ca" - $"k11")
      .withColumn("k21", $"cbm" - $"k11")
      .withColumn("k22", $"t" - $"ca" - $"cbm" + $"k11")
      .withColumn("g2x2",
        term($"k11", $"ca", $"cbm") +
        term($"k12", $"ca", $"t" - $"cbm") +
        term($"k21", $"t" - $"ca", $"cbm") +
        term($"k22", $"t" - $"ca", $"t" - $"cbm"))
      .select($"bg", $"k11".as("c_ab"), $"ca".as("c_a_first"),
        $"cbm".as("c_b_second"),
        micro($"g2x2".cast("double") * 2.0).as("g2"))
      .orderBy($"g2".desc, $"bg").limit(20) // top-k heap
  }

  /** q_text_heaps_fit — Heaps'-law fit of vocabulary growth (Heaps
    * 1978): V = k·N^β, fitted as log V = log k + β·log N over the
    * per-source (tokens, types) points — the companion fingerprint to
    * [[zipfFit]]'s rank-frequency exponent, and the one that answers
    * "how fast does a tokenizer vocab need to grow as this corpus
    * scales". Same numeric recipe as zipfFit: each point's logs
    * round(,6)::DECIMAL, the five OLS moments exact sums over the
    * BOUNDED |sources| frame, double formula once per readout,
    * micro-floored.
    *
    * Scale: one (source, token) hash aggregation → one |sources|-row
    * frame; nothing corpus-sized past the first groupBy. */
  def heapsFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pts = graft.Tables.documents(spark, sfDir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_types"))
      .select(
        round(log($"n_tokens".cast("double")), 6).cast("decimal(18,6)")
          .as("x"),
        round(log($"n_types".cast("double")), 6).cast("decimal(18,6)")
          .as("y")) // bounded |sources| frame
    val g = pts.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"x" * $"y").as("sxy"))
    val vxx = $"sxx".cast("double") -
      $"sx".cast("double") * $"sx".cast("double") / $"n"
    val vyy = $"syy".cast("double") -
      $"sy".cast("double") * $"sy".cast("double") / $"n"
    val vxy = $"sxy".cast("double") -
      $"sx".cast("double") * $"sy".cast("double") / $"n"
    val slope = vxy / vxx
    // degenerate guard: a single-source corpus (or equal-token-count
    // sources) leaves vxx = 0 → 0/0; lazily gated, CASE-mirrored
    g.select($"n".as("n_sources"),
      when(vxx > 0.0, micro(slope)).as("beta"),
      when(vxx > 0.0,
        micro(($"sy".cast("double") - slope * $"sx".cast("double")) / $"n"))
        .as("log_k"),
      when(vxx > 0.0 && vyy > 0.0,
        micro(vxy * vxy / (vxx * vyy))).as("r2"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_heaps_fit" -> (heapsFit _),
    "q_text_bigram_llr" -> (bigramLlr _),
    "q_text_keyness" -> (keyness _),
    "q_text_burstiness" -> (burstiness _),
    "q_text_rake" -> (rake _),
    "q_text_zipf_fit" -> (zipfFit _),
    "q_text_concordance" -> (concordance _),
    "q_text_fuzzy_entity" -> (fuzzyEntity _),
    "q_text_bigram_pmi" -> (bigramPmi _),
    "q_text_unigram_logprob" -> (unigramLogprob _),
    "q_text_ppl_bucket" -> (pplBucket _),
    "q_text_sentences" -> (sentences _),
    "q_text_tfidf" -> (tfidf _),
    "q_text_chunk" -> (chunk _),
    "q_text_pack" -> (pack _),
    "q_text_edit_distance" -> (editDistance _),
    "q_text_clean" -> (textClean _),
    "q_text_clean_stemmed" -> (textCleanStemmed _),
    "q_text_token_stats" -> (tokenStats _),
    "q_text_token_count" -> (tokenCount _),
    "q_text_readability" -> (readability _),
    "q_text_burrows_delta" -> (burrowsDelta _),
    "q_text_quality" -> (quality _),
    "q_text_fingerprint" -> (fingerprint _),
    "q_text_pii_redact" -> (piiRedact _),
    "q_text_gopher_rules" -> (gopherRules _),
    "q_text_winnow" -> (winnowFingerprint _),
    "q_text_langid" -> (langId _))

  def oracle: Map[String, String] = Map(
    "q_text_heaps_fit" ->
      """WITH st AS (
        |  SELECT source, tok, COUNT(*) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(SUM(c) AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS x,
        |    CAST(round(ln(CAST(COUNT(*) AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS y
        |  FROM st GROUP BY source),
        |g AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        |  FROM pts),
        |d AS (
        |  SELECT n, sx, sy,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n
        |      AS vxx,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n
        |      AS vyy,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n
        |      AS vxy
        |  FROM g)
        |SELECT n AS n_sources,
        |  CASE WHEN vxx > 0.0 THEN
        |    CAST(floor((vxy / vxx) * 1e6) AS BIGINT) / 1e6 END AS beta,
        |  CASE WHEN vxx > 0.0 THEN
        |    CAST(floor((CAST(sy AS DOUBLE) -
        |      (vxy / vxx) * CAST(sx AS DOUBLE)) / n * 1e6) AS BIGINT)
        |      / 1e6 END AS log_k,
        |  CASE WHEN vxx > 0.0 AND vyy > 0.0 THEN
        |    CAST(floor((vxy * vxy / (vxx * vyy)) * 1e6) AS BIGINT) / 1e6
        |  END AS r2
        |FROM d""".stripMargin,
    "q_text_keyness" ->
      """WITH tf AS (
        |  SELECT tok,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE source IN ('src0', 'src1'))
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS n0,
        |  CAST(SUM(b) AS BIGINT) AS n1 FROM tf),
        |g AS (
        |  SELECT tok, a, b, n0 - a AS c, n1 - b AS d, n0, n1, n0 + n1 AS n
        |  FROM tf CROSS JOIN tot),
        |t AS (
        |  SELECT tok, a, b,
        |    (CASE WHEN a > 0 THEN a * CAST(round(ln(
        |        CAST(a*n AS DOUBLE) / CAST((a+b)*n0 AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) +
        |    (CASE WHEN b > 0 THEN b * CAST(round(ln(
        |        CAST(b*n AS DOUBLE) / CAST((a+b)*n1 AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) +
        |    (CASE WHEN c > 0 THEN c * CAST(round(ln(
        |        CAST(c*n AS DOUBLE) / CAST((c+d)*n0 AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) +
        |    (CASE WHEN d > 0 THEN d * CAST(round(ln(
        |        CAST(d*n AS DOUBLE) / CAST((c+d)*n1 AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
        |      AS g2x2,
        |    CASE WHEN a*n1 > b*n0 THEN 'src0' ELSE 'src1' END
        |      AS overused_in
        |  FROM g)
        |SELECT tok, a AS count_src0, b AS count_src1,
        |  CAST(floor(CAST(g2x2 AS DOUBLE) * 2.0 * 1e6) AS BIGINT) / 1e6
        |    AS g2,
        |  overused_in
        |FROM t ORDER BY g2 DESC, tok LIMIT 20""".stripMargin,
    "q_text_burstiness" ->
      """WITH dc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |g AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c*c) AS BIGINT) AS s2
        |  FROM dc GROUP BY 1 HAVING COUNT(*) >= 50)
        |SELECT tok, df, s1 AS total_tf,
        |  CAST(floor(CAST(s1 AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1e6)
        |    AS BIGINT) / 1e6 AS mean_tf,
        |  CAST(floor(CAST(n_docs*s2 - s1*s1 AS DOUBLE) /
        |    CAST(n_docs*s1 AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS vmr
        |FROM g CROSS JOIN n
        |ORDER BY vmr DESC, tok LIMIT 20""".stripMargin,
    "q_text_rake" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(a) AS tok,
         |    generate_subscripts(a, 1) AS pos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS a
         |        FROM documents)),
         |m AS (
         |  SELECT doc_id, pos, tok,
         |    CASE WHEN list_contains(${Stopwords.duckdbArray}, tok)
         |      THEN 1 ELSE 0 END AS is_stop
         |  FROM tk),
         |seg0 AS (
         |  SELECT doc_id, pos, tok, is_stop,
         |    CAST(SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS BIGINT) AS pid
         |  FROM m),
         |seg AS (
         |  SELECT doc_id, pos, tok, pid,
         |    CAST(COUNT(*) OVER (PARTITION BY doc_id, pid) AS BIGINT)
         |      AS plen
         |  FROM seg0 WHERE is_stop = 0),
         |ws AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
         |    CAST(SUM(plen) AS BIGINT) AS deg
         |  FROM seg GROUP BY 1),
         |ph AS (
         |  SELECT seg.doc_id, seg.pid,
         |    string_agg(seg.tok, ' ' ORDER BY seg.pos) AS phrase,
         |    CAST(COUNT(*) AS BIGINT) AS n_words,
         |    SUM(CAST(round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 6)
         |      AS DECIMAL(18,6))) AS score
         |  FROM seg JOIN ws ON seg.tok = ws.tok
         |  GROUP BY 1, 2)
         |SELECT phrase, MAX(n_words) AS n_words,
         |  CAST(COUNT(*) AS BIGINT) AS n_occur,
         |  CAST(MAX(score) AS DOUBLE) AS score
         |FROM ph GROUP BY 1
         |ORDER BY score DESC, phrase LIMIT 20""".stripMargin,
    "q_text_zipf_fit" ->
      """WITH f AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |c AS (SELECT t, COUNT(*) AS c FROM f GROUP BY 1
        |      ORDER BY c DESC, t LIMIT 1000),
        |r AS (
        |  SELECT CAST(round(ln(CAST(ROW_NUMBER() OVER
        |      (ORDER BY c DESC, t) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM c),
        |g AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        |  FROM r),
        |d AS (
        |  SELECT n, sx, sy,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n
        |      AS vxx,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/n
        |      AS vyy,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n
        |      AS vxy
        |  FROM g)
        |SELECT n AS n_types,
        |  CASE WHEN vxx > 0.0 THEN
        |    CAST(floor((vxy / vxx) * 1e6) AS BIGINT) / 1e6 END AS slope,
        |  CASE WHEN vxx > 0.0 THEN
        |    CAST(floor(((CAST(sy AS DOUBLE) -
        |      (vxy / vxx) * CAST(sx AS DOUBLE)) / n) * 1e6) AS BIGINT)
        |      / 1e6 END AS intercept,
        |  CASE WHEN vxx > 0.0 AND vyy > 0.0 THEN
        |    CAST(floor((vxy * vxy / (vxx * vyy)) * 1e6) AS BIGINT) / 1e6
        |  END AS r2
        |FROM d""".stripMargin,
    "q_text_concordance" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |p AS (
        |  SELECT doc_id, a, unnest(a) AS tok,
        |    generate_subscripts(a, 1) AS pos
        |  FROM t)
        |SELECT doc_id, CAST(pos AS INT) AS pos,
        |  -- DuckDB's out-of-range slice is NULL, Spark's is empty
        |  coalesce(array_to_string(a[greatest(1, pos - 3):pos - 1], ' '),
        |    '') AS left_ctx,
        |  coalesce(array_to_string(a[pos + 1:least(len(a), pos + 3)], ' '),
        |    '') AS right_ctx
        |FROM p WHERE tok = 'spark'
        |ORDER BY doc_id, pos""".stripMargin,
    "q_text_fuzzy_entity" ->
      """WITH d AS (SELECT p_name, COUNT(*) AS n FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS sim,
        |  a.n AS n_a, b.n AS n_b
        |FROM d a JOIN d b ON a.p_name < b.p_name
        |  AND substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.85
        |ORDER BY name_a, name_b""".stripMargin,
    "q_text_bigram_llr" ->
      """WITH bgs AS (
        |  SELECT unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')), 1)),
        |    i -> string_split(text, ' ')[CAST(i AS INT)] || ' ' ||
        |         string_split(text, ' ')[CAST(i + 1 AS INT)])) AS bg
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bc AS (
        |  SELECT bg, string_split(bg, ' ')[1] AS a,
        |    string_split(bg, ' ')[2] AS b, COUNT(*) AS k11
        |  FROM bgs GROUP BY 1, 2, 3),
        |ra AS (SELECT a, CAST(SUM(k11) AS BIGINT) AS ca FROM bc GROUP BY 1),
        |cbm AS (SELECT b, CAST(SUM(k11) AS BIGINT) AS cbm FROM bc GROUP BY 1),
        |tt AS (SELECT CAST(SUM(k11) AS BIGINT) AS t FROM bc),
        |cells AS (
        |  SELECT bg, k11, ca, cbm, t,
        |    ca - k11 AS k12, cbm - k11 AS k21,
        |    t - ca - cbm + k11 AS k22
        |  FROM bc JOIN ra USING (a) JOIN cbm USING (b) CROSS JOIN tt
        |  WHERE k11 >= 5),
        |scored AS (
        |  SELECT bg, k11, ca, cbm,
        |    (CASE WHEN k11 > 0 THEN k11 * CAST(round(ln(
        |        CAST(k11*t AS DOUBLE) / CAST(ca*cbm AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) +
        |    (CASE WHEN k12 > 0 THEN k12 * CAST(round(ln(
        |        CAST(k12*t AS DOUBLE) / CAST(ca*(t-cbm) AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) +
        |    (CASE WHEN k21 > 0 THEN k21 * CAST(round(ln(
        |        CAST(k21*t AS DOUBLE) / CAST((t-ca)*cbm AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) +
        |    (CASE WHEN k22 > 0 THEN k22 * CAST(round(ln(
        |        CAST(k22*t AS DOUBLE) / CAST((t-ca)*(t-cbm) AS DOUBLE)), 6)
        |        AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
        |      AS g2x2
        |  FROM cells)
        |SELECT bg, k11 AS c_ab, ca AS c_a_first, cbm AS c_b_second,
        |  CAST(floor(CAST(g2x2 AS DOUBLE) * 2.0 * 1e6) AS BIGINT) / 1e6
        |    AS g2
        |FROM scored ORDER BY g2 DESC, bg LIMIT 20""".stripMargin,
    "q_text_bigram_pmi" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
        |nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni),
        |bgs AS (
        |  SELECT unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')), 1)),
        |    i -> string_split(text, ' ')[CAST(i AS INT)] || ' ' ||
        |         string_split(text, ' ')[CAST(i + 1 AS INT)])) AS bg
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bc AS (SELECT bg, COUNT(*) AS c_ab FROM bgs GROUP BY 1),
        |nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_big FROM bc),
        |scored AS (
        |  SELECT bg, c_ab, ua.c AS c_a, ub.c AS c_b,
        |    round(ln((c_ab / n_big) /
        |      ((ua.c / n_uni) * (ub.c / n_uni))), 6) AS pmi
        |  FROM bc
        |  JOIN uni ua ON string_split(bg, ' ')[1] = ua.tok
        |  JOIN uni ub ON string_split(bg, ' ')[2] = ub.tok
        |  CROSS JOIN nu CROSS JOIN nb
        |  WHERE c_ab >= 5)
        |SELECT bg, c_ab, c_a, c_b, pmi FROM scored
        |ORDER BY pmi DESC, bg LIMIT 20""".stripMargin,
    "q_text_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |uni AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM toks)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 6)
        |                      AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_logprob
        |FROM toks JOIN uni USING (token) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_ppl_bucket" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |uni AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM toks),
        |lp AS (
        |  SELECT doc_id,
        |    round(CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / n_total), 6)
        |                        AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |      AS avg_logprob
        |  FROM toks JOIN uni USING (token) CROSS JOIN n
        |  GROUP BY doc_id),
        |b AS (
        |  SELECT d.lang, lp.avg_logprob,
        |    ntile(10) OVER (PARTITION BY d.lang
        |      ORDER BY lp.avg_logprob DESC, lp.doc_id) AS bucket
        |  FROM lp JOIN documents d USING (doc_id))
        |SELECT lang, bucket, COUNT(*) AS n_docs,
        |  round(min(avg_logprob), 6) AS lp_min,
        |  round(max(avg_logprob), 6) AS lp_max,
        |  CASE WHEN bucket <= 7 THEN 1 ELSE 0 END AS kept
        |FROM b GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin,
    "q_text_sentences" ->
      """WITH ex AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text, '[^.!?]+[.!?]*') AS l
        |  FROM documents),
        |raw AS (
        |  SELECT doc_id, unnest(l) AS r,
        |    unnest(range(0, len(l))) AS sent_idx
        |  FROM ex)
        |SELECT doc_id, sent_idx, len(trim(r)) AS n_chars,
        |  trim(r) AS sentence
        |FROM raw WHERE len(trim(r)) > 0
        |ORDER BY doc_id, sent_idx""".stripMargin,
    "q_text_winnow" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR len(text) < 8 THEN CAST([] AS BIGINT[])
        |    ELSE list_transform(range(1, len(text) - 8 + 2), i ->
        |      list_reduce(
        |        list_transform(range(0, 8), j ->
        |          CAST(unicode(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)),
        |        (acc, c) -> (acc * 257 + c) % 1000000007))
        |    END AS hashes
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hashes) = 0 THEN CAST([] AS BIGINT[])
        |         WHEN len(hashes) < 16 THEN [list_min(hashes)]
        |         ELSE list_transform(range(1, len(hashes) - 16 + 2), s ->
        |                list_min(hashes[CAST(s AS INT):CAST(s + 15 AS INT)]))
        |    END AS fps
        |  FROM h)
        |SELECT doc_id, len(list_distinct(fps)) AS n_fingerprints,
        |  list_min(fps) AS fp_min
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang, lower(text) AS lt
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(lt) - 1, 1)),
        |      i -> substr(lt, CAST(i AS INT), 3))) AS g
        |  FROM t),
        |c AS (
        |  SELECT doc_id,
        |    COUNT(*) FILTER (WHERE g IN ('der','sch','ein','ich','und','die','cht','ung','gen')) AS de,
        |    COUNT(*) FILTER (WHERE g IN ('the','and','ing','ion','ent','her','for','tha','ter')) AS en,
        |    COUNT(*) FILTER (WHERE g IN ('que','los','ión','nte','con','ado','una','par','ent')) AS es,
        |    COUNT(*) FILTER (WHERE g IN ('les','que','ent','des','une','ait','eur','our','ois')) AS fr,
        |    COUNT(*) FILTER (WHERE g IN ('shi','zhe','ian','ang','eng','ing','uan','hao','wei')) AS zh
        |  FROM tri GROUP BY doc_id)
        |SELECT t.doc_id, t.labeled_lang,
        |  CASE WHEN coalesce(greatest(de, en, es, fr, zh), 0) = 0 THEN 'unknown'
        |       WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |       WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |       WHEN es >= fr AND es >= zh THEN 'es'
        |       WHEN fr >= zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |FROM t LEFT JOIN c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (
        |  SELECT token, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |  WHERE tf.doc_id < 50),
        |ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, token, tf, df, tfidf
        |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_text_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0,
        |      CAST(1 + ceil(greatest(n - 50, 0) / 40.0) AS BIGINT) - 1))
        |      AS chunk_id
        |  FROM d)
        |SELECT doc_id, chunk_id,
        |  CAST(least(50, n - chunk_id * 40) AS INTEGER) AS n_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 40 + 1,
        |    chunk_id * 40 + least(50, n - chunk_id * 40)), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_text_pack" ->
      """SELECT doc_id, lang, n_tokens,
        |  CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    SUM(len(string_split(text, ' '))) OVER
        |      (PARTITION BY lang ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_text_edit_distance" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  levenshtein(a.text, b.text) AS edit_dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang
        | AND CAST(floor(a.n_chars / 100) AS BIGINT)
        |     = CAST(floor(b.n_chars / 100) AS BIGINT)
        | AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 10
        |WHERE levenshtein(a.text, b.text) <= 60
        |ORDER BY a_id, b_id""".stripMargin,
    "q_text_clean" ->
      s"""SELECT doc_id,
         |  array_to_string(list_filter(regexp_extract_all(lower(text), '\\w+'),
         |    t -> NOT list_contains(${Stopwords.duckdbArray}, t)), ' ')
         |    AS cleaned_nostem
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_token_stats" ->
      """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "q_text_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_chars, text, toks, len(toks) AS n,
        |    CASE WHEN len(toks) < 3 THEN NULL
        |         ELSE list_transform(generate_series(1, len(toks) - 2),
        |              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |    END AS sh
        |  FROM d),
        |m AS (
        |  SELECT doc_id, n_chars, n,
        |    CASE WHEN sh IS NULL THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
        |    END AS rep3,
        |    CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |      / n_chars AS digitf,
        |    CAST(len(list_filter(toks,
        |      t -> regexp_matches(t, '^[a-z]+$'))) AS DOUBLE) / len(toks)
        |      AS alphaf
        |  FROM s),
        |dom AS (
        |  SELECT doc_id, MAX(c) AS top_tok FROM (
        |    SELECT doc_id, token, COUNT(*) AS c FROM (
        |      SELECT doc_id, unnest(toks) AS token FROM d) GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT m.doc_id, CAST(m.n AS INTEGER) AS n_tokens,
        |  round(m.rep3, 6) AS rep3_frac,
        |  round(CAST(dom.top_tok AS DOUBLE) / m.n, 6) AS dominance,
        |  round(m.digitf, 6) AS digit_frac,
        |  round(m.alphaf, 6) AS alpha_frac,
        |  CAST(m.rep3 <= 0.2 AND CAST(dom.top_tok AS DOUBLE) / m.n <= 0.2
        |    AND m.digitf <= 0.2 AND m.alphaf >= 0.6 AS INTEGER) AS keep
        |FROM m JOIN dom ON m.doc_id = dom.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    "q_text_pii_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g'),
         |    '$LongDigitsRe', '<NUMBER>', 'g') AS redacted,
         |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
         |  len(regexp_extract_all(text, '$Ipv4Re')) AS n_ips,
         |  len(regexp_extract_all(text, '$LongDigitsRe')) AS n_numbers
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_burrows_delta" ->
      """WITH sw AS (
        |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0 GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t
        |        FROM sw GROUP BY 1),
        |mfw AS (SELECT w FROM (SELECT w, SUM(c) AS cw FROM sw GROUP BY 1
        |        ORDER BY cw DESC, w LIMIT 150)),
        |f AS (
        |  SELECT tot.source, mfw.w,
        |    CAST(COALESCE(sw.c, 0) * 1000000 // tot.t AS BIGINT) AS f6
        |  FROM tot CROSS JOIN mfw
        |  LEFT JOIN sw ON sw.source = tot.source AND sw.w = mfw.w),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src FROM tot),
        |stats AS (
        |  SELECT * FROM (
        |    SELECT w, n_src,
        |      CAST(n_src * CAST(SUM(f6 * f6) AS BIGINT) -
        |        CAST(SUM(f6) AS BIGINT) * CAST(SUM(f6) AS BIGINT)
        |        AS BIGINT) AS varn
        |    FROM f, ns GROUP BY w, n_src)
        |  WHERE varn > 0),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |    CAST(round(CAST(s.n_src AS DOUBLE) *
        |      CAST(abs(a.f6 - b.f6) AS DOUBLE) /
        |      sqrt(CAST(s.varn AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
        |  FROM f a JOIN f b ON a.w = b.w AND a.source < b.source
        |  JOIN stats s ON a.w = s.w)
        |SELECT sa AS source_a, sb AS source_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(floor(CAST(SUM(term) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) * 1e6) AS BIGINT) / 1e6 AS delta
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(string_split(text, ' '),
        |      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> regexp_matches(w, '^[^aeiouy]*[aeiouy]*[^aeiouy]*$')))
        |      AS BIGINT) AS n_mono
        |  FROM documents)
        |SELECT doc_id, n_words, n_syllables, n_mono,
        |  CAST(floor(CAST(n_syllables AS DOUBLE) /
        |    CAST(n_words AS DOUBLE) * 1e6) AS BIGINT) / 1e6
        |    AS syll_per_word,
        |  CAST(floor((20.0 - 15.0 * CAST(n_mono AS DOUBLE) /
        |    CAST(n_words AS DOUBLE)) * 1e6) AS BIGINT) / 1e6
        |    AS forcast_grade
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_text_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))
        |    AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id, n_chars,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  round(CAST(len(list_filter(string_split(text, ' '),
         |      t -> list_contains(${Stopwords.duckdbArray}, t))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio,
         |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS unique_ratio,
         |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
