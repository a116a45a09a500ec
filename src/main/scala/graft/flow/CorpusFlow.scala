package graft.flow

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The LLM-corpus curation pipeline on the graft orchestrator — the
  * north-star job (SURVEY.md §2.4) expressed as a Luigi-style DAG, the
  * way a production shop actually runs it: batched, incremental,
  * idempotent, resumable. Composes the engine's own operator families
  * (quality gates, incremental exact dedup, quota mixing) as TASKS
  * with persisted targets, rather than as one monolithic plan — each
  * batch is restartable, a crashed run resumes at the first missing
  * target, and a re-run executes nothing (O3).
  *
  *   PlanBatches ─► IngestBatch(i) ─► QualityGate(i) ─► DedupBatch(i)
  *                          (i-chain: DedupBatch(i) requires
  *                           FpIndex(i-1); FpIndex(i) requires
  *                           DedupBatch(i) — one atomic target each)
  *   DedupBatch(i) ─► NearDupBatch(i) ─► [ImageDedupBatch(i)] ─►
  *                    DecontaminateBatch(i)
  *                          (ImageDedupBatch is the config-gated
  *                           multimodal stage: perceptual image
  *                           near-dup drop via the build-once dHash
  *                           pair artifact)
  *                          (second i-chain: NearDupBatch(i) requires
  *                           BandIndex(i-1); BandIndex(i) requires
  *                           NearDupBatch(i) — the MinHash band index
  *                           made incremental the same way;
  *                           DecontaminateBatch also requires the
  *                           once-built BenchmarkShingles artifact)
  *   DecontaminateBatch(i) ─► MixBatch(i) ─► PackBatch(i) ─► CorpusReport
  *                          (third i-chain: PackBatch(i) requires
  *                           TokenLedger(i-1); TokenLedger(i) requires
  *                           PackBatch(i) — the 1-row cumulative token
  *                           total that lets sequences tile across
  *                           batches; the report's deps stay DYNAMIC,
  *                           one PackBatch per manifest line)
  *
  * The batch COUNT is data-driven: PlanBatches reads the corpus
  * min/max doc_id and writes the batch-boundary manifest; every
  * downstream task takes its slice from that manifest, and
  * CorpusReport discovers its dependency set from it at runtime
  * (Task.dynamicRequires — Luigi's `yield`). Batch slices OVERLAP by
  * construction-tolerant design: re-ingested id ranges are harmless
  * because the dedup chain drops any fingerprint already in the
  * cumulative index (the incremental-dedup discipline of
  * q_dedup_incremental applied across batches).
  *
  * Scale notes: every task is one narrow pass or one partial-agg'd
  * shuffle; the only cross-batch state is the one-column fp index and
  * the rep/band index — both a fraction of corpus bytes (the 100 TB
  * shape — the corpus is never re-scanned, only the new batch + the
  * indexes). */
final case class CorpusConfig(baseDir: String, sfDir: String,
                              sliceSize: Long = 200, overlap: Long = 50,
                              quotaPerLang: Long = 30,
                              evalEvery: Long = 50,
                              // DSIR selection stage knob: when set,
                              // MixBatch consumes DsirSelectBatch and
                              // raw-pool docs below this w_micro are
                              // dropped (target-source docs pass).
                              dsirMinMicro: Option[Long] = None,
                              // crawl-URL dedup knob: when on, a
                              // UrlDedupBatch stage (canonical-URL
                              // first-seen-wins, cumulative UrlIndex
                              // chain) runs at the HEAD of the ladder
                              // before the quality gate — the cheapest
                              // dedup pass of a web corpus.
                              urlDedup: Boolean = false,
                              // multimodal knob: when on, an
                              // ImageDedupBatch stage runs between
                              // NearDupBatch and DecontaminateBatch —
                              // perceptual (dHash ≤6 Hamming) image
                              // near-dup drop via the build-once image
                              // pair artifact (min-parent rule: the
                              // larger id of every confirmed pair
                              // drops, corpus-wide, so batches agree
                              // with first-seen-wins).
                              imageDedup: Boolean = false,
                              // consensus upgrade of the media stage:
                              // when on (with imageDedup), the stage
                              // drops by the ≥2-of-3 cross-modal
                              // policy (q_multimodal_keep_list's rule)
                              // instead of image-only — a
                              // single-modality collision survives,
                              // a replayed asset collapses.
                              mediaConsensus: Boolean = false,
                              // readability knob: when set, the
                              // quality gate ALSO drops docs whose
                              // FORCAST grade (q_text_readability's
                              // monosyllable formula — built for
                              // punctuation-less text) exceeds this
                              // ceiling; stays a narrow per-row
                              // predicate inside the same gate pass.
                              maxForcastGrade: Option[Double] = None) {
  require(!mediaConsensus || imageDedup,
    "mediaConsensus upgrades the media stage — it requires imageDedup " +
      "on (the stage it configures)")
  require(sliceSize > overlap,
    s"sliceSize ($sliceSize) must exceed overlap ($overlap) — " +
      "a non-positive step would never advance the batch ladder")
  require(evalEvery > 1,
    s"evalEvery ($evalEvery) must exceed 1 — doc_id % 1 == 0 would " +
      "declare the whole corpus an eval set and decontaminate it away")
}

object CorpusFlow {

  /** Read the boundary manifest: one "start,end" line per batch. */
  private[flow] def readManifest(path: String): Seq[(Long, Long)] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))).trim.split("\n").toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(a, b) = l.split(","); (a.toLong, b.toLong)
      }

  /** Data-driven batch planning: slice [min, max] doc_id into
    * `sliceSize` ranges stepping by sliceSize - overlap (overlap
    * simulates the re-delivery a real feed produces; dedup absorbs
    * it). The manifest is the tiny driver-sized artifact every other
    * task derives its work-list from. */
  final case class PlanBatches(cfg: CorpusConfig) extends Task {
    val output: FileTarget = FileTarget(s"${cfg.baseDir}/batches.manifest")
    def run(spark: SparkSession): Unit = {
      val r = graft.Tables.documents(spark, cfg.sfDir)
        .agg(min("doc_id"), max("doc_id")).head
      if (r.isNullAt(0) || r.isNullAt(1))
        throw new IllegalArgumentException(
          s"documents table at ${cfg.sfDir} is empty — nothing to batch " +
            "(misconfigured sfDir?)")
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val step = cfg.sliceSize - cfg.overlap
      // Schedule only NON-EMPTY slices (round 17): a sparse id space —
      // re-keyed shards, per-source ingest offsets, tombstoned ranges —
      // must not fan out empty batch tasks; iterating the raw [lo, hi]
      // range over the 1e9-offset sf1 synth produced a million-line
      // manifest of which ten lines held documents. One distinct-agg
      // collects the OCCUPIED step-buckets (driver-bounded: no larger
      // than the dense manifest this method already materializes); a
      // start survives if its [s, s+slice) window touches one. Dense
      // corpora are unchanged — every bucket is occupied.
      val span = (cfg.sliceSize + step - 1) / step // windows covering an id
      val occupied = graft.Tables.documents(spark, cfg.sfDir)
        .select(explode(expr(
          s"filter(transform(sequence(0, ${span - 1}), " +
            s"d -> (doc_id - ${lo}L) div ${step}L - d), " +
            s"j -> j >= 0 AND doc_id < ${lo}L + j * ${step}L + " +
            s"${cfg.sliceSize}L)")).as("j"))
        .distinct().collect().map(_.getLong(0)).toSet
      val starts = Iterator.iterate(lo)(_ + step).takeWhile(_ <= hi)
        .zipWithIndex
        .filter { case (_, j) => occupied(j.toLong) }
        .map(_._1).toSeq
      output.atomicWrite { tmp =>
        java.nio.file.Files.writeString(tmp,
          starts.map(s => s"$s,${s + cfg.sliceSize}").mkString("\n"))
      }
    }
  }

  /** One ingested batch: the manifest's i-th doc_id range, persisted as
    * the batch's raw parquet (at 100 TB: the day's feed landing). */
  final case class IngestBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"IngestBatch($i)"
    override def requires: Seq[Task] = Seq(PlanBatches(cfg))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/raw")
    def run(spark: SparkSession): Unit = {
      val (lo, hi) = readManifest(requires.head.output.uri)(i)
      output.atomicWrite { tmp =>
        graft.Tables.documents(spark, cfg.sfDir)
          .filter(col("doc_id") >= lo && col("doc_id") < hi)
          .write.parquet(tmp)
      }
    }
  }

  /** Config-gated crawl-URL dedup at the HEAD of the ladder (the
    * cheapest dedup pass a web corpus has — URL noise is resolved
    * before any content hashing): per canonical URL
    * ([[graft.llm.DedupOps.canonicalUrl]], first-seen-wins by doc_id),
    * keep only rows whose canonical is not already claimed by the
    * cumulative [[UrlIndex]] (batches 0..i-1's survivors — the FpIndex
    * i-chain discipline). The fixture derives its synthetic crawl URL;
    * a real crawl carries the column and drops that one line. */
  final case class UrlDedupBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"UrlDedupBatch($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(IngestBatch(cfg, i))
      else Seq(IngestBatch(cfg, i), UrlIndex(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/url_deduped")
    def run(spark: SparkSession): Unit = {
      import org.apache.spark.sql.expressions.Window
      val batch = Committed.parquet(spark, requires.head.output.uri)
        .withColumn("curl", graft.llm.DedupOps.canonicalUrl(
          graft.llm.DedupOps.syntheticCrawlUrl(
            col("doc_id"), col("source"), col("lang"))))
      val withinFirst = batch.withColumn("rn",
          row_number().over(Window.partitionBy(col("curl"))
            .orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      val kept =
        if (i == 0) withinFirst
        else withinFirst.join(
          Committed.parquet(spark, requires(1).output.uri), Seq("curl"),
          "left_anti")
      output.atomicWrite { tmp => kept.write.parquet(tmp) }
    }
  }

  /** Cumulative canonical-URL index after batch i — one column, read
    * back from the batch UrlDedupBatch just wrote (never recomputed);
    * the FpIndex discipline applied to the URL chain. */
  final case class UrlIndex(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"UrlIndex($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(UrlDedupBatch(cfg, i))
      else Seq(UrlDedupBatch(cfg, i), UrlIndex(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/url_index")
    def run(spark: SparkSession): Unit = {
      val batchUrls = Committed.parquet(spark, requires.head.output.uri)
        .select(col("curl"))
      val newIndex =
        if (i == 0) batchUrls.distinct()
        else Committed.parquet(spark, requires(1).output.uri)
          .union(batchUrls).distinct()
      output.atomicWrite { tmp => newIndex.write.parquet(tmp) }
    }
  }

  /** Gopher-lite quality gate over one batch: token floor + unique
    * ratio + alpha ratio, a pure narrow map (filters reach the scan). */
  final case class QualityGate(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"QualityGate($i)"
    override def requires: Seq[Task] =
      if (cfg.urlDedup) Seq(UrlDedupBatch(cfg, i))
      else Seq(IngestBatch(cfg, i))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/clean")
    def run(spark: SparkSession): Unit = {
      val toks = split(col("text"), " ")
      output.atomicWrite { tmp =>
        val base = Committed.parquet(spark, requires.head.output.uri)
          .drop("curl") // the URL stage's working column, not corpus data
          .withColumn("n_tokens", size(toks))
          .withColumn("unique_ratio",
            size(array_distinct(toks)).cast("double") /
              size(toks).cast("double"))
          .filter(col("n_tokens") >= 10 && col("unique_ratio") >= 0.3)
          .drop("unique_ratio")
        // config-gated FORCAST readability ceiling (q_text_readability
        // semantics): still one narrow per-row predicate in the same
        // gate pass — no extra scan, no shuffle
        val gated = cfg.maxForcastGrade.fold(base) { bound =>
          base.withColumn("n_mono",
              expr("""cast(size(filter(split(text, ' '),
                  w -> w rlike '^[^aeiouy]*[aeiouy]*[^aeiouy]*$'))
                as bigint)"""))
            .filter(lit(20.0) -
              lit(15.0) * col("n_mono").cast("double") /
                col("n_tokens").cast("double") <= bound)
            .drop("n_mono")
        }
        gated.write.parquet(tmp)
      }
    }
  }

  /** Incremental exact dedup: batch i keeps only docs whose content
    * fingerprint is NOT in the cumulative index (batches 0..i-1 via
    * the FpIndex chain, plus earlier rows of this batch via
    * min-doc_id-per-fp). ONE atomic target per task (the resumability
    * contract: a crash can never leave a task complete with a sibling
    * artifact missing — the index is [[FpIndex]]'s own target). The
    * FpIndex(i-1) dependency makes the schedule correct under any
    * worker count. */
  final case class DedupBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"DedupBatch($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(QualityGate(cfg, i))
      else Seq(QualityGate(cfg, i), FpIndex(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/deduped")
    def run(spark: SparkSession): Unit = {
      import org.apache.spark.sql.expressions.Window
      val batch = Committed.parquet(spark, requires.head.output.uri)
        .withColumn("fp", graft.llm.DedupOps.contentFp(col("text")))
      val withinFirst = batch.withColumn("rn",
          row_number().over(Window.partitionBy(col("fp"))
            .orderBy(col("doc_id"))))
        .filter(col("rn") === 1).drop("rn")
      val kept =
        if (i == 0) withinFirst
        else withinFirst.join(
          Committed.parquet(spark, requires(1).output.uri), Seq("fp"), "left_anti")
      output.atomicWrite { tmp => kept.write.parquet(tmp) }
    }
  }

  /** The cumulative fingerprint index after batch i: the prior index
    * unioned with batch i's SURVIVORS, read back from the parquet
    * DedupBatch just wrote (never recomputed — the dedup plan runs
    * once per batch). A one-column artifact: the only cross-batch
    * state, driver-free and restart-safe. */
  final case class FpIndex(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"FpIndex($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(DedupBatch(cfg, i))
      else Seq(DedupBatch(cfg, i), FpIndex(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/fp_index")
    def run(spark: SparkSession): Unit = {
      val batchFps = Committed.parquet(spark, requires.head.output.uri)
        .select(col("fp"))
      val newIndex =
        if (i == 0) batchFps.distinct()
        else Committed.parquet(spark, requires(1).output.uri)
          .union(batchFps).distinct()
      output.atomicWrite { tmp => newIndex.write.parquet(tmp) }
    }
  }

  /** THE shared shingle-fingerprint recipe: doc columns + `sh` (the
    * distinct 3-gram shingle set) + `shfp` (sha2 of the NUL-joined
    * sorted set — the content key of the near-dup index). NearDupBatch
    * and BandIndex both go through HERE by construction: the cumulative
    * band index is only correct while both sides compute byte-identical
    * shfp, and a one-site edit (separator, sort, extra key column)
    * would otherwise make batch i+1 silently stop matching index i.
    * Docs with no shingles (< 3 tokens) are absent from the result. */
  private[flow] def withShingleFp(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("sh", graft.llm.DedupOps.shingleCol(col("text")))
      .filter(size(col("sh")) > 0)
      .withColumn("shfp",
        sha2(concat_ws("\u0000", array_sort(col("sh"))), 256))

  /** The 21-band LSH rows of a reps frame — shared by both index
    * writers for the same drift-lockstep reason as [[withShingleFp]]. */
  private[flow] def bandsOf(reps: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    reps.select(col("shfp"),
        posexplode(graft.llm.DedupOps.bandCol(col("sh"))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandhash")
      .select(col("band"), col("bandhash"), col("shfp"))

  /** Incremental NEAR-dup over one exact-deduped batch: drops (a) any
    * doc whose shingle set verifies Jaccard >= 0.5 against the
    * cumulative band index (batches 0..i-1's survivors, via the
    * BandIndex chain — the q_dedup_incremental_minhash discipline as a
    * TASK), and (b) within the batch, any doc that near-dups a
    * SMALLER-doc_id representative (the deterministic min-parent rule —
    * no iteration, one band self-join). Docs under 3 tokens have no
    * shingles and can never near-dup: kept unconditionally. Candidates
    * come from 21x3 LSH band collisions and are verified by exact
    * Jaccard on the representatives' shingle sets, so the batch is
    * never all-pairs joined — the 100 TB shape. */
  final case class NearDupBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"NearDupBatch($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(DedupBatch(cfg, i))
      else Seq(DedupBatch(cfg, i), BandIndex(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/near_deduped")
    def run(spark: SparkSession): Unit = {
      import graft.llm.DedupOps
      // raw carries NO shingle UDF: the shingle-free union leg at the
      // end reads it via an anti join on doc_id instead of re-running
      // the expensive shingle pass just to find the sub-3-token docs
      val raw = Committed.parquet(spark, requires.head.output.uri)
      val shingled = withShingleFp(raw)
        .localCheckpoint() // feeds reps AND the final member filter
      val reps = shingled.groupBy(col("shfp"))
        .agg(min_by(col("sh"), col("doc_id")).as("sh"),
          min(col("doc_id")).as("rep_id"))
        .localCheckpoint() // feeds bands + two verify legs + survivors
      val bands = reps.select(col("shfp"), col("rep_id"),
          posexplode(DedupOps.bandCol(col("sh"))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandhash")
      def verify(cand: org.apache.spark.sql.DataFrame,
                 otherSh: org.apache.spark.sql.DataFrame) =
        cand.join(reps.select(col("shfp"), col("sh").as("a_sh")), Seq("shfp"))
          .join(otherSh, Seq("o_shfp"))
          .filter(size(array_intersect(col("a_sh"), col("o_sh")))
            .cast("double") >=
            lit(0.5) * size(array_union(col("a_sh"), col("o_sh")))
              .cast("double"))
          .select(col("shfp")).distinct()
      // (a) cross-batch: collide batch bands with the cumulative index
      val crossDrop =
        if (i == 0) None
        else {
          val idx = requires(1).output.uri
          val idxBands = Committed.parquet(spark, s"$idx/bands")
            .select(col("band"), col("bandhash"), col("shfp").as("o_shfp"))
          val idxReps = Committed.parquet(spark, s"$idx/reps")
            .select(col("shfp").as("o_shfp"), col("sh").as("o_sh"))
          val cand = bands.select(col("band"), col("bandhash"), col("shfp"))
            .join(idxBands, Seq("band", "bandhash"))
            .select(col("shfp"), col("o_shfp")).distinct()
          Some(verify(cand, idxReps))
        }
      // (b) within-batch: min-parent — a rep drops iff it collides-and-
      // verifies against ANY smaller-rep_id rep (kept or not)
      val selfCand = bands.select(col("band"), col("bandhash"),
          col("shfp"), col("rep_id"))
        .join(bands.select(col("band"), col("bandhash"),
          col("shfp").as("o_shfp"), col("rep_id").as("o_rep")),
          Seq("band", "bandhash"))
        .filter(col("o_rep") < col("rep_id"))
        .select(col("shfp"), col("o_shfp")).distinct()
      val selfDrop = verify(selfCand,
        reps.select(col("shfp").as("o_shfp"), col("sh").as("o_sh")))
      val dropped = crossDrop.map(_.union(selfDrop).distinct())
        .getOrElse(selfDrop)
      // survivors: the min-id member of each surviving rep, plus every
      // shingle-free doc; original columns only (sh/shfp are stage-local)
      output.atomicWrite { tmp =>
        shingled
          .join(reps.select(col("shfp"), col("rep_id")), Seq("shfp"))
          .filter(col("doc_id") === col("rep_id"))
          .join(dropped, Seq("shfp"), "left_anti")
          .drop("sh", "shfp", "rep_id")
          // unionByName: the anti join FRONTS its using key (doc_id)
          // while this leg leads with whatever column DedupBatch's own
          // key-fronting left first — positional union would silently
          // zip doc_id against fp
          .unionByName(raw.join(shingled.select(col("doc_id")),
            Seq("doc_id"), "left_anti"))
          .write.parquet(tmp)
      }
    }
  }

  /** The cumulative near-dup band index after batch i: previous index
    * plus batch i's SURVIVORS (re-shingled from the parquet
    * NearDupBatch just wrote — batch-sized, never the corpus). One
    * atomic dir target holding two frames (`reps`: shfp + shingle set;
    * `bands`: 21 LSH hashes per rep) — the only cross-batch near-dup
    * state, a fraction of corpus bytes. Incremental in WORK as well as
    * state: only reps NEW to the index are banded; the previous bands
    * frame is unioned verbatim (banding the whole cumulative rep set
    * each batch would grow per-batch CPU linearly with corpus age —
    * O(N²) total across N batches — exactly what the fp-index chain's
    * union-only discipline avoids). */
  final case class BandIndex(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"BandIndex($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(NearDupBatch(cfg, i))
      else Seq(NearDupBatch(cfg, i), BandIndex(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/band_index")
    def run(spark: SparkSession): Unit = {
      val batchReps = withShingleFp(
          Committed.parquet(spark, requires.head.output.uri))
        .groupBy(col("shfp"))
        .agg(min_by(col("sh"), col("doc_id")).as("sh"))
      output.atomicWrite { tmp =>
        if (i == 0) {
          val matReps = batchReps.localCheckpoint() // feeds both writes
          matReps.write.parquet(s"$tmp/reps")
          bandsOf(matReps).write.parquet(s"$tmp/bands")
        } else {
          val prev = requires(1).output.uri
          val prevReps = Committed.parquet(spark, s"$prev/reps")
          // an shfp already indexed has identical shingle SET, hence
          // identical bands: the prev entry wins, nothing re-banded
          val fresh = batchReps.join(prevReps.select(col("shfp")),
              Seq("shfp"), "left_anti")
            .localCheckpoint() // feeds reps-union AND the new bands
          prevReps.unionByName(fresh).write.parquet(s"$tmp/reps")
          Committed.parquet(spark, s"$prev/bands").unionByName(bandsOf(fresh))
            .write.parquet(s"$tmp/bands")
        }
      }
    }
  }

  /** The benchmark shingle set the corpus is decontaminated against:
    * distinct whitespace 3-grams of the held-out eval slice (the
    * fixture stand-in doc_id % evalEvery = 0, default 50 — the
    * q_dedup_decontaminate
    * convention). Built ONCE per flow (eval suites are MBs next to the
    * corpus; at 100 TB this is the artifact every DecontaminateBatch
    * broadcasts), one atomic target. */
  final case class BenchmarkShingles(cfg: CorpusConfig) extends Task {
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/benchmark_shingles")
    def run(spark: SparkSession): Unit = {
      import graft.llm.DedupOps
      output.atomicWrite { tmp =>
        graft.Tables.documents(spark, cfg.sfDir)
          .filter(col("doc_id") % cfg.evalEvery === 0)
          .select(explode(DedupOps.shingleCol(col("text"))).as("shingle"))
          .distinct()
          .write.parquet(tmp)
      }
    }
  }

  /** Once-per-flow consensus drop-id set (r16 advisor item): in
    * mediaConsensus mode every ImageDedupBatch used to recompute the
    * corpus-wide ≥2-of-3 keep-list — three artifact pair reads +
    * min-label propagation + docs join — once PER BATCH, though the
    * result is corpus-wide and identical across all n batches. The
    * BenchmarkShingles discipline applies: the component pass runs
    * once here, and batches anti-join the persisted id set. */
  final case class ConsensusDropIds(cfg: CorpusConfig) extends Task {
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/consensus_drop_ids")
    def run(spark: SparkSession): Unit = {
      import graft.llm.MultimodalOps
      // drop = every doc the consensus keep-list does NOT keep
      // (non-min members of confirmed components) — all three
      // artifact pair frames, no codec work
      output.atomicWrite { tmp =>
        graft.Tables.documents(spark, cfg.sfDir).select(col("doc_id"))
          .join(MultimodalOps.multimodalKeepList(spark, cfg.sfDir)
              .select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          .write.parquet(tmp)
      }
    }
  }

  /** Perceptual image near-dup drop of one near-deduped batch (the
    * multimodal stage, config-gated like UrlDedupBatch/DsirSelectBatch):
    * the batch's docs drop when they are the LARGER side of any ≤6-
    * Hamming dHash pair — the min-parent rule NearDupBatch's selfDrop
    * uses, applied on the image axis. Pairs come from the build-once
    * image artifact (MultimodalOps.imagePhashPairs — rendered, encoded,
    * ImageIO-decoded and hashed ONCE per corpus generation), so the
    * stage itself is one ids-only anti join: no codec work per batch,
    * and every batch agrees with first-seen-wins because the pair
    * frame is corpus-wide. At 100 TB the artifact is the hash index a
    * media pipeline maintains anyway; the per-batch cost stays
    * batch-sized. */
  final case class ImageDedupBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"ImageDedupBatch($i)"
    override def requires: Seq[Task] =
      if (cfg.mediaConsensus)
        Seq(NearDupBatch(cfg, i), ConsensusDropIds(cfg))
      else Seq(NearDupBatch(cfg, i))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/image_deduped")
    def run(spark: SparkSession): Unit = {
      import graft.llm.MultimodalOps
      val batch = Committed.parquet(spark, requires.head.output.uri)
      val dropIds =
        if (cfg.mediaConsensus)
          // the ≥2-of-3 policy, read from the once-per-flow artifact
          Committed.parquet(spark, requires(1).output.uri)
        else
          // image-only: doc_b is the larger id of every scored pair
          // by construction (the min-parent rule)
          MultimodalOps.imagePhashPairs(spark, cfg.sfDir)
            .filter(col("hamming") <= 6)
            .select(col("doc_b").as("doc_id")).distinct()
      output.atomicWrite { tmp =>
        batch.join(dropIds, Seq("doc_id"), "left_anti")
          .write.parquet(tmp)
      }
    }
  }

  /** Benchmark decontamination of one near-deduped batch (GPT-3
    * appendix C / The Pile §6.3 any-overlap rule, the
    * q_dedup_decontaminate semantics as a TASK): drop (a) the eval
    * docs themselves — a training corpus must not contain its
    * benchmark — and (b) any doc sharing ≥ 1 distinct 3-gram shingle
    * with the benchmark set. The benchmark side BROADCASTS (eval
    * suites stay driver-small at any corpus scale); the batch side is
    * one narrow explode → broadcast semi-join → anti-join back on
    * doc_id — corpus text never shuffles. Docs under 3 tokens have no
    * shingles and cannot leak: kept. */
  final case class DecontaminateBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"DecontaminateBatch($i)"
    override def requires: Seq[Task] =
      Seq(if (cfg.imageDedup) ImageDedupBatch(cfg, i)
          else NearDupBatch(cfg, i),
        BenchmarkShingles(cfg))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/decontaminated")
    def run(spark: SparkSession): Unit = {
      import graft.llm.DedupOps
      val batch = Committed.parquet(spark, requires.head.output.uri)
        .filter(col("doc_id") % cfg.evalEvery =!= 0)
      val bench = Committed.parquet(spark, requires(1).output.uri)
      val leaked = batch
        .select(col("doc_id"), explode(DedupOps.shingleCol(col("text")))
          .as("shingle"))
        .join(broadcast(bench), Seq("shingle"), "left_semi")
        .select(col("doc_id")).distinct()
      output.atomicWrite { tmp =>
        batch.join(leaked, Seq("doc_id"), "left_anti")
          .write.parquet(tmp)
      }
    }
  }

  /** The target sources the DSIR stage treats as "curated" — the same
    * slice q_ml_dsir_select declares. */
  private[flow] val DsirTargetSources: Seq[String] =
    (0 until 5).map(i => s"src$i")

  /** One-time DSIR log-ratio table (Xie et al., NeurIPS 2023): per
    * unigram λ(t) = ln(p_tgt(t)/p_raw(t)) with add-one smoothing over
    * the joint vocabulary, target = [[DsirTargetSources]] of the RAW
    * corpus — the q_ml_dsir_select recipe persisted as a once-built
    * artifact (the BenchmarkShingles pattern: built once, joined by
    * every batch). round(ln,6)::DECIMAL(18,6) terms so downstream
    * per-doc sums are exact. */
  final case class DsirTable(cfg: CorpusConfig) extends Task {
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/dsir_table")
    def run(spark: SparkSession): Unit = {
      val isTgt = col("source").isin(DsirTargetSources: _*)
      val tok = graft.Tables.documents(spark, cfg.sfDir)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("t"))
      val cnt = tok.groupBy(col("t")).agg(
        sum(when(isTgt, 1L).otherwise(0L)).as("c_t"),
        sum(when(isTgt, 0L).otherwise(1L)).as("c_r"))
      val totals = cnt.agg(sum(col("c_t")).as("n_t"),
        sum(col("c_r")).as("n_r"), count(lit(1)).as("v")) // 1 row
      output.atomicWrite { tmp =>
        cnt.crossJoin(broadcast(totals))
          .select(col("t"), round(log(
            ((col("c_t") + 1L).cast("double") /
              (col("n_t") + col("v")).cast("double")) /
            ((col("c_r") + 1L).cast("double") /
              (col("n_r") + col("v")).cast("double"))), 6)
            .cast("decimal(18,6)").as("lam"))
          .write.parquet(tmp)
      }
    }
  }

  /** DSIR importance selection of one decontaminated batch: per-doc
    * weight = Σ_token-occurrences λ(t) (exact DECIMAL sum); raw-pool
    * docs below cfg.dsirMinMicro micro-units are dropped, target-source
    * docs pass unconditionally (they ARE the target distribution).
    * One narrow explode + one vocab-keyed hash join (the λ table is
    * vocab-sized, not broadcast-bounded) + one per-doc partial agg +
    * one id anti/semi join back — batch text never shuffles. */
  final case class DsirSelectBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"DsirSelectBatch($i)"
    override def requires: Seq[Task] =
      Seq(DecontaminateBatch(cfg, i), DsirTable(cfg))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/selected")
    def run(spark: SparkSession): Unit = {
      val th = cfg.dsirMinMicro.getOrElse(
        sys.error("DsirSelectBatch scheduled without cfg.dsirMinMicro"))
      val batch = Committed.parquet(spark, requires.head.output.uri)
      val lam = Committed.parquet(spark, requires(1).output.uri)
      val keepRaw = batch
        .filter(!col("source").isin(DsirTargetSources: _*))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .join(lam, Seq("t"))
        .groupBy(col("doc_id"))
        .agg((sum(col("lam")) * 1000000L).cast("long").as("w_micro"))
        .filter(col("w_micro") >= th)
        .select(col("doc_id"))
      output.atomicWrite { tmp =>
        batch.join(
            keepRaw.unionByName(batch
              .filter(col("source").isin(DsirTargetSources: _*))
              .select(col("doc_id"))),
            Seq("doc_id"), "left_semi")
          .write.parquet(tmp)
      }
    }
  }

  /** Per-language quota mix of one decontaminated (or, with the DSIR
    * knob on, importance-selected) batch (the quotaSample discipline:
    * stable-hash order, nested samples). */
  final case class MixBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"MixBatch($i)"
    override def requires: Seq[Task] =
      if (cfg.dsirMinMicro.isDefined) Seq(DsirSelectBatch(cfg, i))
      else Seq(DecontaminateBatch(cfg, i))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/mixed")
    def run(spark: SparkSession): Unit = {
      import org.apache.spark.sql.expressions.Window
      // doc_id reduces mod p BEFORE the Knuth multiply: raw doc_id *
      // 2654435761 overflows Long at doc_id ~ 3.5e9 (the 100 TB range);
      // (p-1) * 2654435761 ~ 2.7e18 stays in range — the same overflow
      // envelope q_agg_sample_estimate applies
      val w = Window.partitionBy(col("lang"))
        .orderBy(pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L,
            lit(1000000007L)),
          col("doc_id"))
      output.atomicWrite { tmp =>
        Committed.parquet(spark, requires.head.output.uri)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= cfg.quotaPerLang)
          .drop("rk")
          .write.parquet(tmp)
      }
    }
  }

  /** Concat-and-chunk sequence packing of one mixed batch — the
    * q_ml_pack_sequences discipline as an INCREMENTAL task: the global
    * token stream is (batch order, then doc_id within batch), each doc
    * mapped to the 512-token training sequences it lands in. The
    * cross-batch state is [[TokenLedger]]'s 1-row cumulative total —
    * batch i's cumsum starts at the ledger of i-1, so sequences tile
    * ACROSS batches without ever re-reading an earlier batch. Within
    * the batch the running sum uses the same 64-range two-level
    * decomposition as the query (no keyless window over batch data;
    * the 1-row ledger read and the 1-row max-id agg are the reviewed
    * bounded collects). */
  final case class PackBatch(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"PackBatch($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(MixBatch(cfg, i))
      else Seq(MixBatch(cfg, i), TokenLedger(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/packed")
    def run(spark: SparkSession): Unit = {
      import org.apache.spark.sql.expressions.Window
      val budget = 512L
      val offset =
        if (i == 0) 0L
        else Committed.parquet(spark, requires(1).output.uri).head.getLong(0)
      val toks = Committed.parquet(spark, requires.head.output.uri)
        .withColumn("n_toks",
          size(filter(split(col("text"), " "), w => length(w) > 0))
            .cast("long"))
      // 1-row bounded agg fixes the 64 contiguous in-batch id ranges
      val maxRow = toks.agg(max(col("doc_id"))).head
      output.atomicWrite { tmp =>
        if (maxRow.isNullAt(0)) {
          // empty batch: packed output is the empty frame, same schema
          toks.withColumn("first_seq", lit(null).cast("long"))
            .withColumn("last_seq", lit(null).cast("long"))
            .write.parquet(tmp)
        } else {
          val width = maxRow.getLong(0) / 64L + 1L
          val ranged = toks.withColumn("rng", expr(s"doc_id div $width"))
          val local = ranged.withColumn("cum_in", sum(col("n_toks"))
            .over(Window.partitionBy(col("rng")).orderBy(col("doc_id"))))
          val offs = ranged.groupBy(col("rng"))
            .agg(sum(col("n_toks")).as("t"))
            .withColumn("off", coalesce(
              sum(col("t")).over(Window.orderBy(col("rng"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
            .select(col("rng"), col("off"))
          local.join(broadcast(offs), Seq("rng"))
            .withColumn("cum_end", col("cum_in") + col("off") + offset)
            // zero-token docs occupy NO sequence (the declared
            // q_ml_pack_sequences semantics): null ids, kept as rows
            // so the funnel's packed == mixed count invariant holds
            .withColumn("first_seq", when(col("n_toks") > 0,
              expr(s"(cum_end - n_toks) div $budget")))
            .withColumn("last_seq", when(col("n_toks") > 0,
              expr(s"(cum_end - 1) div $budget")))
            .drop("rng", "cum_in", "off", "cum_end")
            .write.parquet(tmp)
        }
      }
    }
  }

  /** Cumulative token total through batch i — the 1-row cross-batch
    * packing state (ledger(i) = ledger(i-1) + Σ n_toks of packed batch
    * i, read back from the parquet PackBatch just wrote). */
  final case class TokenLedger(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"TokenLedger($i)"
    override def requires: Seq[Task] =
      if (i == 0) Seq(PackBatch(cfg, i))
      else Seq(PackBatch(cfg, i), TokenLedger(cfg, i - 1))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/token_ledger")
    def run(spark: SparkSession): Unit = {
      val prev =
        if (i == 0) 0L
        else Committed.parquet(spark, requires(1).output.uri).head.getLong(0)
      val batchToks = Committed.parquet(spark, requires.head.output.uri)
        .agg(coalesce(sum(col("n_toks")), lit(0L)).as("total")).head
        .getLong(0)
      output.atomicWrite { tmp =>
        spark.range(1).select(lit(prev + batchToks).as("total"))
          .coalesce(1).write.parquet(tmp)
      }
    }
  }

  /** The curation retention funnel: per (batch, stage) row counts down
    * the whole ladder — the observability datasheet that tells an
    * operator WHERE a batch's documents went (quality gate vs exact
    * dup vs near dup vs contamination vs quota). Depends on PackBatch
    * per manifest line (packed implies the entire upstream ladder for
    * that batch is complete). One scan per stage across all batch
    * targets, with the batch id recovered from the file path — 7
    * batch-sized scans total, never a per-(batch, stage) job storm at
    * 1000s of batches. */
  final case class CurationFunnel(cfg: CorpusConfig) extends Task {
    override def requires: Seq[Task] = Seq(PlanBatches(cfg))
    override def dynamicRequires(spark: SparkSession): Seq[Task] =
      readManifest(requires.head.output.uri).indices
        .map(PackBatch(cfg, _))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/funnel")
    def run(spark: SparkSession): Unit = {
      val n = readManifest(requires.head.output.uri).length
      val stages = Seq("raw") ++
        (if (cfg.urlDedup) Seq("url_deduped") else Nil) ++
        Seq("clean", "deduped", "near_deduped") ++
        (if (cfg.imageDedup) Seq("image_deduped") else Nil) ++
        Seq("decontaminated") ++
        (if (cfg.dsirMinMicro.isDefined) Seq("selected") else Nil) ++
        Seq("mixed", "packed")
      def stageCounts(stage: String) =
        Committed.parquet(spark,
            (0 until n).map(i => s"${cfg.baseDir}/batch_$i/$stage"): _*)
          // greedy .* anchors to the LAST batch_<i>/<stage>/ segment so
          // a baseDir that itself contains "batch_<digits>" can't
          // mislabel rows
          .select(regexp_extract(input_file_name(),
              s".*/batch_(\\d+)/$stage/", 1)
            .cast("int").as("batch"))
          .groupBy(col("batch")).agg(count(lit(1)).as("rows"))
          .withColumn("stage", lit(stage))
      output.atomicWrite { tmp =>
        stages.map(stageCounts).reduce(_.unionByName(_))
          .select(col("batch"), col("stage"), col("rows"))
          .orderBy(col("batch"), col("stage"))
          .coalesce(1).write.parquet(tmp)
      }
    }
  }

  /** Per-document drop attribution for one batch: WHICH stage removed
    * each document and why — the explainability artifact a curation
    * team actually queries ("where did my doc go?"). Five doc_id anti
    * joins between consecutive stage outputs, each batch-sized and
    * narrow (ids only — text never moves); together with the surviving
    * packed ids the ledger PARTITIONS the raw batch, which is exactly
    * what the spec pins. Depends on PackBatch (implies the whole
    * upstream ladder for this batch is complete). */
  final case class DropLedger(cfg: CorpusConfig, i: Int) extends Task {
    override def name = s"DropLedger($i)"
    override def requires: Seq[Task] = Seq(PackBatch(cfg, i))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/batch_$i/drop_ledger")
    def run(spark: SparkSession): Unit = {
      def ids(stage: String) =
        Committed.parquet(spark, s"${cfg.baseDir}/batch_$i/$stage")
          .select(col("doc_id"))
      val ladder =
        (if (cfg.urlDedup)
          Seq(("raw", "url_deduped", "url_dup"),
            ("url_deduped", "clean", "quality_fail"))
        else Seq(("raw", "clean", "quality_fail"))) ++ Seq(
        ("clean", "deduped", "exact_dup"),
        ("deduped", "near_deduped", "near_dup")) ++
        (if (cfg.imageDedup)
          Seq(("near_deduped", "image_deduped", "image_dup"),
            ("image_deduped", "decontaminated", "decontaminated"))
        else Seq(("near_deduped", "decontaminated", "decontaminated"))) ++
        (if (cfg.dsirMinMicro.isDefined)
          Seq(("decontaminated", "selected", "dsir_offtarget"),
            ("selected", "mixed", "quota_cut"))
        else Seq(("decontaminated", "mixed", "quota_cut")))
      output.atomicWrite { tmp =>
        ladder.map { case (a, b, reason) =>
          ids(a).join(ids(b), Seq("doc_id"), "left_anti")
            .withColumn("reason", lit(reason))
        }.reduce(_.unionByName(_))
          .orderBy(col("doc_id"))
          .write.parquet(tmp)
      }
    }
  }

  /** The corpus datasheet: per-lang doc/char/token totals over EVERY
    * packed batch. Its dependency set is one PackBatch per manifest
    * line — known only after PlanBatches has run, hence DYNAMIC (Luigi
    * yield; Task.dynamicRequires). */
  final case class CorpusReport(cfg: CorpusConfig) extends Task {
    override def requires: Seq[Task] = Seq(PlanBatches(cfg))
    override def dynamicRequires(spark: SparkSession): Seq[Task] =
      readManifest(requires.head.output.uri).indices
        .map(PackBatch(cfg, _))
    val output: DirTarget = DirTarget(s"${cfg.baseDir}/report")
    def run(spark: SparkSession): Unit = {
      // the input paths ARE the dependency set's targets (single source
      // of truth — a PackBatch layout change cannot desynchronize this)
      val paths = dynamicRequires(spark).map(_.output.uri)
      output.atomicWrite { tmp =>
        Committed.parquet(spark, paths: _*)
          .groupBy(col("lang"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("n_toks")).as("total_tokens"))
          .orderBy(col("lang"))
          .coalesce(1).write.parquet(tmp)
      }
    }
  }

  /** The full curation run as ONE root (what the `curate` CLI execs):
    * datasheet + retention funnel + every batch's drop ledger. A
    * barrier task — its own work is just the completion marker; the
    * value is in the dependency closure, discovered from the manifest
    * at runtime like the report's. */
  final case class CurateAll(cfg: CorpusConfig) extends Task {
    override def requires: Seq[Task] = Seq(PlanBatches(cfg))
    override def dynamicRequires(spark: SparkSession): Seq[Task] = {
      val n = readManifest(requires.head.output.uri).length
      Seq(CorpusReport(cfg), CurationFunnel(cfg)) ++
        (0 until n).map(DropLedger(cfg, _))
    }
    val output: FileTarget = FileTarget(s"${cfg.baseDir}/_curated_ok")
    def run(spark: SparkSession): Unit =
      output.atomicWrite { tmp =>
        java.nio.file.Files.writeString(tmp,
          s"batches=${readManifest(requires.head.output.uri).length}\n")
      }
  }
}
