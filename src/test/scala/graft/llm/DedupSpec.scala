package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Planted-duplicate tests for the hash-based dedup operators that the
  * DuckDB oracle can't check (SURVEY.md §2.5-4). */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val nearDup = // one token changed
    "the quick brown fox jumps over the lazy cat near the river bank today"
  private val exactDup = base
  private val unrelated =
    "spark catalyst optimizer rewrites logical plans into physical operators with codegen"

  private def plantedDocs = Seq(
    (0L, base, "en", "src0", base.length.toLong),
    (1L, exactDup, "en", "src0", exactDup.length.toLong),
    (2L, nearDup, "en", "src0", nearDup.length.toLong),
    (3L, unrelated, "en", "src0", unrelated.length.toLong),
    (4L, "tiny", "en", "src0", 4L)) // < 3 tokens: must be excluded, not crash
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def withPlanted(testFn: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    plantedDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    testFn(dir)
  }

  test("minhash LSH pairs planted near-dups, not unrelated docs") {
    withPlanted { dir =>
      val pairs = DedupOps.minhashLsh(spark, dir)
        .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((0L, 1L)), s"exact dup not found: $pairs")
      assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
        s"near dup not found: $pairs")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
        s"unrelated doc paired: $pairs")
    }
  }

  test("incremental dedup drops corpus-known fps, keeps one per new fp") {
    // doc_id % 3 == 0 is the batch: 0/3 share a fp already present in
    // the existing corpus (1,2,4), 6 and 9 are a NEW duplicated pair
    val docs = Seq(
      (0L, "known text"), (3L, "known text"),
      (1L, "known text"), (2L, "other corpus doc"), (4L, "third corpus doc"),
      (6L, "fresh text"), (9L, "fresh text"), (12L, "unique fresh"))
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupOps.incrementalDedup(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // "known text" (batch ids 0,3) is in the corpus via id 1 -> dropped;
    // "fresh text" keeps min id 6 with 2 batch copies; 12 is unique
    assert(out == Map(6L -> 2L, 12L -> 1L), out.toString)
  }

  test("LSH-blocked embedding cosine finds planted near-dups without an id window") {
    // planted pair (0, 900): cos ~ 0.999, ids 900 apart — invisible to the
    // windowed variant's <=100 contract, found by bucket blocking. The
    // fixture-equality oracle now exercises real pairs too (threshold 0.4
    // matches the fixture's cosine range); this planted run pins the
    // far-id case the fixture cannot produce and a near-1.0 cosine the
    // fixture tops out below.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val v = vec()
    val nearV = v.zipWithIndex.map { case (x, i) =>
      x + (if (i == 0) 0.05f else 0f) }
    val rows = Seq((0L, v.toSeq, 1L), (900L, nearV.toSeq, 1L)) ++
      (1L to 50L).map(i => (i, vec().toSeq, 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft_emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val lsh = DedupOps.embeddingCosineLsh(spark, dir)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((0L, 900L)), s"planted far-id pair missed: $lsh")
    val windowed = DedupOps.embeddingCosine(spark, dir)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!windowed.contains((0L, 900L)),
      "windowed variant unexpectedly sees a pair outside its declared window")
  }

  test("incremental dedup consumes the persisted fp index; documents scanned once") {
    val docs = Seq((0L, "a doc"), (1L, "corpus doc"), (3L, "new doc"))
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_idx").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val idxPath = DedupOps.buildFpIndex(spark, dir)
    assert(graft.flow.DirTarget(idxPath).exists, s"index not committed: $idxPath")
    val plan = DedupOps.incrementalDedup(spark, dir).queryExecution.sparkPlan
    val scanned = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.mkString(",")
    }
    // ONE scan of the documents table (the batch slice); the corpus side
    // is the index artifact, never the documents parquet
    assert(scanned.count(_.contains("documents.parquet")) == 1, scanned)
    assert(scanned.exists(_.contains(idxPath)), scanned)
  }

  test("incremental minhash = cross-slice restriction of the full LSH pairs") {
    // the full-corpus pairs are oracle-green, so equality here proves
    // the index path loses nothing at the slice boundary
    val full = DedupOps.minhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        // normalize to (batch, corpus): keep pairs with EXACTLY one
        // batch-side (%3==0) endpoint, in either position
        (a % 3 == 0, b % 3 == 0) match {
          case (true, false) => Some((a, b, j))
          case (false, true) => Some((b, a, j))
          case _ => None
        }
      }.toSet
    val incr = DedupOps.incrementalMinhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == full,
      s"missing: ${full -- incr}\nextra: ${incr -- full}")
    assert(incr.nonEmpty, "fixture has no cross-slice near-dups — vacuous")
  }

  test("incremental minhash consumes the persisted band index; one batch scan") {
    val idxPath = DedupOps.buildMinhashIndex(spark, sf0001)
    assert(graft.flow.DirTarget(idxPath).exists, s"index not committed: $idxPath")
    for (part <- Seq("members", "reps", "bands"))
      assert(new java.io.File(s"$idxPath/$part").isDirectory,
        s"index frame missing: $idxPath/$part")
    val plan = DedupOps.incrementalMinhash(spark, sf0001)
      .queryExecution.sparkPlan
    val scanned = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.mkString(",")
    }
    // corpus text is never re-read: every documents.parquet scan in the
    // plan is the batch slice (the localCheckpoint collapses them to 0;
    // the index side reads only the three artifact frames)
    assert(scanned.exists(_.contains(idxPath)), scanned)
    assert(scanned.count(_.contains("documents.parquet")) == 0,
      s"batch is localCheckpointed, corpus must come from the index: $scanned")
  }

  test("triangles: a 3-clique of near-dups is one canonical triangle") {
    // fixture corpora have pairwise-disjoint dup pairs (0 triangles), so
    // the enumeration semantics are pinned here: docs 0,1,2 are mutually
    // similar -> exactly one (0,1,2); the 4th similar-to-none doc adds none
    val docs = Seq(
      (0L, base), (1L, exactDup), (2L, nearDup), (3L, unrelated))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_tri").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val tri = DedupOps.triangles(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tri == Seq((0L, 1L, 2L)), tri.toString)
  }

  test("rebuilding a fixture leaves one live shingle-index generation") {
    // Artifacts.sweepStale's contract: content-keyed artifact dirs must
    // not accumulate one generation per fixture rebuild (a slow leak on
    // the shared storage SPARK_GRAFT_ARTIFACT_DIR points at on a cluster)
    val dir = java.nio.file.Files.createTempDirectory("graft_gc").toString
    def regen(tag: String): Unit = {
      plantedDocs.withColumn("source", lit(tag))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // key folds in (length, mtime); mtime granularity can be 1s — force
      // a distinct mtime so the rebuild is a REAL new generation
      val f = new java.io.File(s"$dir/documents.parquet")
      f.setLastModified(f.lastModified() + 5000)
    }
    regen("gen1")
    val first = DedupOps.buildShingleIndex(spark, dir)
    // a concurrent builder's in-progress atomicWrite temp shares the key
    // prefix — the sweep must NEVER delete it (it would fail that
    // builder's commit rename)
    val inProgress = new java.io.File(first + ".tmp-concurrent-fake")
    assert(inProgress.mkdirs())
    regen("gen2")
    val second = DedupOps.buildShingleIndex(spark, dir)
    assert(first != second, "fixture rebuild did not change the content key")
    val parent = new java.io.File(second).getParentFile
    val prefix = new java.io.File(second).getName
      .substring(0, new java.io.File(second).getName.lastIndexOf('-') + 1)
    assert(inProgress.isDirectory,
      "sweep deleted a concurrent builder's atomicWrite temp")
    val generations = parent.listFiles().map(_.getName)
      .filter(n => n.startsWith(prefix) && !n.contains(".tmp-")).toSeq
    assert(generations == Seq(new java.io.File(second).getName),
      s"stale generations survived the sweep: $generations")
  }

  test("fixture df histogram stays under triangles' df<=100 prune") {
    // triangles' oracle-equality argument rests on the df<=100 hot-shingle
    // prune being a NO-OP on the fixture (the prune exists only in the
    // Spark plan, not the DuckDB oracle). That was a code comment until
    // round 6; pin it: if a regenerated fixture ever plants a shingle
    // hotter than the cutoff, fail HERE with a pointer at the declared
    // cutoff instead of surfacing as an unexplained red CORRECTNESS row.
    val docs = spark.read.parquet(DedupOps.buildShingleIndex(spark, sf0001))
    val maxDf = docs.select($"lang", explode($"sh").as("s"))
      .groupBy($"lang", $"s").count()
      .agg(max($"count")).head.getLong(0)
    assert(maxDf < 100,
      s"fixture's hottest per-lang shingle df is $maxDf >= 100: " +
        "DedupOps.triangles' df<=100 candidate prune (a declared " +
        "heuristic, absent from the DuckDB oracle) is no longer a no-op " +
        "on this fixture — its oracle equality no longer holds by " +
        "construction. Regenerate the fixture or re-derive the cutoff.")
  }

  test("minhash LSH survives a degenerate corpus of 5k identical docs") {
    // the worst case for bucket-based pairing: every doc collides in
    // every band. The fp pre-collapse sends ONE representative through
    // LSH and the m² output pairs stream out of a distributed join —
    // completing here (vs OOM on a single collected bucket) is the test.
    val n = 5000
    val docs = spark.range(n)
      .selectExpr("id AS doc_id", s"'$base' AS text")
    val pairs = DedupOps.minhashPairs(docs)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    // and every pair is an exact dup at jaccard 1.0
    assert(pairs.filter($"jaccard" =!= 1.0).isEmpty)
  }

  test("prefix filter: shingles hotter than MaxMembers take the self-join, pairs exact") {
    // 140 identical docs put every 5-gram of `hot` at df > MaxMembers, so
    // their prefix buckets take the streamed self-join; a one-token
    // variant of `hot` pairs with all 140 across that branch, and a
    // planted near-dup pair plus unrelated docs run the small-bucket
    // branch in the same call
    val hot = (0 until 20).map(i => s"h$i").mkString(" ")
    val near = (0 until 20).map(i => s"a$i").mkString(" ")
    val texts = Seq.fill(140)(hot) ++ Seq(hot.replace("h19", "zz"),
      near, near.replace("a19", "b"), (0 until 20).map(i => s"u$i").mkString(" "),
      "v0 v1 v2 v3 v4 v5", "x y")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def fiveGrams(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < 5) Set.empty else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> fiveGrams(t) }
    val df = sets.flatMap(_._2).groupBy(identity).map(_._2.size)
    assert(df.max > BucketPairs.MaxMembers, s"no shingle hotter than the cap: ${df.max}")
    assert(df.exists(d => d > 1 && d <= BucketPairs.MaxMembers))
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size if 3 * inter >= sa.size + sb.size
    } yield (a, b, inter.toLong, sa.size.toLong, sb.size.toLong)).toSet
    val got = DedupOps.prefixFilterPairs(docs.toDF("doc_id", "text"))
      .select($"a_id", $"b_id", $"inter", $"n_a", $"n_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(expected.size == 140 * 139 / 2 + 140 + 1)
    assert((expected -- got).isEmpty, s"missed: ${(expected -- got).take(5)}")
    assert((got -- expected).isEmpty, s"extra: ${(got -- expected).take(5)}")
  }

  test("exact ngram path survives a degenerate corpus of 5k identical docs") {
    // same worst case as the minhash test, on the EXACT jaccard path: all
    // 5k docs share every shingle, so without the fp pre-collapse the
    // postings self-join would put 5k x 5k rows PER SHINGLE through one
    // (lang, lb, shingle) group. With it, ONE representative reaches the
    // postings join and the m² output streams out of the members join.
    val n = 5000
    val dir = java.nio.file.Files.createTempDirectory("graft_ngram_deg").toString
    spark.range(n)
      .selectExpr("id AS doc_id", s"'$base' AS text", "'en' AS lang",
        "'s' AS source", s"CAST(${base.length} AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.ngramJaccard(spark, dir)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    assert(pairs.filter($"jaccard" =!= 1.0).isEmpty)
  }

  test("ngram cutoff consumes the persisted shingle artifact; no document re-scan") {
    // the shingle-index analogue of the fp-index plan pin: the cutoff
    // query's final plan must read the artifact parquet, and must NOT
    // contain a documents.parquet scan (which would mean a refactor
    // regressed it to re-shingling the corpus per query)
    val idxPath = DedupOps.buildShingleIndex(spark, sf0001)
    assert(graft.flow.DirTarget(idxPath).exists, s"artifact not committed: $idxPath")
    val plan = DedupOps.ngramJaccardWithCutoff(spark, sf0001, 50)
      .queryExecution.sparkPlan
    val scanned = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.mkString(",")
    }
    assert(scanned.exists(_.contains(idxPath)), scanned)
    assert(!scanned.exists(_.contains("documents.parquet")), scanned)
  }

  test("pair-graph artifact is built once and reused by the analytics family") {
    // cluster stats / keep-list read the persisted pair graph instead of
    // re-shingling: the artifact must exist after the first call and a
    // second call must leave it untouched (same directory mtimes — no
    // rebuild), returning identical results
    DedupOps.clusterStats(spark, sf0001).collect()
    val pairPath = DedupOps.pairIndexPath(sf0001)
    assert(graft.flow.DirTarget(pairPath).exists, s"artifact missing: $pairPath")
    def snapshot(): Map[String, Long] =
      new java.io.File(pairPath).listFiles().filter(_.isFile)
        .map(f => f.getName -> f.lastModified()).toMap
    val before = snapshot()
    val first = DedupOps.clusterStats(spark, sf0001).collect()
    val second = DedupOps.clusterStats(spark, sf0001).collect()
    assert(snapshot() == before, "pair-graph artifact was rebuilt on reuse")
    assert(first.sameElements(second))
  }

  test("simhash: exact dup at distance 0, near dup within radius, unrelated apart") {
    // both token-hash modes: the declared portable sha-prefix query AND
    // the xxhash64 scale-path variant (not DuckDB-oracleable, pinned here)
    for (fn <- Seq("simhash64_sha", "simhash64")) withPlanted { dir =>
      val rows = DedupOps.simhashWith(spark, dir, fn)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
      assert(rows.get((0L, 1L)).contains(0), s"$fn exact dup distance: $rows")
      assert(rows.contains((0L, 2L)), s"$fn near dup not within radius: $rows")
      assert(!rows.keySet.exists(p => p._1 == 3L || p._2 == 3L),
        s"$fn unrelated doc paired: $rows")
    }
  }

  test("exact dedup collapses identical fingerprints to min doc_id") {
    withPlanted { dir =>
      val survivors = DedupOps.exactDedup(spark, dir)
        .select($"keep_id", $"n_copies")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(survivors(0L) == 2L) // doc 0 + exact copy doc 1
      assert(survivors(2L) == 1L && survivors(3L) == 1L)
      assert(!survivors.contains(1L))
    }
  }

  test("source stats: cross-source removals attributed to the right source") {
    // B(11, src_mirror) duplicates A(10, src_main): the keep-list keeps A,
    // removes B, and the removal must show up under src_mirror with
    // n_cross_source = 1 (representative lives in src_main). C is clean.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val c = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (10L, a, "src_main"), (11L, b, "src_mirror"), (20L, c, "src_main"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_ss").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupOps.sourceStats(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(rows("src_main") === ((2L, 1L, 0L, 0L))) // A clustered, kept
    assert(rows("src_mirror") === ((1L, 1L, 1L, 1L))) // B removed, cross
  }

  test("components: transitive cluster collapses to min id; unrelated isolated") {
    // chain A(10)~B(11)~C(12) where A~C may be below threshold — transitivity
    // must still put all three in component 10; D/E form a separate pair.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val c = "alpha beta gamma delta epsilon zeta eta theta mu lambda"
    val d = "one two three four five six seven eight nine ten"
    val e = "one two three four five six seven eight nine eleven"
    val docs = Seq(
      (10L, a), (11L, b), (12L, c), (20L, d), (21L, e))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val comp = DedupOps.components(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(10L) == 10L && comp(11L) == 10L && comp(12L) == 10L,
      s"chain not merged: $comp")
    assert(comp(20L) == 20L && comp(21L) == 20L, s"pair not merged: $comp")
  }

  test("propagateMinLabel matches driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = vertices.map(v => v -> find(v)).toMap
      val got = DedupOps.propagateMinLabel(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial: $got vs $expect (edges $edges)")
      // the O(log^2)-round large-star/small-star variant must agree too
      val star = DedupOps.starContraction(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == expect, s"trial $trial star: $star vs $expect (edges $edges)")
    }
  }

  test("ngram cutoff: generous df = exact result; tight df only loses recall") {
    val full = DedupOps.ngramJaccard(spark, sf0001)
      .collect().map(_.toSeq).toSet
    // cutoff above any block's shingle df: identical to the exact query
    val generous = DedupOps.ngramJaccardWithCutoff(spark, sf0001, 1000000)
      .collect().map(_.toSeq).toSet
    assert(generous == full)
    // tight cutoff: a subset (no false positives — exact verify stage)
    val tight = DedupOps.ngramJaccardWithCutoff(spark, sf0001, 2)
      .collect().map(_.toSeq).toSet
    assert(tight.subsetOf(full), s"extra pairs: ${tight.diff(full)}")
  }

  test("starContraction handles a long path graph (high diameter)") {
    // path 0-1-2-...-19: diameter 19, min-label would need ~19 rounds;
    // star contraction must still land everything on component 0
    val path = (0L until 19L).map(i => (i, i + 1))
    val got = DedupOps.starContraction(path.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 19L).map(_ -> 0L).toMap, got.toString)
  }

  test("ngram jaccard: near dup scores high, sf0.001 run is deterministic") {
    withPlanted { dir =>
      val j = DedupOps.ngramJaccard(spark, dir)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(j((0L, 1L)) == 1.0)
      assert(j((0L, 2L)) > 0.4 && j((0L, 2L)) < 1.0)
    }
    val once = DedupOps.ngramJaccard(spark, sf0001).collect()
    val twice = DedupOps.ngramJaccard(spark, sf0001).collect()
    assert(once.sameElements(twice))
  }

  test("keep-best-quality keeps the longest cluster member, keep-list the first") {
    // near-dup pair where the LATER doc is LONGER: keep_list (min id)
    // and keep_best_quality (max n_chars) must disagree on this cluster
    val longDup = base + " indeed truly"
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, longDup, "en", "src0", longDup.length.toLong),
      (5L, unrelated, "en", "src0", unrelated.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_kbq").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val best = DedupOps.keepBestQuality(spark, dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val first = DedupOps.keepList(spark, dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(first == Set(0L, 5L), s"keep_list: $first")
    assert(best == Set(1L, 5L),
      s"keep_best_quality should keep the longer member: $best")
  }
}
