package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.AggOps.micro

/** Graph analytics over the near-dup pair graph beyond connected
  * components: PageRank-style centrality, the classic "which node is the
  * canonical member of its cluster" signal (Page et al., "The PageRank
  * Citation Ranking", Stanford InfoLab 1999). On a dup graph, high-rank
  * nodes are the densely-connected cluster cores — a better survivor
  * choice than min-id when clusters are chains of pairwise near-dups —
  * and on a crawl's link graph the same operator is the standard
  * quality-weighting signal a training-data pipeline feeds into sampling
  * weights.
  *
  * Determinism contract: the textbook formulation iterates in IEEE
  * doubles, whose grouped sums are partial-aggregation-order-dependent —
  * un-oracle-able and, worse, not bit-reproducible run-to-run on a real
  * cluster. This implementation runs the SAME recurrence in scaled
  * 64-bit integer arithmetic (rank scale 1e12, damping 0.85 as the
  * exact rational 85/100, every division integral): integer sums are
  * associative-commutative with NO rounding, so the result is
  * bit-identical regardless of partition count or reduce order — on
  * local[32] today, on 1000 executors tomorrow, and in DuckDB's
  * unrolled-CTE twin, which is what lets the driver hash-compare it.
  * The truncation each step loses < 1 part in 1e9 of a node's rank —
  * noise far below any ranking decision — and unlike float rounding it
  * is deterministic.
  *
  * Scale shape: per iteration exactly one shuffle (the contribution sum,
  * partial-aggregated map-side) plus one src-keyed join of ranks onto
  * the edge list; the edge list and degrees are computed once and
  * localCheckpointed (per-iteration lineage truncation — the
  * propagateMinLabel discipline; on a cluster the checkpoint lands under
  * SPARK_GRAFT_ARTIFACT_DIR-backed storage instead, see SCALE.md). A
  * fixed iteration count (3) rather than convergence detection keeps the
  * oracle expressible as a finite unrolled CTE chain; production would
  * loop the same body to a residual threshold.
  */
object GraphOps extends graft.QueryModule {

  private val Iters = 3
  /** rank fixed-point scale: 1.0 == 1e12 */
  private val Scale = 1000000000000L
  /** 0.15 * Scale — the teleport mass per node */
  private val Base = 150000000000L

  /** q_graph_pagerank — 3-iteration integer-scaled PageRank over the
    * persisted exact n-gram-Jaccard pair graph (undirected: each pair
    * contributes both directed edges). Every node in the pair graph has
    * degree >= 1, so there is no dangling-mass term. */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame =
    pagerankOf(
      spark.read.parquet(DedupOps.buildPairIndex(spark, sfDir)))

  /** The recurrence over an explicit canonical (a_id, b_id) pair list —
    * exposed for property testing (GraphSpec runs it on hand-built
    * graphs against a driver-side double-precision reference). */
  private[llm] def pagerankOf(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val edges = pairs.select($"a_id".as("src"), $"b_id".as("dst"))
      .union(pairs.select($"b_id".as("src"), $"a_id".as("dst")))
      .localCheckpoint() // read the artifact once, feed every iteration
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    var pr = deg.select($"src".as("id"), $"deg", lit(Scale).as("pr"))
    for (_ <- 1 to Iters) {
      // each node sends pr div deg to every neighbor; integral div —
      // see the determinism contract in the object doc
      val sums = edges.join(pr, edges("src") === pr("id"))
        .select($"dst", expr("pr div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("s"))
      pr = deg.select($"src".as("id"), $"deg")
        .join(sums, $"id" === $"dst", "left")
        .select($"id", $"deg",
          expr(s"${Base}L + (85L * coalesce(s, 0L)) div 100L").as("pr"))
    }
    pr.select($"id".as("doc_id"), $"deg".as("degree"),
        $"pr".as("pr_scaled"))
      .orderBy($"doc_id")
  }

  /** q_graph_market_basket — frequent co-occurrence pairs with lift
    * (Agrawal-Srikant Apriori support counting, VLDB'94; the pair
    * stage is all production basket analysis runs at scale): part
    * pairs sharing >= 2 distinct orders, scored by
    * lift = P(a,b) / (P(a)·P(b)). The same co-occurrence shape scores
    * token collocations (bigram PMI is this operator in log space)
    * and doc-pair co-citation. Shape: ONE basket-keyed shuffle folds
    * each basket to its sorted distinct item set, pairs are generated
    * MAP-side from those sets (fan-out = items-per-basket choose 2,
    * ~15 here — never all-pairs over items, and no join reshuffle of
    * the big frame), and the support filter runs BEFORE the
    * per-item-frequency joins so the frequency lookups see the ~3k
    * surviving pairs, not the 1.2M raw ones. A basket's item set is
    * bounded by [[BucketPairs.MaxMembers]], checked at run time (the
    * fixtures' largest order has 17 lines at sf0.1), so a degenerate
    * mega-basket fails the query instead of allocating its pairs.
    * Lift is an integer-ratio double rounded at 6dp — engine-portable. (A
    * common-neighbors link-prediction variant over the NEAR-DUP graph
    * was measured structurally vacuous on the fixture: planted dup
    * groups are cliques, every wedge closes — so the declared
    * co-occurrence op runs on the basket graph, where open structure
    * is real.) */
  def marketBasket(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // ONE basket-keyed shuffle builds the item sets (collect_set also
    // dedupes, so no separate distinct pass); pair enumeration is then
    // MAP-side over each basket's sorted items — the self-join
    // alternative reshuffles the full (basket, item) frame once per
    // join leg for the same pairs (measured 2.7 -> 1.8-2.2 s at sf0.1).
    val baskets = graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey".as("basket"))
      .agg(sort_array(collect_set($"l_partkey")).as("items"))
      .localCheckpoint() // feeds pair-gen, frequencies, and the count
    val nBaskets = baskets.count()
    val freq = baskets.select(explode($"items").as("item"))
      .groupBy($"item").agg(count(lit(1)).as("n_item"))
    val pairs = baskets
      .select(explode(BucketPairs.ids($"items")).as("p"))
      .groupBy($"p.a".as("a_id"), $"p.b".as("b_id"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 2)
    pairs
      .join(freq.select($"item".as("a_id"), $"n_item".as("n_a")), Seq("a_id"))
      .join(freq.select($"item".as("b_id"), $"n_item".as("n_b")), Seq("b_id"))
      .select($"a_id", $"b_id", $"support",
        round($"support".cast("double") * nBaskets /
          ($"n_a" * $"n_b").cast("double"), 6).as("lift"))
      .orderBy($"a_id", $"b_id")
  }

  /** The support-filtered (a < b) basket co-purchase edge list — the
    * graph family's shared input, recomputed from lineitem on every
    * query invocation (per-round rules: no cross-query caching).
    * Exactly [[marketBasket]]'s pair set WITHOUT the lift-scoring legs
    * (per-item frequency aggregate + two joins) and the presentation
    * sort: consumers only `.select(a_id, b_id)`, but Catalyst cannot
    * prune inner joins it can't prove non-filtering, so five graph
    * queries were paying the full lift pipeline for an edge list.
    * The basket frame feeds a single leg here, so the checkpoint and
    * the nBaskets count job also drop away. */
  private[llm] def basketEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val baskets = graft.Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey".as("basket"))
      .agg(sort_array(collect_set($"l_partkey")).as("items"))
    baskets
      .select(explode(BucketPairs.ids($"items")).as("p"))
      .groupBy($"p.a".as("a_id"), $"p.b".as("b_id"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 2)
      .select($"a_id", $"b_id")
  }

  /** q_graph_adamic_adar — link prediction over the BASKET co-purchase
    * graph (edges = part pairs with support ≥ 2, [[marketBasket]]'s
    * output): for every non-adjacent pair at distance 2, the
    * common-neighbor count and the Adamic–Adar score
    * Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) (Adamic & Adar, Social Networks
    * 2003) — rare shared neighbors count more than hubs. Top-20
    * predicted links out. (Runs on the basket graph, not the near-dup
    * graph, for the reason [[marketBasket]]'s scaladoc records:
    * planted dup groups are cliques — every wedge closes — so common-
    * neighbor scores there are structurally vacuous.)
    *
    * Numerics: each wedge term is round(1/ln(deg_w),6)::DECIMAL(18,6)
    * from the integer degree (deg ≥ 2 by construction — a wedge
    * middle has ≥ 2 neighbors), summed exactly; the readout casts
    * once. Scale: the wedge join fans out Σ_w deg(w)² over the
    * SUPPORT-FILTERED edge list — the support threshold is the hub
    * guard (the df-cutoff discipline: a mega-hub part would need
    * support ≥ 2 with thousands of partners to blow up, and the cap
    * documented in marketBasket bounds baskets first); the anti-join
    * removes existing edges before any per-pair work, and the top-20
    * is a TakeOrderedAndProject heap, never a global sort. */
  def adamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = basketEdges(spark, sfDir)
      .localCheckpoint() // feeds adj ×2 + anti
    val adj = edges.select($"a_id".as("src"), $"b_id".as("dst"))
      .union(edges.select($"b_id".as("src"), $"a_id".as("dst")))
    val deg = adj.groupBy($"src").agg(count(lit(1)).as("deg"))
    val wedges = adj.select($"src".as("u"), $"dst".as("w"))
      .join(adj.select($"src".as("w"), $"dst".as("v")), Seq("w"))
      .filter($"u" < $"v") // each unordered pair once per middle
      .join(deg.select($"src".as("w"), $"deg"), Seq("w"))
    val scored = wedges.groupBy($"u", $"v")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(round(lit(1.0) / log($"deg".cast("double")), 6)
          .cast("decimal(18,6)")).as("aa"))
    scored.join(edges,
        scored("u") === edges("a_id") && scored("v") === edges("b_id"),
        "left_anti") // predicted links only — drop existing edges
      .select($"u".as("a_id"), $"v".as("b_id"), $"common_neighbors",
        $"aa".cast("double").as("aa_score"))
      .orderBy($"aa_score".desc, $"a_id", $"b_id").limit(20) // top-k heap
  }

  /** q_graph_assortativity — degree assortativity of the basket
    * co-purchase graph (Newman, PRL 2002): the Pearson correlation of
    * endpoint degrees over the directed edge list (each undirected
    * edge contributes both orientations — exactly Newman's r). r < 0
    * (hubs attach to leaves) vs r > 0 (hub-hub cores) is the one-
    * number structure readout that says whether the dedup/basket
    * graph is star-like or clique-like — and hence which traversal
    * strategies degrade. All five moments are exact int64 sums of
    * degree products (deg ≤ |V|, safe far past any vocab), ONE
    * micro-floored double division; the edge list and degree frame
    * are [[marketBasket]]'s support-filtered output.
    *
    * Scale: two hash aggregations (degrees, moments) over the
    * vocabulary-sized edge list + a broadcast degree join. 1-row
    * readout. */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = basketEdges(spark, sfDir)
    val edges = pairs.select($"a_id".as("src"), $"b_id".as("dst"))
      .union(pairs.select($"b_id".as("src"), $"a_id".as("dst")))
      .localCheckpoint() // feeds degrees + both moment joins
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("n_nodes")) // 1 row
    edges
      .join(deg.select($"src", $"deg".as("dj")), Seq("src"))
      .join(deg.select($"src".as("dst"), $"deg".as("dk")), Seq("dst"))
      .agg(count(lit(1)).as("m2"), sum($"dj" * $"dk").as("sjk"),
        sum($"dj" + $"dk").as("sj"),
        sum($"dj" * $"dj" + $"dk" * $"dk").as("sjj"))
      .crossJoin(broadcast(n))
      // Newman's r = (M·Σjk − ΣjΣk)/√((M·Σj²−(Σj)²)(M·Σk²−(Σk)²));
      // both orientations present ⇒ Σj = Σk = sj/2 and Σj² = Σk² =
      // sjj/2 (both even), so the sqrt collapses and r =
      // (m2·sjk − h²)/(m2·(sjj/2) − h²) with h = sj/2 — EXACT int64
      // end to end (deg ≤ |V|: all products ≤ ~5e13 at vocab scale),
      // one micro-floored double division
      .withColumn("h", expr("sj div 2L"))
      .select($"n_nodes", expr("m2 div 2L").as("n_edges"),
        micro(($"m2" * $"sjk" - $"h" * $"h").cast("double") /
          ($"m2" * expr("sjj div 2L") - $"h" * $"h").cast("double"))
          .as("assortativity"))
  }

  /** q_graph_kcore — 2-core of the support-filtered basket
    * co-purchase graph by iterative peeling (Seidman, Social Networks
    * 1983; Batagelj & Zaveršnik's peel as the distributed round
    * form): repeatedly drop nodes with in-subgraph degree < 2 until
    * stable — the acyclic fringe (chains, stars, trees) peels away
    * and only cyclically-connected regions survive, which on a
    * dup/co-occurrence graph is exactly where transitive merge
    * decisions are safe. K = 2 is the fixture-calibrated choice: the
    * support ≥ 2 graph thins with scale (5922 nodes → 3 survivors at
    * sf0.1, 1880 → 1535 at sf0.01 — a PROPER subset at both driver
    * scales), while K = 3 empties at sf0.1 and the unfiltered graph
    * never peels at all (measured). EIGHT unrolled rounds; the
    * fixture reaches fixpoint by round 5 and Wave13gSpec replays the
    * peel to FIXPOINT and asserts equality — the round budget is
    * proven sufficient, not assumed (the pagerank fixed-iteration
    * discipline). Output: surviving nodes with their core-subgraph
    * degree.
    *
    * Scale: each round is ONE degree aggregation + one semi-join
    * filter over the vocabulary-sized edge list, localCheckpointed
    * per round (lineage truncation, the pagerank discipline); rounds
    * are a constant. Pure integer — nothing to drift. */
  def kcore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val K = 2; val Rounds = 8
    val pairs = basketEdges(spark, sfDir)
    val edges0 = pairs.select($"a_id".as("src"), $"b_id".as("dst"))
      .union(pairs.select($"b_id".as("src"), $"a_id".as("dst")))
      .localCheckpoint()
    var edges = edges0
    // fixpoint early-exit: the peel only REMOVES edges, so an unchanged
    // edge count after a round means no node fell below K and every
    // later round is a no-op — same result, fewer jobs. r18 trims the
    // check's own cost (the r17 shape's per-round count()s made kcore a
    // net LOSS at sf0.1, 2.56→2.7-3.0 s, for a clear sf1 win): no
    // baseline count before the loop, and no counting in rounds 1-2 —
    // a peel that stabilizes that early would have found its 2-core in
    // two rounds, and a wasted check there costs more than it can ever
    // save (the fixture stabilizes at round 5; Wave13gSpec proves the
    // 8-round budget = fixpoint regardless of when the exit fires).
    var nEdges = -1L
    var stable = false
    for (r <- 1 to Rounds if !stable) {
      val keep = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= K).select($"src")
      edges = edges.join(keep, Seq("src"))
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"))
        .select($"src", $"dst").localCheckpoint() // per-round truncation
      if (r >= 3) {
        val n2 = edges.count() // near-free: the frame was just pinned
        if (n2 == nEdges) stable = true else nEdges = n2
      }
    }
    edges.groupBy($"src").agg(count(lit(1)).as("core_deg"))
      .select($"src".as("item"), $"core_deg")
      .orderBy($"item")
  }

  /** q_graph_label_propagation — community detection over the basket
    * co-purchase graph via synchronous label propagation (Raghavan,
    * Albert & Kumara, Phys. Rev. E 2007) made DETERMINISTIC: every
    * node votes its neighbors' labels PLUS its own (the self-loop
    * damps the bipartite oscillation the raw synchronous update is
    * known for), the new label is the most frequent with ties broken
    * by SMALLEST label — no randomness anywhere, so engine and oracle
    * agree bit-for-bit. 4 fixed rounds (the kcore constant-rounds
    * discipline; the support-filtered graph's diameter is small and
    * Wave14cSpec replays the rounds independently), then the readout
    * collapses to per-community size + smallest member. The
    * coarser-than-components community structure is the dedup-sharding
    * readout connected components can't give: components lump
    * everything touching, LPA splits dense cliques from bridges.
    *
    * Scale: per round, ONE equi-join of the vocabulary-bounded
    * adjacency against the ≤|V| label frame and one (node, label)
    * hash agg; the argmax window partitions by node over ≤deg+1 rows.
    * Round count is constant and each round localCheckpoints (lineage
    * cut, the MM/kcore pattern). Nothing is corpus-sized. */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, _, lbl) = lpaLabels(spark, sfDir)
    lbl.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_members"), min($"node").as("min_member"))
      .orderBy($"n_members".desc, $"community")
  }

  private val LpaLabels = "graft_lpa_labels/"
  private[llm] def lpaArtifactPath(sfDir: String): String =
    graft.Artifacts.path(LpaLabels, sfDir, "lineitem.parquet", "v1")

  /** The shared 4-round deterministic LPA core, persisted ONCE per
    * fixture generation as a build-once artifact (the shingle-index
    * pattern): three consumers — [[labelPropagation]] reads the
    * partition, [[modularity]] scores it, [[lpaStability]] compares
    * the snapshots — used to re-run the same four vocabulary-bounded
    * rounds each (~10.7 s combined at sf0.1, the r14 verdict's cheap
    * win #3); now the first caller materializes edges + round-2 +
    * round-4 under one content-keyed path and the other two read
    * parquet. Rebuild-if-missing is pinned by GraphArtifactSpec. */
  private def lpaLabels(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val path = graft.Artifacts.ensure(LpaLabels, sfDir, "lineitem.parquet", "v1") { tmp =>
      val (edges, lbl2, lbl4) = lpaLabelsCompute(spark, sfDir)
      edges.write.mode("overwrite").parquet(s"$tmp/edges")
      lbl2.write.mode("overwrite").parquet(s"$tmp/lbl2")
      lbl4.write.mode("overwrite").parquet(s"$tmp/lbl4")
    }
    (spark.read.parquet(s"$path/edges"),
      spark.read.parquet(s"$path/lbl2"),
      spark.read.parquet(s"$path/lbl4"))
  }

  /** One LPA run: the support-filtered (a<b) edge list, the round-2
    * snapshot, and the final (node, lbl) assignment. */
  private def lpaLabelsCompute(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val edges = basketEdges(spark, sfDir)
      .localCheckpoint() // support-filtered
    val adj = edges.select($"a_id".as("src"), $"b_id".as("dst"))
      .union(edges.select($"b_id".as("src"), $"a_id".as("dst")))
    val nodes = adj.select($"src").distinct()
    val adjS = adj.union(nodes.select($"src", $"src".as("dst")))
      .localCheckpoint() // reused all 4 rounds
    var lbl = nodes.select($"src".as("node"), $"src".as("lbl"))
      .localCheckpoint()
    var lbl2 = lbl
    for (r <- 1 to 4) {
      lbl = adjS
        .join(lbl.select($"node".as("dst"), $"lbl"), Seq("dst"))
        .groupBy($"src", $"lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          w.partitionBy($"src").orderBy($"cnt".desc, $"lbl")))
        .filter($"rn" === 1)
        .select($"src".as("node"), $"lbl")
        .localCheckpoint()
      if (r == 2) lbl2 = lbl
    }
    (edges, lbl2, lbl)
  }

  /** q_graph_lpa_stability — convergence readout for the LPA
    * partition via the Adjusted Rand Index (Hubert & Arabie, J.
    * Classification 1985) between the round-2 and round-4 label
    * snapshots: ARI = 1 means the extra rounds changed nothing (the
    * constant round budget is sufficient — the empirical twin of the
    * kcore fixpoint argument), ARI ≪ 1 means the partition is still
    * churning and the budget is suspect. All pair-count terms
    * Σ C(n,2) are exact int64 (communities are vocabulary-bounded);
    * the one cross-margin product Σa·Σb is DECIMAL(19,0)² (it crosses
    * int64 once C(n,2) passes ~3e9), and ARI divides ONCE in double,
    * micro-floored. Expected-index degenerate case (both partitions
    * all-singletons or one block) → NULL, mirrored.
    *
    * Scale: one equi-join of two ≤|V| label frames, a contingency
    * groupBy bounded by communities², three margin aggregates. 1-row
    * readout. */
  def lpaStability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, lbl2, lbl4) = lpaLabels(spark, sfDir)
    def c2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c * (c - 1L) / 2L // exact: n(n−1) is even
    val joint = lbl2.select($"node", $"lbl".as("la"))
      .join(lbl4.select($"node", $"lbl".as("lb")), Seq("node"))
      .localCheckpoint() // ≤|V| rows; feeds contingency + margins + n
    val nij = joint.groupBy($"la", $"lb").agg(count(lit(1)).as("c"))
      .agg(sum(c2($"c")).as("sum_nij2"))
    val ai = joint.groupBy($"la").agg(count(lit(1)).as("c"))
      .agg(sum(c2($"c")).as("sum_a2"), count(lit(1)).as("k2"))
    val bj = joint.groupBy($"lb").agg(count(lit(1)).as("c"))
      .agg(sum(c2($"c")).as("sum_b2"), count(lit(1)).as("k4"))
    val n = joint.agg(count(lit(1)).as("n_nodes"))
    n.crossJoin(broadcast(nij)).crossJoin(broadcast(ai))
      .crossJoin(broadcast(bj)) // four 1-row frames
      .withColumn("cn2", c2($"n_nodes"))
      .withColumn("expected",
        ($"sum_a2".cast("decimal(19,0)") * $"sum_b2".cast("decimal(19,0)"))
          .cast("double") / $"cn2".cast("double"))
      .withColumn("maxi",
        ($"sum_a2" + $"sum_b2").cast("double") / 2.0)
      .select($"n_nodes", $"k2".as("n_com_round2"),
        $"k4".as("n_com_round4"),
        when($"maxi" =!= $"expected", micro(
          ($"sum_nij2".cast("double") - $"expected") /
            ($"maxi" - $"expected"))).as("ari"))
  }

  /** q_graph_modularity — Newman–Girvan modularity (Phys. Rev. E
    * 2004) of the [[labelPropagation]] partition: Q = Σ_c (e_c/m −
    * (d_c/2m)²) — the one-number "is this community structure real"
    * gate (Q near 0: the partition explains nothing; Q ≳ 0.3:
    * genuine structure), read before sharding dedup work along
    * communities. Computed EXACTLY: Q·4m² = Σ_c (4m·e_c − d_c²) is
    * an int64 sum (m is vocabulary-bounded), ONE micro-floored
    * division by the double 4m².
    *
    * Scale: the LPA rounds dominate (constant count, vocab-bounded
    * frames); the scoring adds two equi-joins of the edge list
    * against the ≤|V| label frame and two bounded hash aggs. 1-row
    * readout. */
  def modularity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (edges, _, lbl) = lpaLabels(spark, sfDir)
    val m = edges.agg(count(lit(1)).as("m")) // 1-row edge total
    val adj = edges.select($"a_id".as("src"), $"b_id".as("dst"))
      .union(edges.select($"b_id".as("src"), $"a_id".as("dst")))
    val deg = adj.groupBy($"src").agg(count(lit(1)).as("degree"))
    val dc = deg.join(lbl, $"src" === $"node")
      .groupBy($"lbl").agg(sum($"degree").as("d"))
    val ec = edges
      .join(lbl.select($"node".as("a_id"), $"lbl".as("la")), Seq("a_id"))
      .join(lbl.select($"node".as("b_id"), $"lbl".as("lb")), Seq("b_id"))
      .filter($"la" === $"lb")
      .groupBy($"la".as("lbl")).agg(count(lit(1)).as("e"))
    dc.join(ec, Seq("lbl"), "left")
      .crossJoin(broadcast(m)) // 1-row edge count
      .agg(count(lit(1)).as("n_communities"),
        sum(lit(4L) * $"m" * coalesce($"e", lit(0L)) - $"d" * $"d")
          .as("num"), first($"m").as("m"))
      .select($"n_communities", $"m".as("m_edges"),
        micro($"num".cast("double") /
          (lit(4.0) * $"m".cast("double") * $"m".cast("double")))
          .as("modularity"))
  }

  /** q_graph_local_clustering — per-node local clustering coefficient
    * (Watts & Strogatz, Nature 1998) over the basket co-purchase
    * graph: C_v = 2·T_v / (deg_v·(deg_v−1)) with T_v = the triangles
    * through v, counted as the CLOSED WEDGES CENTERED at v — each
    * triangle has exactly one middle at each of its three vertices, so
    * the per-node count needs no /3 correction. "Is this node's
    * neighborhood a clique or a star" is the per-node refinement of
    * assortativity's one global number, and the structural signal for
    * whether a dedup cluster is one dense blob (safe to collapse) or a
    * hub chaining unrelated docs (split before collapsing). deg < 2 →
    * C undefined → NULL (oracle mirrors the CASE).
    *
    * Scale: the adamicAdar wedge discipline — wedge join over the
    * support-filtered adjacency (the support floor is the hub guard),
    * closure check as an equi-join against the (a<b) edge list, ONE
    * (w) hash agg, broadcast-sized degree join. Everything is bounded
    * by the part catalog, not the corpus. */
  def localClustering(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = basketEdges(spark, sfDir)
      .localCheckpoint() // feeds adj + closure
    val adj = edges.select($"a_id".as("src"), $"b_id".as("dst"))
      .union(edges.select($"b_id".as("src"), $"a_id".as("dst")))
    val deg = adj.groupBy($"src").agg(count(lit(1)).as("degree"))
    val tri = adj.select($"src".as("u"), $"dst".as("w"))
      .join(adj.select($"src".as("w"), $"dst".as("v")), Seq("w"))
      .filter($"u" < $"v") // each wedge at middle w counted once
      .join(edges.select($"a_id".as("u"), $"b_id".as("v")), Seq("u", "v"))
      .groupBy($"w").agg(count(lit(1)).as("triangles"))
    deg.join(tri, $"src" === $"w", "left")
      .select($"src".as("node"), $"degree",
        coalesce($"triangles", lit(0L)).as("triangles"),
        when($"degree" >= 2L, micro(
          (lit(2L) * coalesce($"triangles", lit(0L))).cast("double") /
            ($"degree" * ($"degree" - 1L)).cast("double")))
          .as("c_local"))
      .orderBy($"node")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_modularity" -> (modularity _),
    "q_graph_lpa_stability" -> (lpaStability _),
    "q_graph_local_clustering" -> (localClustering _),
    "q_graph_label_propagation" -> (labelPropagation _),
    "q_graph_kcore" -> (kcore _),
    "q_graph_assortativity" -> (assortativity _),
    "q_graph_adamic_adar" -> (adamicAdar _),
    "q_graph_pagerank" -> (pagerank _),
    "q_graph_market_basket" -> (marketBasket _))

  /** The identical integer recurrence unrolled as CTEs (DuckDB `//` is
    * floor division, Spark `div` truncates toward zero — identical on
    * the non-negative ranks here; sum() promotes to HUGEINT in DuckDB,
    * cast back per iteration so the final schema is BIGINT). */
  private def prIterSql(k: Int): String =
    s"""s$k AS (
       |  SELECT e.dst AS id, sum(p.pr // p.deg) AS s
       |  FROM edges e JOIN pr${k - 1} p ON e.src = p.id GROUP BY e.dst),
       |pr$k AS (
       |  SELECT d.src AS id, d.deg,
       |    CAST($Base + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS pr
       |  FROM deg d LEFT JOIN s$k s ON d.src = s.id)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_graph_kcore" -> {
      val base =
        """WITH bi AS (
          |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
          |  FROM lineitem),
          |p AS MATERIALIZED (
          |  SELECT x.item AS a_id, y.item AS b_id
          |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          |e0(src, dst) AS MATERIALIZED (
          |  SELECT a_id, b_id FROM p
          |  UNION ALL SELECT b_id, a_id FROM p)""".stripMargin
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
      // reference, and each round references its predecessor twice —
      // the unrolled chain re-inlines the basket self-join 2^8 times
      // without it (the k-center unrolled-rounds precedent)
      val rounds = (1 to 8).map { r =>
        s"""k$r AS MATERIALIZED (
           |  SELECT src FROM e${r - 1} GROUP BY 1 HAVING COUNT(*) >= 2),
           |e$r AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e${r - 1} e
           |  JOIN k$r a ON e.src = a.src
           |  JOIN k$r b ON e.dst = b.src)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$rounds
         |SELECT src AS item, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM e8 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_graph_assortativity" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem),
        |p AS (
        |  SELECT x.item AS a_id, y.item AS b_id
        |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION ALL SELECT b_id, a_id FROM p),
        |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
        |    CAST(SUM(dj.deg * dk.deg) AS BIGINT) AS sjk,
        |    CAST(SUM(dj.deg + dk.deg) AS BIGINT) AS sj,
        |    CAST(SUM(dj.deg * dj.deg + dk.deg * dk.deg) AS BIGINT) AS sjj
        |  FROM adj e
        |  JOIN deg dj ON e.src = dj.src
        |  JOIN deg dk ON e.dst = dk.src)
        |SELECT n_nodes, m2 // 2 AS n_edges,
        |  CAST(floor(CAST(m2 * sjk - (sj // 2) * (sj // 2) AS DOUBLE) /
        |    CAST(m2 * (sjj // 2) - (sj // 2) * (sj // 2) AS DOUBLE)
        |    * 1e6) AS BIGINT) / 1e6 AS assortativity
        |FROM g CROSS JOIN n""".stripMargin,
    "q_graph_adamic_adar" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem),
        |p AS (
        |  SELECT x.item AS a_id, y.item AS b_id
        |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (
        |  SELECT a_id AS src, b_id AS dst FROM p
        |  UNION ALL SELECT b_id, a_id FROM p),
        |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY 1),
        |wedge AS (
        |  SELECT x.src AS u, y.dst AS v, d.deg
        |  FROM adj x JOIN adj y ON x.dst = y.src AND x.src < y.dst
        |  JOIN deg d ON x.dst = d.src),
        |scored AS (
        |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
        |    SUM(CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))) AS aa
        |  FROM wedge GROUP BY 1, 2)
        |SELECT u AS a_id, v AS b_id, common_neighbors,
        |  CAST(aa AS DOUBLE) AS aa_score
        |FROM scored s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p WHERE p.a_id = s.u AND p.b_id = s.v)
        |ORDER BY aa_score DESC, a_id, b_id LIMIT 20""".stripMargin,
    "q_graph_local_clustering" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem),
        |p AS (
        |  SELECT x.item AS a_id, y.item AS b_id
        |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT a_id AS src, b_id AS dst FROM p
        |        UNION ALL SELECT b_id, a_id FROM p),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
        |        FROM adj GROUP BY 1),
        |tri AS (
        |  SELECT a1.dst AS w, CAST(COUNT(*) AS BIGINT) AS triangles
        |  FROM adj a1
        |  JOIN adj a2 ON a1.dst = a2.src AND a1.src < a2.dst
        |  JOIN p ON a1.src = p.a_id AND a2.dst = p.b_id
        |  GROUP BY 1)
        |SELECT src AS node, degree,
        |  CAST(COALESCE(triangles, 0) AS BIGINT) AS triangles,
        |  CASE WHEN degree >= 2 THEN
        |    CAST(floor(CAST(2 * COALESCE(triangles, 0) AS DOUBLE) /
        |      CAST(degree * (degree - 1) AS DOUBLE) * 1e6) AS BIGINT)
        |      / 1e6
        |  END AS c_local
        |FROM deg LEFT JOIN tri ON deg.src = tri.w
        |ORDER BY node""".stripMargin,
    "q_graph_lpa_stability" -> {
      val rounds = (1 to 4).map { i =>
        s"""v$i AS (
           |  SELECT a.src AS node, l.lbl, COUNT(*) AS cnt
           |  FROM adjs a JOIN l${i - 1} l ON a.dst = l.node GROUP BY 1, 2),
           |l$i AS (
           |  SELECT node, lbl FROM v$i
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY node
           |    ORDER BY cnt DESC, lbl) = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (
         |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |  FROM lineitem),
         |p AS (
         |  SELECT x.item AS a_id, y.item AS b_id
         |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT a_id AS src, b_id AS dst FROM p
         |        UNION ALL SELECT b_id, a_id FROM p),
         |nodes AS (SELECT DISTINCT src FROM adj),
         |adjs AS (SELECT src, dst FROM adj
         |         UNION ALL SELECT src, src FROM nodes),
         |l0 AS (SELECT src AS node, src AS lbl FROM nodes),
         |$rounds,
         |joint AS (
         |  SELECT l2.node, l2.lbl AS la, l4.lbl AS lb
         |  FROM l2 JOIN l4 ON l2.node = l4.node),
         |nij AS (
         |  SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS sum_nij2
         |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
         |        FROM joint GROUP BY la, lb)),
         |ai AS (
         |  SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS sum_a2,
         |    CAST(COUNT(*) AS BIGINT) AS k2
         |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
         |        FROM joint GROUP BY la)),
         |bj AS (
         |  SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS sum_b2,
         |    CAST(COUNT(*) AS BIGINT) AS k4
         |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
         |        FROM joint GROUP BY lb)),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM joint),
         |e AS (
         |  SELECT n_nodes, k2, k4, sum_nij2,
         |    CAST(CAST(sum_a2 AS DECIMAL(19,0)) *
         |      CAST(sum_b2 AS DECIMAL(19,0)) AS DOUBLE) /
         |      CAST(n_nodes * (n_nodes - 1) / 2 AS DOUBLE) AS expected,
         |    CAST(sum_a2 + sum_b2 AS DOUBLE) / 2.0 AS maxi
         |  FROM n, nij, ai, bj)
         |SELECT n_nodes, k2 AS n_com_round2, k4 AS n_com_round4,
         |  CASE WHEN maxi <> expected THEN
         |    CAST(floor((CAST(sum_nij2 AS DOUBLE) - expected) /
         |      (maxi - expected) * 1e6) AS BIGINT) / 1e6
         |  END AS ari
         |FROM e""".stripMargin
    },
    "q_graph_modularity" -> {
      val rounds = (1 to 4).map { i =>
        s"""v$i AS (
           |  SELECT a.src AS node, l.lbl, COUNT(*) AS cnt
           |  FROM adjs a JOIN l${i - 1} l ON a.dst = l.node GROUP BY 1, 2),
           |l$i AS (
           |  SELECT node, lbl FROM v$i
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY node
           |    ORDER BY cnt DESC, lbl) = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (
         |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |  FROM lineitem),
         |p AS (
         |  SELECT x.item AS a_id, y.item AS b_id
         |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT a_id AS src, b_id AS dst FROM p
         |        UNION ALL SELECT b_id, a_id FROM p),
         |nodes AS (SELECT DISTINCT src FROM adj),
         |adjs AS (SELECT src, dst FROM adj
         |         UNION ALL SELECT src, src FROM nodes),
         |l0 AS (SELECT src AS node, src AS lbl FROM nodes),
         |$rounds,
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
         |        FROM adj GROUP BY 1),
         |dc AS (
         |  SELECT l.lbl, CAST(SUM(degree) AS BIGINT) AS d
         |  FROM deg JOIN l4 l ON deg.src = l.node GROUP BY 1),
         |ec AS (
         |  SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS e
         |  FROM p JOIN l4 la ON p.a_id = la.node
         |  JOIN l4 lb ON p.b_id = lb.node
         |  WHERE la.lbl = lb.lbl GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         |  CAST(m AS BIGINT) AS m_edges,
         |  CAST(floor(CAST(SUM(4 * m * COALESCE(e, 0) - d * d)
         |      AS DOUBLE) /
         |    (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) * 1e6)
         |    AS BIGINT) / 1e6 AS modularity
         |FROM dc LEFT JOIN ec USING (lbl), mm
         |GROUP BY m""".stripMargin
    },
    "q_graph_label_propagation" -> {
      val rounds = (1 to 4).map { i =>
        s"""v$i AS (
           |  SELECT a.src AS node, l.lbl, COUNT(*) AS cnt
           |  FROM adjs a JOIN l${i - 1} l ON a.dst = l.node GROUP BY 1, 2),
           |l$i AS (
           |  SELECT node, lbl FROM v$i
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY node
           |    ORDER BY cnt DESC, lbl) = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (
         |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |  FROM lineitem),
         |p AS (
         |  SELECT x.item AS a_id, y.item AS b_id
         |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |adj AS (SELECT a_id AS src, b_id AS dst FROM p
         |        UNION ALL SELECT b_id, a_id FROM p),
         |nodes AS (SELECT DISTINCT src FROM adj),
         |adjs AS (SELECT src, dst FROM adj
         |         UNION ALL SELECT src, src FROM nodes),
         |l0 AS (SELECT src AS node, src AS lbl FROM nodes),
         |$rounds
         |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  MIN(node) AS min_member
         |FROM l4 GROUP BY 1 ORDER BY n_members DESC, community""".stripMargin
    },
    "q_graph_market_basket" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |  FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT basket) AS nb FROM bi),
        |freq AS (SELECT item, COUNT(*) AS n_item FROM bi GROUP BY 1),
        |p AS (
        |  SELECT x.item AS a_id, y.item AS b_id, COUNT(*) AS support
        |  FROM bi x JOIN bi y ON x.basket = y.basket AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT a_id, b_id, support,
        |  round(CAST(support AS DOUBLE) * nb /
        |        CAST(fa.n_item * fb.n_item AS DOUBLE), 6) AS lift
        |FROM p
        |JOIN freq fa ON p.a_id = fa.item
        |JOIN freq fb ON p.b_id = fb.item
        |CROSS JOIN n
        |ORDER BY a_id, b_id""".stripMargin,
    "q_graph_pagerank" ->
      s"""WITH ${DedupOps.ngramPairsSql},
         |edges(src, dst) AS (
         |  SELECT a_id, b_id FROM nearpairs
         |  UNION ALL SELECT b_id, a_id FROM nearpairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |pr0 AS (
         |  SELECT src AS id, deg, CAST($Scale AS BIGINT) AS pr FROM deg),
         |${(1 to Iters).map(prIterSql).mkString(",\n")}
         |SELECT id AS doc_id, deg AS degree, pr AS pr_scaled
         |FROM pr$Iters ORDER BY doc_id""".stripMargin)
}
