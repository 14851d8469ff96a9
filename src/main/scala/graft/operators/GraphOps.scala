package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distributed graph operators for corpus curation. The one that
  * matters at 100 TB is connected components: near-dup PAIRS (from
  * MinHash/SimHash banding) are only half of dedup — "keep one copy
  * per duplicate CLUSTER" needs the transitive closure of the pair
  * relation, and clusters routinely chain (A~B, B~C, A≁C).
  */
object GraphOps {

  /** Connected components by hash-to-min label propagation.
    *
    * `edges` has two long columns `src`, `dst` (undirected; one row per
    * pair is enough). Returns (node, lab) where lab = the minimum node
    * id in the component — a deterministic, collision-free cluster id.
    *
    * Scale design:
    *  - each round is a propagate step (join edges⋈labels on src, then
    *    a min-aggregate — the hash-to-min step) followed by a POINTER-
    *    DOUBLING shortcut (every label, itself a node id, is replaced
    *    by that node's label). Propagation alone needs diameter rounds;
    *    the shortcut halves remaining distance each round, so
    *    convergence is O(log diameter) — a 1M-hop chain closes in ~20
    *    rounds instead of 1M.
    *  - a checkpoint after every round truncates lineage — without it
    *    each iteration's plan embeds all previous ones and Catalyst
    *    re-optimizes an exponentially growing tree. When the session
    *    has a checkpoint dir configured (`sc.setCheckpointDir` /
    *    `spark.checkpoint.dir`), the RELIABLE `checkpoint()` is used:
    *    on a real cluster an executor loss mid-iteration invalidates
    *    non-replicated localCheckpoint blocks and the lineage is
    *    already gone. Without a dir (this harness's local[32]) it
    *    falls back to `localCheckpoint` — right call single-JVM.
    *  - convergence test is `isEmpty` on the changed-label diff: a
    *    driver boolean per round, never a collect of labels.
    *  - non-convergence within maxIter THROWS — truncated labels would
    *    silently split clusters downstream.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def save(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // materialize the edge list ONCE: without this every round's join
    // re-executes the upstream pair-generation pipeline (for
    // dedupClusters, the full SimHash banding) inside its own job.
    // Hash-partitioned by src BEFORE the checkpoint: the checkpointed
    // LogicalRDD keeps its outputPartitioning, so every round's
    // src-keyed propagate join reads it exchange-free (guide §2.4),
    // and AQE sizes the checkpoint's partitions by bytes instead of
    // inheriting the union's doubled source partitioning — per-round
    // stages then launch tasks proportional to the data.
    val sym = save(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")))
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = save(nodes.withColumn("lab", col("node")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // checkpointed before the doubling self-join: both join sides
      // read it, so an unmaterialized plan would run the propagate
      // join+aggregate twice per round
      val propagated = save(sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("lab"))
        .union(labels)
        .groupBy(col("node")).agg(min(col("lab")).as("lab")))
      // pointer doubling: lab := label(lab). Every lab IS a node id
      // (labels start as ids and min() keeps them in the id domain),
      // so the self-join always finds it.
      val next = save(propagated
        .join(propagated.select(col("node").as("lab"), col("lab").as("lab2")), Seq("lab"))
        .select(col("node"), col("lab2").as("lab")))
      converged = next.alias("n")
        .join(labels.alias("o"), Seq("node"))
        .filter(col("n.lab") < col("o.lab"))
        .isEmpty
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    labels
  }

  /** Duplicate clusters over the SimHash near-dup pair graph
    * (hamming ≤ 3 — exact duplicates hash identically, so they are a
    * subset of these edges). One row per clustered document:
    * cluster_id = min doc_id in the cluster, keep = 1 on that minimum
    * (the canonical survivor), cluster_size for audit. Documents with
    * no near-duplicate are not emitted — at scale you left-join this
    * table back to the corpus and treat null as "keep".
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    // memo, not a sameResult slot: the CC fixpoint's lineage ends in
    // per-invocation checkpoint RDDs, so its plan is never
    // sameResult-stable even though the data is deterministic — and
    // FIVE operators consume this table (cluster sizes, canonical
    // quality, leak-free split, dedup weights, the capstone); without
    // the memo each re-runs banding + the whole checkpointed fixpoint
    ResidentCache.memo(s, s"dedup_clusters@$dir",
        Tables.listingFingerprint(s, dir, "documents")) {
      val pairs = DedupOps.dedupSimHashPairs(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cc = connectedComponents(pairs)
      val w = Window.partitionBy(col("cluster_id"))
      cc.select(col("node").as("doc_id"), col("lab").as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("long"))
    }

  /** PageRank (3 power iterations, damping 0.85) over the undirected
    * SimHash near-dup graph — the centrality signal a curation pipeline
    * uses to pick the CANONICAL copy of a duplicate neighborhood (the
    * most-connected variant), complementing [[dedupClusters]]'s min-id
    * survivor rule.
    *
    * Exact integer arithmetic in micro-units so the fixpoint prefix is
    * oracle-replayable: share(u) = pr(u) div deg(u) computed per edge,
    * pr'(v) = 150000 + (850 · Σ shares) div 1000 — integer sums
    * commute, so the result is partitioning-independent (a float
    * PageRank would hash-drift across engines and reducer orders).
    *
    * Scale shape: each iteration is one edges⋈ranks equi-join on the
    * source key plus a dst-keyed sum — the same co-partitioned shuffle
    * pair as a round of [[connectedComponents]], no broadcast of
    * anything rank-sized. Fixed iteration count keeps the lineage
    * bounded (3 rounds; a convergence loop would reuse the
    * checkpoint-per-round machinery above).
    */
  def graphPageRank(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val pairs = DedupOps.dedupSimHashPairs(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    val deg0 = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // degree pre-joined ONCE and cached, src-partitioned so (a) every
    // iteration's edgesDeg⋈ranks equi-join on src reads the cache
    // exchange-free and (b) the cached partition count follows bytes
    // (AQE) instead of the union's doubled source partitioning
    val edgesDeg = ResidentCache(s, "graph_pr_edges",
      edges.join(deg0, Seq("src")).repartition(col("src")))
    // the (src, deg) table re-derived FROM the cache — deg is
    // functionally dependent on src in edgesDeg (one aggregate over
    // cached, already-src-partitioned rows), so the init/final
    // consumers stop re-running the union+groupBy lineage per rep
    val deg = edgesDeg.groupBy(col("src")).agg(max(col("deg")).as("deg"))
    var ranks = deg.select(col("src").as("id"), lit(1000000L).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("id"))
        .select(col("dst"), expr("pr div deg").as("share"))
      ranks = contrib.groupBy(col("dst")).agg(sum(col("share")).as("in_sum"))
        .select(col("dst").as("id"),
          (lit(150000L) + expr("(850 * in_sum) div 1000")).as("pr"))
    }
    ranks.join(deg, ranks("id") === deg("src"))
      .select(col("id").as("doc_id"), col("deg"), col("pr"))
  }

  /** Per-document triangle count + integer clustering coefficient over
    * the SimHash near-dup graph — the local-density signal that
    * separates a genuine duplicate NEIGHBORHOOD (template families,
    * boilerplate mirrors: triangles everywhere) from incidental pair
    * collisions (isolated edges: no triangles), refining what
    * [[dedupClusters]]'s transitive closure lumps together.
    *
    * Scale design — degree-ordered node-iterator (Suri &
    * Vassilvitskii, WWW'11 "Counting Triangles and the Curse of the
    * Last Reducer"): each undirected edge is oriented from the
    * (degree, id)-SMALLER endpoint to the larger, so every node's
    * out-degree is O(√m) regardless of raw skew — a hub with a
    * million neighbors generates wedges only toward its few
    * higher-rank peers, never the m² wedge explosion of a naive
    * neighbor self-join. Wedges (two out-edges of one node) then close
    * into triangles via ONE equi-join against the oriented edge list
    * on the composite (v, w) key. Three shuffles total (degree,
    * wedge self-join, closing join), all on bounded keys.
    *
    * cc_ppm = (2·tri·10⁶) div (deg·(deg−1)) — integer parts-per-
    * million so the oracle hashes exactly.
    */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = ResidentCache(s, "graph_tri_pairs",
      DedupOps.dedupSimHashPairs(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    triangleCounts(pairs)
  }

  /** Degree-ordered triangle counting over a canonical undirected edge
    * list `(a, b)` with `a < b`, one row per edge (the algorithm body
    * of [[graphTriangles]]; see its scaladoc for the design).
    * Returns (doc_id, deg, tri, cc_ppm) for every node with deg ≥ 1.
    */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("a").as("node")).unionByName(pairs.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id) rank: src = smaller endpoint; carry the
    // destination's rank so the wedge join can order out-neighbors
    // without another degree join
    val withDeg = pairs
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    val directed = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("dst_deg"))
    val directedC = ResidentCache(pairs.sparkSession, "graph_tri_directed", directed)
    // wedges: ordered out-neighbor pairs (v ranked below w) of each src
    val x = directedC.select(col("src"), col("dst").as("v"), col("dst_deg").as("v_deg"))
    val y = directedC.select(col("src"), col("dst").as("w"), col("dst_deg").as("w_deg"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("v_deg") < col("w_deg") ||
        (col("v_deg") === col("w_deg") && col("v") < col("w")))
    // close: the (v, w) edge must exist in the oriented list
    // each triangle increments all three corners; explode keeps it ONE
    // execution of the wedge+closing pipeline (a 3-way union of
    // projections would run the join three times)
    val tris = wedges.join(
      directedC.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
    val perNode = tris.groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("cc_ppm",
        when(col("deg") > 1, expr("(2000000 * tri) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
  }

  /** Canonical selection by QUALITY: within each near-dup cluster keep
    * the highest-quality member, not the lowest id — what production
    * dedup actually ships (the min-id rule of [[dedupClusters]] is the
    * deterministic baseline; the quality rule keeps the cleanest copy
    * of a template family). Quality here = the integer token count ×
    * alpha-ratio signal (longer, text-ier variants win), ties by lower
    * doc_id so the choice stays total and replayable.
    *
    * Shape: clusters come from the CC fixpoint; the per-cluster argmax
    * is ONE `max(struct(quality, -doc_id))` aggregate on the cluster
    * key — map-side combined, no window over the corpus, no driver
    * materialization.
    */
  def dedupCanonicalQuality(s: SparkSession, dir: String): DataFrame = {
    val quality = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(filter(split(TextOps.normalized(col("text")), " "), t => t =!= ""))
          .cast("long").as("n_toks"),
        expr("(1000 * length(regexp_replace(text, '[^A-Za-z]', ''))) div greatest(length(text), 1)")
          .as("alpha_milli"))
      .withColumn("quality", expr("n_toks * 1000L + alpha_milli"))
    val clusters = dedupClusters(s, dir).select(col("doc_id"), col("cluster_id"))
    val members = clusters.join(quality, Seq("doc_id"))
    // keepers is O(clusters) — co-partitioned shuffle join on the
    // cluster key, NOT a broadcast (cluster count grows with the corpus)
    val keepers = members
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("keeper_id"),
        col("best.quality").as("keeper_quality"))
    members.join(keepers, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("keeper_id"), (col("doc_id") === col("keeper_id")).cast("long").as("keep"))
  }

  /** k-core decomposition by iterative peeling (Matula & Beck 1983;
    * the distributed formulation of Montresor et al. 2013) over the
    * SimHash near-dup graph: repeatedly remove nodes with fewer than k
    * alive neighbors until none remain. The surviving 2-core separates
    * DENSE duplication neighborhoods (template families, mirror farms
    * — structure that survives peeling) from incidental pairwise
    * collisions (trees/chains — peeled away), refining what
    * [[graphTriangles]]' clustering coefficient measures pointwise.
    *
    * Rounds are UNROLLED to a fixed count, like the Lloyd iterations
    * in the IVF family: both engines run exactly `rounds` peels, so
    * the output is oracle-replayable without a fixpoint probe; the
    * spec asserts the graph actually converges within the bound (an
    * extra round changes nothing) and [[OpsSpec]] recounts against a
    * driver-side peel. Peeling is monotone — once the alive set stops
    * shrinking every later round is a no-op — so bounded unrolling is
    * exact whenever convergence lands inside the bound.
    *
    * Scale shape: each round = two semi-joins of the edge list against
    * the alive set (both endpoints alive) + one src-keyed count — the
    * same co-partitioned shuffle family as a [[connectedComponents]]
    * round; state per round is one (node, removed_round) row per node,
    * checkpointed to keep the 8-round lineage flat. No driver
    * materialization of anything node-sized.
    */
  def graphKCore(s: SparkSession, dir: String, k: Int = 2, rounds: Int = 8): DataFrame = {
    val pairs = DedupOps.dedupSimHashPairs(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    kCore(pairs, k, rounds)
  }

  private[graft] def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def save(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // src-partitioned before the checkpoint (same reasoning as
    // connectedComponents): deg0 and every round's first semi-join are
    // src-keyed, so they read the checkpoint exchange-free
    val sym = save(pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")))
    val deg0 = sym.groupBy(col("src")).agg(count(lit(1)).as("deg0"))
      .select(col("src").as("node"), col("deg0"))
    // removed_round = 0 while alive; set to the peel round on removal
    var state = save(deg0.select(col("node"), lit(0L).as("removed_round")))
    var r = 1
    var stable = false
    while (r <= rounds && !stable) {
      val alive = state.filter(col("removed_round") === 0L).select(col("node"))
      val aliveDeg = sym
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("d"))
        .select(col("src").as("node"), col("d"))
      // ONE checkpointed job per round: the peel verdict folds straight
      // into the state update (alive node under-degree ⇒ stamped with
      // this round; aliveDeg only carries alive keys, so removed nodes
      // pass through untouched) — the former separate `dropped`
      // checkpoint re-paid a second eager job per round for the same
      // semi-join work
      state = save(state.join(aliveDeg, Seq("node"), "left")
        .select(col("node"),
          when(col("removed_round") === 0L && coalesce(col("d"), lit(0L)) < k,
            lit(r.toLong)).otherwise(col("removed_round")).as("removed_round")))
      // peeling is monotone: an empty peel means every remaining round
      // is a no-op, so exiting early returns EXACTLY the unrolled
      // result while skipping the dead rounds' job overhead (a driver
      // boolean per round, same discipline as connectedComponents); the
      // probe is a scan of the just-checkpointed node-sized state
      if (state.filter(col("removed_round") === r.toLong).isEmpty) stable = true
      r += 1
    }
    state.join(deg0, Seq("node"))
      .select(col("node").as("doc_id"), col("deg0"), col("removed_round"),
        (col("removed_round") === 0L).cast("long").as("in_core"))
  }

  /** Semi-supervised label propagation (Zhu-Ghahramani style majority
    * vote, unrolled rounds) over the SimHash near-dup graph: seed
    * nodes (doc_id % 3 == 0) carry their known `lang`; each round
    * every node adopts the most frequent label among its labeled
    * neighbors (tie → lexicographically smallest label), seeds stay
    * clamped. The curation use: spread a trusted-subset annotation
    * (human lang labels, license class, toxicity flags) across a
    * duplicate neighborhood without scoring every member.
    *
    * Determinism: majority + total-order tie-break, so the result is
    * partitioning-independent and the unrolled rounds replay as DuckDB
    * CTEs. Scale shape per round: one edges⋈labels equi-join on src,
    * a map-side-combined `groupBy(node, label)` count, then the argmax
    * window runs over ≤ |labels| rows per node (label cardinality,
    * NOT degree — the groupBy collapsed degree already), so a hub
    * node costs the same as a leaf in the window stage.
    */
  def graphLabelProp(s: SparkSession, dir: String, rounds: Int = 2): DataFrame = {
    val reliable = s.sparkContext.getCheckpointDir.isDefined
    def save(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val docs = Tables.load(s, dir, "documents")
    val pairs = DedupOps.dedupSimHashPairs(s, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // materialize ONCE: edges appear in every round's plan (and seeds /
    // nodes derive from them) — unmaterialized, each reference re-runs
    // the full SimHash banding pipeline (measured 6.5 s → 2.1 s at
    // sf0.1 from this checkpoint alone)
    val edges = save(pairs
      .unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      // src-partitioned before the checkpoint: every round's
      // edges⋈labels propagate join is src-keyed (guide §2.4)
      .repartition(col("src")))
    val nodes = edges.select(col("src").as("node")).distinct()
    val seeds = save(nodes.filter(col("node") % 3 === 0)
      .join(docs.select(col("doc_id").as("node"), col("lang").as("seed_label")), Seq("node")))
    var labels = save(nodes.join(seeds, Seq("node"), "left")
      .select(col("node"), col("seed_label").as("label")))
    for (_ <- 1 to rounds) {
      val cand = edges
        .join(labels.filter(col("label").isNotNull)
          .select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("node"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("node")).orderBy(col("cnt").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("node"), col("label").as("new_label"))
      labels = save(labels
        .join(seeds, Seq("node"), "left")
        .join(cand, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("seed_label"), col("new_label"), col("label")).as("label")))
    }
    labels.select(col("node").as("doc_id"), col("label"),
      (col("node") % 3 === 0).cast("long").as("is_seed"))
  }

  /** Duplicate-cluster size histogram (log2 buckets) — the audit
    * report read AFTER [[dedupClusters]]: a corpus whose mass sits in
    * a few giant clusters needs different dedup economics (and
    * different LSH parameters) than one full of pairs, and this is
    * the one-page number that says which. Shape: the CC fixpoint,
    * then two count aggregations — cluster-keyed, then over the
    * cluster-count-sized table (≤ one row per cluster). Bucket =
    * floor(log2(size)) via the floored-bits device.
    */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    // derives from the memoized [[dedupClusters]] table — the fixpoint
    // runs once for the whole cluster-consumer family
    dedupClusters(s, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy((length(bin(col("sz"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).cast("long").as("n_docs"))

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    * over the SimHash near-dup graph: score each NON-edge pair (u, v)
    * that shares ≥ `minCn` neighbors by
    *   cn      = |N(u) ∩ N(v)|
    *   ra_ppm  = Σ_{w ∈ N(u)∩N(v)} 10⁶ div deg(w)    (resource allocation)
    *   jac_ppm = 10⁶·cn div (deg(u) + deg(v) − cn)   (neighborhood Jaccard)
    * The classic Adamic-Adar 1/ln(deg) weight is deliberately replaced
    * by resource allocation (Zhou, Lü & Zhang 2009 — RA dominates AA on
    * dense graphs) because RA is integer-exact in ppm, so the oracle
    * hashes bit-for-bit. In a curation pipeline these are the "missed
    * duplicate" candidates: pairs the LSH banding did not emit but whose
    * shared near-dup neighborhoods say to re-check with a full verify.
    *
    * Scale shape: wedges are generated per COMMON NEIGHBOR w as pairs
    * of w's neighbors — deg(w)² fanout — so wedge CENTERS are capped at
    * `maxDeg` (a hub contributes ≤ 10⁶/maxDeg per pair to RA and mostly
    * noise to CN; dropping high-degree centers is the standard LP hub
    * guard and bounds per-node fanout at maxDeg²). Endpoint degrees in
    * the Jaccard denominator stay UNCAPPED (true degrees). After the
    * wedge groupBy, one left-anti equi-join removes existing edges and
    * two degree equi-joins finish the score — no cartesian anywhere.
    *
    * Edge basis: [[DedupOps.shingleShareEdges]] (docs sharing ≥ 2 rare
    * shingles) — the SimHash hamming ≤ 3 graph is near-transitively
    * closed (exact-dup cliques), so it has no open wedges to predict
    * over; the topical shingle-share graph does.
    */
  def graphLinkPred(s: SparkSession, dir: String,
      minCn: Long = 2L, maxDeg: Long = 64L): DataFrame =
    linkPredScores(lpEdges(s, dir), minCn, maxDeg)

  /** The resident shingle-share edge list link prediction and
    * modularity score over — one def builds the slot's plan.
    */
  private def lpEdges(s: SparkSession, dir: String): DataFrame =
    ResidentCache(s, "graph_lp_edges", DedupOps.shingleShareEdges(s, dir))

  /** Kernel over a canonical (a < b) undirected edge list — split out
    * so the spec can drive it with a brute-forceable fixture.
    */
  private[graft] def linkPredScores(pairs: DataFrame,
      minCn: Long, maxDeg: Long): DataFrame = {
    // ONE w-partitioned MATERIALIZATION serves the whole wedge
    // pipeline (guide §2.4): the degree aggregate (referenced three
    // times — nbc and both endpoint-degree joins), the nb⋈deg join,
    // and both wedge sides all consume nb, but column pruning pushes a
    // different projection into each reference's exchange, so a shared
    // exchange alone never reuses (measured: six separately-executed
    // copies of the same shuffle). Caching the w-partitioned table
    // collapses them to one build + cheap cached scans, and the cached
    // plan's hash(w) partitioning makes every downstream w-keyed
    // operator exchange-free. A/B at sf0.1 (warm medians): shared
    // pinned exchange 5.05 s → cached 1.89 s.
    val nb = ResidentCache(pairs.sparkSession, "graph_lp_nb",
      pairs.select(col("a").as("w"), col("b").as("n"))
        .unionByName(pairs.select(col("b").as("w"), col("a").as("n")))
        .repartition(col("w")))
    val deg = nb.groupBy(col("w")).agg(count(lit(1)).as("deg"))
    // wedge centers: hub guard ON the center only. NOT pinned resident:
    // unlike dedupCdc/ppjoin, recomputing this from the cached edge
    // table is cheaper than a cache round-trip (measured 5.4 s vs
    // 8.4 s pinned at sf0.1 — the wedge self-join pipelines straight
    // out of the union+join, and materializing 100k rows per rep costs
    // more than the recompute it saves)
    val nbc = nb.join(deg, Seq("w")).filter(col("deg") <= maxDeg)
    val wedges = nbc.select(col("w"), col("n").as("u"), col("deg"))
      .join(nbc.select(col("w"), col("n").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    val scored = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div deg")).as("ra_ppm"))
      .filter(col("cn") >= minCn)
    val nonEdge = scored.join(pairs,
      scored("u") === pairs("a") && scored("v") === pairs("b"), "left_anti")
    nonEdge
      .join(deg.select(col("w").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("w").as("v"), col("deg").as("deg_v")), Seq("v"))
      .select(col("u").as("doc_u"), col("v").as("doc_v"), col("cn"),
        col("ra_ppm"),
        expr("1000000 * cn div (deg_u + deg_v - cn)").as("jac_ppm"))
  }

  /** Source-partition modularity terms (Newman & Girvan 2004) over the
    * rare-shingle co-occurrence graph ([[DedupOps.shingleShareEdges]]):
    * for each `source`, how many content-overlap edges stay INSIDE the
    * source vs what a degree-preserving random graph would predict.
    * Q = Σ_s (cov_s − exp_s) with
    *   cov_ppm = 10⁶·m_s div m          (intra-source edge fraction)
    *   exp_ppm = 10⁶·d_s² div (4m²)     (random expectation)
    * High cov−exp ⇒ duplication is an intra-source phenomenon (crawl
    * re-fetches; dedup per source suffices); cov ≈ exp ⇒ cross-source
    * mirror contamination — dedup must run globally. Both terms are
    * nonnegative integers (exp in DECIMAL(38) internally: d_s² overflows
    * a long once d_s > 3·10⁹ half-edges, real at 100 TB), so the oracle
    * hashes exactly and truncation direction never matters.
    *
    * Scale shape: two corpus-keyed equi-joins tag edge endpoints with
    * sources, then everything aggregates to ≤ |sources| rows; the two
    * graph totals (m, Σd) ride in on a broadcast 1-row cross join.
    */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val pairs = lpEdges(s, dir)
    val src = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    modularityTerms(pairs, src)
  }

  /** Kernel over a canonical (a < b) edge list + (doc_id, source)
    * labels — split out so the spec can brute-force a fixture.
    */
  private[graft] def modularityTerms(pairs: DataFrame, src: DataFrame): DataFrame = {
    val tagged = pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
    // half-edge view: every edge contributes one half per endpoint, each
    // carrying an intra flag — so ONE source-keyed aggregate yields both
    // d_s (= half count) and m_s (= Σ intra div 2: an intra edge donates
    // two flagged halves), and m falls out of Σ d_s = 2m. The edge
    // tagging therefore runs ONCE; a per-term spelling (separate dSum /
    // mIntra / totals scans) would re-join the corpus three times.
    val halves = tagged.select(col("src_a").as("source"),
        (col("src_a") === col("src_b")).cast("long").as("intra"))
      .unionByName(tagged.select(col("src_b").as("source"),
        (col("src_a") === col("src_b")).cast("long").as("intra")))
    val bySrc = halves.groupBy(col("source"))
      .agg(count(lit(1)).as("d_sum"), expr("sum(intra) div 2").as("m_intra"))
    val totals = bySrc.agg(expr("sum(d_sum) div 2").as("m"))
    bySrc.crossJoin(broadcast(totals))
      .select(col("source"), col("m"), col("m_intra"), col("d_sum"),
        expr("1000000 * m_intra div m").as("cov_ppm"),
        expr("CAST((1000000 * CAST(d_sum AS DECIMAL(38,0)) * d_sum) div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)")
          .as("exp_ppm"))
  }
}
