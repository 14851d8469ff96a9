package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Determinism trick for the oracle: embeddings are quantized to integer
  * milli-units (round(x*1000)::long) so dot products and squared norms
  * are exact integers; cosine = dot/(sqrt(na)*sqrt(nb)) is then a
  * bit-identical double in any engine. Ranking ties broken by id.
  *
  * Scale design: the corpus is NEVER collected or broadcast — only
  * bounded-by-construction sets are (the probe set, the centroid
  * table). Brute-force top-k broadcasts the probes and streams the
  * corpus once; exact near-dup is a triangular block self-join; the
  * LSH variant buckets by random-hyperplane sign bits so candidate
  * generation is a bucket equi-join, the standard ANN pattern at
  * 100 TB corpus scale.
  */
object SimilarityOps {
  /** Quantized vectors with their squared norm computed ONCE per vector
    * (not per candidate pair — at N×N pair scale that would redo N× the
    * work and dominate the scan).
    */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame =
    quantizedOf(Tables.loadFanout(s, dir, "embeddings"))

  /** The corpus's resident [[quantized]] vectors, shared by the IVF, PQ
    * and diversity families — one def builds the slot's plan.
    */
  private def residentQuantized(s: SparkSession, dir: String): DataFrame =
    ResidentCache(s, "sim_quantized", quantized(s, dir))

  /** The listing stamp of the corpus's embeddings, for keyed memos. */
  private def embStamp(s: SparkSession, dir: String): String =
    Tables.listingFingerprint(s, dir, "embeddings")

  /** Brute-force cosine top-5 neighbors for the first 10 query vectors.
    *
    * Scale shape: the PROBE set is the bounded side (10 vectors by
    * construction) — it is collected and broadcast; the corpus streams
    * through `mapPartitions` exactly once with a per-partition, per-probe
    * bounded heap (size k), so driver/executor memory is O(probes × k)
    * regardless of corpus size. Per-partition top-k under the final
    * ordering (cos desc, cid asc) is a superset of the global top-k, so
    * the merge (a window over ≤ partitions × probes × k rows) is exact.
    * The tight JVM loop beats interpreted `aggregate`/`zip_with`
    * higher-order expressions ~25x for 64-dim integer dot products.
    */
  def simTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val k = 5
    val e = quantized(s, dir)
    // bounded by construction: first 10 vec_ids only
    val probes: Array[(Long, Array[Long], Double)] = e.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("q"), col("nq")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, math.sqrt(r.getLong(2).toDouble)))
    val bc = s.sparkContext.broadcast(probes)
    val outSchema = StructType(Seq(
      StructField("qid", LongType), StructField("cid", LongType),
      StructField("dot", LongType), StructField("cos", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    // worst-first ordering so the heap root is the candidate to evict
    val worstFirst = Ordering.by[(Double, Long, Long), (Double, Long)](t => (-t._1, t._2))
    val partials = e.select(col("vec_id"), col("q"), col("nq")).mapPartitions { rows =>
      val ps = bc.value
      val heaps = ps.map(_ => new scala.collection.mutable.PriorityQueue[(Double, Long, Long)]()(worstFirst))
      rows.foreach { r =>
        val cid = r.getLong(0)
        val cv = r.getSeq[Long](1).toArray
        val sqrtNb = math.sqrt(r.getLong(2).toDouble)
        var p = 0
        while (p < ps.length) {
          val (qid, qv, sqrtNa) = ps(p)
          if (cid != qid) {
            var dot = 0L; var i = 0
            while (i < qv.length) { dot += qv(i) * cv(i); i += 1 }
            val cos = dot / (sqrtNa * sqrtNb)
            val h = heaps(p)
            if (h.size < k) h.enqueue((cos, cid, dot))
            else if (worstFirst.lt((cos, cid, dot), h.head)) { h.dequeue(); h.enqueue((cos, cid, dot)) }
          }
          p += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, p) =>
        h.iterator.map { case (cos, cid, dot) => Row(ps(p)._1, cid, dot, cos) }
      }
    }(enc)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    partials
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("dot"), col("cos"), col("rn"))
  }

  /** All near-duplicate pairs with cosine ≥ 0.4 (embedding-cosine dedup;
    * threshold sits in the top-0.1% tail of this corpus's similarity
    * distribution — the synthetic embeddings have no true near-dups).
    *
    * This is the EXACT ground-truth operator, so the work is inherently
    * all-pairs; what must not be all-in-one-place is the data. We use a
    * triangular block self-join (the classic θ-join tiling, Okcan &
    * Riedewald SIGMOD'11): rows land in B blocks by `vec_id % B`; each
    * unordered block pair (i ≤ j) is one join key, so the cross product
    * is computed by B(B+1)/2 independent tasks, each holding two blocks
    * at most — no driver collect, no full-corpus broadcast, replication
    * factor ≈ B per side. B scales like sqrt(#cores) (8 here for
    * local[32]; a 1000-executor cluster would use B ≈ 64). The
    * sub-quadratic scale path for higher thresholds is the LSH/IVF
    * family ([[simLshTopK]]/[[simIvfTopK]]); at cos ≥ 0.4 (θ ≈ 66°)
    * sign-LSH collision gaps are too small to prune without recall loss,
    * so exact-by-contract means blocked all-pairs.
    */
  def embNearDup(s: SparkSession, dir: String): DataFrame = {
    val minCos = 0.4
    triangularPairs(quantized(s, dir), nBlocks = 8)
      .withColumn("cos", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos") >= minCos)
      .select(least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        col("dot"), col("cos"))
  }

  /** Every distinct unordered vector pair scored EXACTLY ONCE via the
    * triangular block tiling ([[embNearDup]]'s scale argument): rows
    * land in B blocks by id, each unordered block pair (i ≤ j) is one
    * join key → B(B+1)/2 independent tasks, replication ≈ B per side,
    * no collect/broadcast of the corpus. Emits (ida, idb, dot, na, nb);
    * ida < idb is NOT guaranteed (cross-block order is by block, not id).
    */
  private[graft] def triangularPairs(e0: DataFrame, nBlocks: Int): DataFrame = {
    val e = e0.withColumn("blk", pmod(col("vec_id"), lit(nBlocks)).cast("int"))
    // i-side: a row in block b serves every pair (b, j) with j >= b
    val left = e
      .withColumn("pj", explode(expr(s"sequence(blk, ${nBlocks - 1})")))
      .select(col("vec_id").as("ida"), col("q").as("qa"), col("nq").as("na"),
        col("blk").as("pi"), col("pj"))
    // j-side: a row in block b serves every pair (i, b) with i <= b
    val right = e
      .withColumn("pi", explode(expr("sequence(0, blk)")))
      .select(col("vec_id").as("idb"), col("q").as("qb"), col("nq").as("nb"),
        col("pi"), col("blk").as("pj"))
    left.join(right, Seq("pi", "pj"))
      // same-block pairs appear in both orientations: keep one; cross-block
      // pairs appear exactly once (ida's block == pi, idb's block == pj)
      .filter((col("pi") =!= col("pj")) || (col("ida") < col("idb")))
      .filter(col("ida") =!= col("idb"))
      // the native dot expression keeps scoring inside whole-stage
      // codegen right through the filter (no mapPartitions break)
      .withColumn("dot", expr("dot_i64(qa, qb)"))
      .select(col("ida"), col("idb"), col("dot"), col("na"), col("nb"))
  }

  /** Exact k-nearest-neighbor GRAPH: for EVERY corpus vector, its k
    * nearest neighbors by cosine (ties by neighbor id) — the backbone
    * structure of graph-based curation (SemDeDup-style cluster pruning,
    * NN-descent seeding, label propagation over embeddings).
    *
    * Scale shape: pair scoring reuses the triangular block tiling (the
    * all-pairs work is inherent to an EXACT kNN graph; what must not
    * happen is any single task or the driver holding the corpus). Each
    * unordered pair is scored once and emitted in both orientations,
    * then per-source top-k is ONE row_number window on src — and the
    * rank ≤ k filter compiles to WindowGroupLimit (pinned in PlanSpec),
    * so each map task keeps only its local top-k per src before the
    * shuffle: shuffled bytes are O(N·k·partitions), not O(N²). The
    * sub-quadratic scale path at higher thresholds is seeding from the
    * IVF cells ([[simIvfTopK]]) — the exact operator is the recall
    * oracle those approximations are judged against.
    */
  def simKnnGraph(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val pairs = triangularPairs(quantized(s, dir), nBlocks = 8)
    // Both orientations by EXPLODING each scored pair into two structs
    // (one Generate): the union-of-two-selects alternative re-executes
    // the whole block join + dot scan per branch — with the rank-limit
    // now a streaming aggregate (below) the join IS the dominant cost,
    // and the single-pass explode measured 3.8 s vs the union's 6.6 s
    // at sf1 (ProfileKnn, BENCH_SCALE.md).
    val directed = pairs.select(explode(array(
        struct(col("ida").as("src"), col("idb").as("nbr"), col("dot"),
          col("na").as("ns"), col("nb").as("nn")),
        struct(col("idb").as("src"), col("ida").as("nbr"), col("dot"),
          col("nb").as("ns"), col("na").as("nn")))).as("e"))
      .select(col("e.*"))
      .withColumn("cos", col("dot") / (sqrt(col("ns")) * sqrt(col("nn"))))
    // Rank-limit as a BOUNDED HASH AGGREGATE, not a window: the
    // row_number spelling locally sorts every scored candidate before
    // WindowGroupLimit can drop any (measured 150 s at sf1 vs the
    // aggregate's 7 s — the scaling probe's first super-linear find,
    // BENCH_SCALE.md), while knn_topk keeps one k-slot buffer per src
    // with map-side partial merge, so nothing ever sorts and the
    // shuffle carries ≤ k neighbors per (partition, src). Ordering and
    // tie-breaks are the window spelling's exactly ((cos DESC, nbr
    // ASC) inside the buffer), so the oracle hash is unchanged.
    directed
      .groupBy(col("src"))
      .agg(graft.functions.TopKByAgg.knnTopK(
        col("cos"), col("nbr"), col("dot"), k).as("nb"))
      .select(col("src"), posexplode(col("nb")).as(Seq("pos", "e")))
      .select(col("src"), col("e.nbr").as("nbr"), col("e.dot").as("dot"),
        col("e.cos").as("cos"), (col("pos") + 1).as("rn"))
  }

  /** Lloyd iterations refining IVF centroids, expressed as DataFrame
    * ops: assign each vector to its nearest centroid (broadcast kernel,
    * one corpus pass), then recompute each cell's elementwise mean via
    * posexplode → groupBy(cell, pos) → re-assemble — two bounded
    * shuffles per iteration, centroid table stays k rows. Means are
    * re-quantized to bigint so the integer dot kernel contract holds.
    */
  /** Nearest-centroid assignment as a pure-Column plan: broadcast the
    * (bounded) centroid table, score with the native integer kernel,
    * argmax via max(struct(cos, −id)) — map-side combined, so the
    * 16× candidate blowup collapses to one row per vector per map
    * task BEFORE the shuffle. Pure expressions (no mapPartitions
    * closure) keep the plan `sameResult`-canonical, so the resident
    * cache actually reuses the trained assignment across the IVF
    * family instead of re-running the Lloyd chain per consumer.
    */
  private def assignCells(e: DataFrame, centroids: DataFrame): DataFrame =
    assignCellsScored(e, centroids).select(col("vec_id"), col("cell"))

  /** Nearest-centroid assignment WITH the winning cosine — the drift
    * monitor needs the distance, the plain assignment does not.
    */
  private def assignCellsScored(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        (expr("dot_i64(q, cq)").cast("double") /
          (sqrt(col("nq")) * sqrt(col("cn")))).as("cos"),
        col("centroid_id"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("centroid_id")).as("neg"))).as("b"))
      .select(col("vec_id"), (-col("b.neg")).as("cell"), col("b.cos").as("cos"))

  private def kmeansRefine(
      s: SparkSession, e: DataFrame, centroids0: DataFrame, iters: Int): DataFrame = {
    var centroids = centroids0
    for (_ <- 1 to iters) {
      val assign = assignCells(e, centroids)
      centroids = e.join(assign, Seq("vec_id"))
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "v")))
        // exact long sum then ONE double division — bit-replayable in
        // the DuckDB oracle (Spark's avg(long) accumulates doubles)
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("v")).cast("double") / count(col("v")).cast("double")).as("m"))
        .groupBy(col("cell")).agg(
          expr("transform(array_sort(collect_list(struct(pos, m))), x -> cast(round(x.m) as bigint))")
            .as("cq"))
        .select(col("cell").as("centroid_id"), col("cq"),
          expr("dot_i64(cq, cq)").as("cn"))
    }
    centroids
  }

  /** IVF (inverted-file) ANN: partition the corpus into cells around
    * centroid vectors; a query probes only its nProbe nearest cells.
    * Centroids = a deterministic corpus sample refined by 3 Lloyd
    * iterations ([[kmeansRefine]]) — real k-means, distributed. The
    * cell assignment is a broadcast of the centroid table (tiny)
    * against the corpus (one pass), and the probe join is a bucket
    * equi-join — the 100 TB-safe shape.
    * Approximate (probe misses cells) → rows-only driver check.
    */
  /** Shared IVF/k-means front half: strided deterministic seed over the
    * id RANGE, 3 Lloyd iterations, and the final nearest-centroid
    * assignment. Returns (refined centroids, per-vector cell
    * assignment). `e` must be [[quantized]] output (cached by caller —
    * it is scanned once per Lloyd iteration).
    */
  private def kmeansCells(s: SparkSession, e: DataFrame, dir: String): (DataFrame, DataFrame) =
    kmeansCellsOf(s, e, dir, embStamp(s, dir))

  /** Same, keyed by an explicit cache tag — lets the drift monitor
    * train a FROZEN index on a corpus subset without colliding with
    * the full-corpus IVF family's resident slots. `stamp` is the
    * listing stamp of the tables `e` reads: the trained centroids are
    * reused until it changes.
    */
  private def kmeansCellsOf(s: SparkSession, e: DataFrame, cacheTag: String,
      stamp: String): (DataFrame, DataFrame) = {
    val nCentroids = 16
    // deterministic strided sample over the ID RANGE (no LIMIT — order-
    // independent and replayable by the SQL oracle; anchored at min so
    // sparse or offset id spaces still yield centroids)
    val bounds = e.agg(min(col("vec_id")), max(col("vec_id"))).head()
    val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
    val step = math.max(1L, (maxId - minId + 1) / nCentroids)
    val seed = e.filter((col("vec_id") - minId) % step === 0 &&
        col("vec_id") - minId < step * nCentroids)
      .select(col("vec_id").as("centroid_id"), col("q").as("cq"), col("nq").as("cn"))
    // resident slots: the trained centroids + assignment are shared by
    // the whole IVF family (simIvfTopK, semDedup, simIvfPqTopK, index
    // persistence, diversity evals) — without them every consumer
    // re-runs the 3-iteration Lloyd chain from the corpus scan
    // the 16-row trained model memoizes driver-side (LocalRelation) so
    // downstream plans are sameResult-stable — the Lloyd chain itself
    // carries lambda expressions that defeat plan-cache canonical
    // matching, which would silently retrain per consumer
    val centroids = ResidentCache.localModel(s, s"sim_ivf_centroids@$cacheTag", stamp) {
      kmeansRefine(s, e, seed, iters = 3)
    }
    // assign every vector to its nearest centroid (broadcast centroids)
    val assigned = ResidentCache(s, s"sim_ivf_cells@$cacheTag", assignCells(e, centroids))
    (centroids, assigned)
  }

  def simIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val nProbe = 4
    val e = residentQuantized(s, dir)
    val (centroids, assigned) = kmeansCells(s, e, dir)
    val cells = e.join(assigned, Seq("vec_id"))
    // queries probe their nProbe nearest cells
    val probes = pairScoresAgainst(s, e.filter(col("vec_id") < 10), centroids, topPerProbe = nProbe)
      .select(col("qid"), col("cid").as("cell"))
    // the index's BOUNDED answer table (5 × |probes| rows) is resident:
    // the recall eval and the RRF fusion re-join exactly this table —
    // the bm25_topk discipline from r15 (bounded outputs only, never
    // corpus-sized ones); rep-1 build cost is visible in queries_cold
    ResidentCache(s, "sim_ivf_topk_result", ivfRescore(s, e, probes, cells))
  }

  /** Exact re-score of the probed cells' members — shared by the
    * in-memory and persisted-index IVF paths so both produce the
    * identical ranking.
    */
  private def ivfRescore(s: SparkSession, e: DataFrame, probes: DataFrame,
      cells: DataFrame): DataFrame = {
    val cand = ivfCandidates(e, probes, cells)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("cos"), col("rn"))
  }

  /** Exact-scored candidates of the probed cells (qid, cid, cos) —
    * the shared front half of the IVF top-k and radius paths.
    */
  private def ivfCandidates(e: DataFrame, probes: DataFrame,
      cells: DataFrame): DataFrame = {
    val qside = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nq").as("qn"))
      .join(probes, Seq("qid"))
    // candidates = vectors in probed cells only, then exact re-score
    qside.join(
        cells.select(col("vec_id").as("cid"), col("q").as("cv"), col("nq").as("cn2"), col("cell")),
        Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        expr("dot_i64(qv, cv)").as("dot"),
        col("qn"), col("cn2"))
      .withColumn("cos", col("dot") / (sqrt(col("qn")) * sqrt(col("cn2"))))
      .dropDuplicates("qid", "cid")
  }

  /** Radius (range) search on the IVF path: every corpus vector within
    * cosine ≥ τ of each probe, restricted to the probe's nProbe nearest
    * cells — the "find ALL matches above a similarity bar" query that
    * top-k cannot express (k is unknown a priori: a dedup sweep wants
    * every near-copy, not the best 5). Same probes, same exact
    * re-score, same plan shape as [[simIvfTopK]]; only the tail differs
    * (a filter instead of a per-probe window), so the radius query
    * inherits the index's scan-pruning story unchanged — at 100 TB the
    * persisted layout reads nProbe partition directories per probe and
    * the filter is row-local, no window at all.
    */
  def simIvfRadius(s: SparkSession, dir: String, tauMilli: Long = 300L,
      nProbe: Int = 4): DataFrame = {
    val e = residentQuantized(s, dir)
    val (centroids, assigned) = kmeansCells(s, e, dir)
    val cells = e.join(assigned, Seq("vec_id"))
    val probes = pairScoresAgainst(s, e.filter(col("vec_id") < 10), centroids, topPerProbe = nProbe)
      .select(col("qid"), col("cid").as("cell"))
    ivfCandidates(e, probes, cells)
      .filter(col("cos") >= tauMilli.toDouble / 1000.0)
      .select(col("qid"), col("cid"), col("cos"))
  }

  /** IVF index STALENESS monitor — the observability half of the index
    * lifecycle (train → persist → fsck/compact/rebalance → and now:
    * know WHEN to rebalance): a frozen index trained on the
    * already-ingested slice (vec_id % 10 < 8, the suite's split
    * convention) is probed by the new arrivals, and each cell reports
    * how well it covers them vs its own training members:
    *
    *   - `cos_drift_ppm` = avg assignment cosine of training members −
    *     avg of new members (positive ⇒ new data sits farther from the
    *     centroid: distribution shift the index wasn't trained for);
    *   - `load_ratio_ppm` = the cell's share of new vectors relative
    *     to its training share (≫ 10⁶ ⇒ a hot cell filling up — the
    *     rebalance trigger).
    *
    * All outputs are exact integers (per-vector cosines floor-scaled
    * to ppm BEFORE summing — never a float sum), so the DuckDB oracle
    * hash-verifies the monitor end to end. Cells no new vector reaches
    * report −1 averages and 0 load (sentinels, not NULLs, for exact
    * replay). Scale shape: two broadcast assignments + two bounded
    * (≤ 16-row) aggregates; the quadratic load numerator takes
    * DECIMAL(38) headroom.
    */
  /** The drift monitor's frozen index: centroids trained on the
    * already-ingested slice only. Public so the streaming twin can
    * persist the exact model [[simIndexDrift]] scores against.
    */
  def driftCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = residentQuantized(s, dir)
    kmeansCellsOf(s, e.filter(pmod(col("vec_id"), lit(10)) < 8), s"drift@$dir",
      embStamp(s, dir))._1
  }

  /** Scored assignment of raw (vec_id, embedding) rows against frozen
    * centroids → (vec_id, cell, cos_ppm): the per-vector record the
    * streaming drift monitor lands each tick; [[simIndexDrift]]'s cell
    * aggregates derive from exactly these values.
    */
  def driftAssignWith(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    assignCellsScored(quantizedOf(vectors), centroids)
      .select(col("vec_id"), col("cell"),
        expr("CAST(FLOOR(cos * 1000000) AS BIGINT)").as("cos_ppm"))
  }

  def simIndexDrift(s: SparkSession, dir: String): DataFrame =
    simIndexDriftOf(s, residentQuantized(s, dir), s"drift@$dir", embStamp(s, dir))

  /** [[simIndexDrift]] over an ALREADY-QUANTIZED (vec_id, q, nq) input —
    * the model-callable surface ([[graft.exec.GraftOps]] routes a
    * `graft_op: sim_index_drift` model here over its declared
    * embeddings input). `stamp` is the listing stamp of what `e` reads.
    */
  def simIndexDriftOf(s: SparkSession, e: DataFrame, cacheTag: String,
      stamp: String): DataFrame = {
    val isNew = pmod(col("vec_id"), lit(10)) >= 8
    val (centroids, _) = kmeansCellsOf(s, e.filter(!isNew), cacheTag, stamp)
    def scored(side: DataFrame): DataFrame =
      assignCellsScored(side, centroids)
        .select(col("cell"), expr("CAST(FLOOR(cos * 1000000) AS BIGINT)").as("cos_ppm"))
    driftAggregates(scored(e.filter(!isNew)), scored(e.filter(isNew)))
  }

  /** Cluster-balanced subsample — the diversity-preserving budget
    * selection training-data pipelines use instead of uniform random
    * sampling (mode collapse: mega-clusters swamp rare ones). Every
    * vector joins its IVF cell (shared resident assignment), each cell
    * gets an EQUAL share of the budget, and within a cell the lowest
    * vec_ids are admitted (deterministic, oracle-replayable).
    *
    * Scale shape: centroids broadcast; per-cell admission runs through
    * the bounded `min_k` TypedImperativeAggregate — state is O(quota)
    * per cell, so there is never a per-cell sort no matter how large a
    * cell grows (k=16 cells would make a rank window catastrophically
    * skewed at 100 TB).
    */
  def simClusterSample(s: SparkSession, dir: String, budget: Long = 800L): DataFrame = {
    val e = residentQuantized(s, dir)
    val (_, assigned) = kmeansCells(s, e, dir)
    val perCell = (budget + 15L) / 16L
    val picked = assigned.groupBy(col("cell"))
      .agg(expr(s"min_k(vec_id, $perCell)").as("ids"))
      .select(explode(col("ids")).as("vec_id"), lit(1L).as("picked"))
    assigned.join(picked, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("picked"), lit(0L)).as("picked"))
  }

  /** Quantize raw (vec_id, embedding) rows to the integer-exact (q, nq)
    * shape every cosine operator here consumes.
    */
  def quantizedOf(vectors: DataFrame): DataFrame =
    vectors.select(
      col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
      .withColumn("nq", expr("dot_i64(q, q)")) // native codegen'd dot (functions.DotI64)

  /** The drift monitor's aggregate tail over two (cell, cos_ppm) sides
    * — shared by the corpus operator and the persisted-index CLI report.
    */
  private def driftAggregates(oldScored: DataFrame, newScored: DataFrame): DataFrame = {
    val oldAgg = oldScored.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_old"), sum(col("cos_ppm")).as("sum_old"))
    val newAgg = newScored.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_new"), sum(col("cos_ppm")).as("sum_new"))
    val totals = oldAgg.agg(sum(col("n_old")).as("tot_old"))
      .crossJoin(newAgg.agg(sum(col("n_new")).as("tot_new")))
    // FULL outer: a cell only NEW vectors reach (its centroid ended up
    // with zero training members) is the STRONGEST drift signal and
    // must appear in the report — n_old = 0 with -1 ratio sentinels
    // (no training baseline), the mirror of the no-new sentinels
    oldAgg.join(newAgg, Seq("cell"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(col("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(expr("sum_old div n_old"), lit(-1L)).as("avg_cos_old_ppm"),
        coalesce(expr("sum_new div n_new"), lit(-1L)).as("avg_cos_new_ppm"),
        coalesce(expr("sum_old div n_old - sum_new div n_new"), lit(-1L))
          .as("cos_drift_ppm"),
        when(col("n_old").isNull, lit(-1L))
          .otherwise(coalesce(
            expr("CAST((1000000 * CAST(n_new AS DECIMAL(38,0)) * tot_old) div " +
              "(CAST(n_old AS DECIMAL(38,0)) * tot_new) AS BIGINT)"), lit(0L)))
          .as("load_ratio_ppm"))
  }

  /** Drift report of arriving vectors against a PERSISTED
    * [[persistIvfIndex]] layout: the training side re-scores the
    * index's own cell members (their quantized vectors are stored in
    * the layout), the new side scores the given (vec_id, embedding)
    * rows — both against the persisted centroids, no retraining.
    * The `graft index --drift` CLI surface.
    */
  def indexDriftReport(s: SparkSession, idxPath: String, newVecs: DataFrame): DataFrame = {
    val centroids = s.read.parquet(s"$idxPath/centroids")
    val members = s.read.parquet(s"$idxPath/cells").select(col("vec_id"), col("q"), col("nq"))
    val oldScored = assignCellsScored(members, centroids)
      .select(col("cell"), expr("CAST(FLOOR(cos * 1000000) AS BIGINT)").as("cos_ppm"))
    val newScored = driftAssignWith(newVecs, centroids)
      .select(col("cell"), col("cos_ppm"))
    driftAggregates(oldScored, newScored)
  }

  /** Persist the IVF index: the 16-row centroid table plus the
    * assigned corpus written PARTITIONED BY cell. At 100 TB this is
    * the index's storage layout — each cell is its own partition
    * directory, so a probe's `cell IN (...)` predicate prunes the scan
    * to the nProbe cells it actually needs and the other ~n_cells/
    * n_probe of the corpus is never read (OpsSpec pins the
    * PartitionFilters and the pruned-scan equality).
    */
  def persistIvfIndex(s: SparkSession, dir: String, path: String): Unit = {
    val e = residentQuantized(s, dir)
    val (centroids, assigned) = kmeansCells(s, e, dir)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    e.join(assigned, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** IVF probe against a [[persistIvfIndex]] layout: centroid scoring
    * is unchanged (16-row broadcast); the candidate scan reads ONLY
    * the probed cells' partition directories via a literal
    * `isInCollection` partition filter (the probed-cell set is bounded
    * by construction: probes × nProbe ids, collected like the probe
    * vectors themselves). Ranking is [[ivfRescore]] verbatim, so the
    * result equals [[simIvfTopK]] exactly.
    */
  def simIvfTopKPersisted(s: SparkSession, dir: String, path: String,
      nProbe: Int = 4): DataFrame = {
    val e = quantized(s, dir)
    val centroids = s.read.parquet(s"$path/centroids")
    val probes = pairScoresAgainst(s, e.filter(col("vec_id") < 10), centroids, topPerProbe = nProbe)
      .select(col("qid"), col("cid").as("cell"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0))
    val cells = s.read.parquet(s"$path/cells")
      .filter(col("cell").cast("long").isInCollection(probedCells))
      .withColumn("cell", col("cell").cast("long"))
    ivfRescore(s, e, probes, cells)
  }

  /** Rebalance a persisted IVF index by SPLITTING oversized cells —
    * the maintenance pass a long-lived ANN index needs after skewed
    * ingest (one hot cell degrades every probe that touches it):
    * cells holding more than `splitFactor`× the mean population are
    * bisected around two deterministic poles (their min- and max-id
    * members), members go to the nearer pole by cosine, and the two
    * halves get fresh centroid ids with integer-mean centroids.
    *
    * Storage discipline: the new half-cells land via dynamic partition
    * overwrite (new directories only), the split cells' old
    * directories are then removed, and untouched cells are NEVER
    * rewritten. The centroid table is tens of rows — collected and
    * rewritten whole. The directory swap/delete goes through the
    * Hadoop `FileSystem` API (scheme-resolved from the index path), so
    * local file://, HDFS, and object-store connectors all work
    * unchanged. Returns the split cell ids.
    */
  def rebalanceIvfIndex(s: SparkSession, path: String,
      splitFactor: Long = 2L): Seq[Long] = {
    val cells = s.read.parquet(s"$path/cells")
      .withColumn("cell", col("cell").cast("long"))
    val sizes = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mean = math.max(1L, sizes.map(_._2).sum / sizes.length)
    val oversized = sizes.filter(_._2 > splitFactor * mean).map(_._1).sorted
    if (oversized.isEmpty) return Seq.empty
    val centroidRows = s.read.parquet(s"$path/centroids").collect()
    val schema = s.read.parquet(s"$path/centroids").schema
    val maxId = centroidRows.map(_.getLong(schema.fieldIndex("centroid_id"))).max
    val members = cells.filter(col("cell").isInCollection(oversized))
    val poles = members.groupBy(col("cell"))
      .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
    val poleVecs = members.join(broadcast(poles), Seq("cell"))
      .filter(col("vec_id") === col("lo") || col("vec_id") === col("hi"))
      .select(col("cell"), (col("vec_id") === col("lo")).cast("long").as("is_lo"),
        col("q").as("pq"), col("nq").as("pn"))
    val side = members.join(broadcast(poleVecs), Seq("cell"))
      .withColumn("cos", expr("cast(dot_i64(q, pq) as double)") /
        (sqrt(col("nq")) * sqrt(col("pn"))))
      .groupBy(col("cell"), col("vec_id"))
      .agg(max(struct(col("cos"), col("is_lo"))).as("b"))
      .select(col("cell"), col("vec_id"), col("b.is_lo").as("side"))
    val sp = s
    import sp.implicits._
    val idxDf = oversized.zipWithIndex.map { case (c, k) => (c, k.toLong) }
      .toSeq.toDF("cell", "k")
    val newAssign = side.join(broadcast(idxDf), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        (lit(maxId + 1L) + col("k") * 2L + col("side")).as("new_cell"))
    val newMembers = members.join(newAssign, Seq("cell", "vec_id"))
    val newCentroids = newMembers
      .select(col("new_cell"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("new_cell"), col("pos"))
      .agg((sum(col("v")).cast("double") / count(col("v")).cast("double")).as("mv"))
      .groupBy(col("new_cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), x -> cast(round(x.mv) as bigint))")
        .as("cq"))
      .select(col("new_cell").as("centroid_id"), col("cq"),
        expr("dot_i64(cq, cq)").as("cn"))
    // survivors + fresh centroids; table is tens of rows — safe to
    // collect before overwriting the path we just read
    val survivors = centroidRows.filterNot(r =>
      oversized.contains(r.getLong(schema.fieldIndex("centroid_id"))))
    val newCentRows = newCentroids.collect()
    s.createDataFrame(
        java.util.Arrays.asList(survivors ++ newCentRows: _*), schema)
      .write.mode("overwrite").parquet(s"$path/centroids")
    // stage the new half-cells OUTSIDE the directory being read (a
    // same-path overwrite would race the scan feeding it), then swap
    // directories — only the split cells' dirs are ever touched. The
    // swap goes through the Hadoop FileSystem API resolved from the
    // index path's scheme, so the same code runs against local file://
    // (tests), HDFS, or an object-store connector on a real cluster;
    // the fresh half-cell ids guarantee the rename destinations don't
    // exist (HDFS rename refuses to clobber). A writer crash between
    // the renames and the deletes leaves BOTH the old oversized dirs
    // and the new half-cells visible — [[checkIvfIndex]] detects that
    // state as duplicate vec_ids + orphan dirs (OpsSpec pins it).
    import org.apache.hadoop.fs.{Path => HPath}
    val tmp = s"$path/cells_rebalance_tmp"
    newMembers
      .select(col("vec_id"), col("q"), col("nq"), col("new_cell").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    val cellsRoot = new HPath(s"$path/cells")
    val fs = cellsRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(new HPath(tmp))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .foreach { st =>
        if (!fs.rename(st.getPath, new HPath(cellsRoot, st.getPath.getName)))
          throw new IllegalStateException(
            s"rebalance: could not move ${st.getPath.getName}")
      }
    fs.delete(new HPath(tmp), true)
    oversized.foreach(c => fs.delete(new HPath(cellsRoot, s"cell=$c"), true))
    oversized
  }

  /** Index fsck: one-pass consistency report over a persisted IVF
    * layout — the check a maintenance loop runs after compaction /
    * rebalancing / a crashed writer, BEFORE serving traffic:
    *
    *   - orphan cell directories (data with no centroid — a probe can
    *     never reach them: silent recall loss)
    *   - empty centroids (centroid with no directory — probes pay a
    *     scan that returns nothing)
    *   - duplicate vec_ids across cells (a failed move left both
    *     copies — dedup verdicts double-count)
    *
    * Everything is metadata-scale except the duplicate check, which is
    * one map-side-combined count over the id column.
    */
  def checkIvfIndex(s: SparkSession, path: String): DataFrame = {
    val cells = s.read.parquet(s"$path/cells")
      .withColumn("cell", col("cell").cast("long"))
    val dirCells = cells.select(col("cell")).distinct()
    val centCells = s.read.parquet(s"$path/centroids")
      .select(col("centroid_id").as("cell"))
    val orphans = dirCells.join(centCells, Seq("cell"), "left_anti").count()
    val empties = centCells.join(dirCells, Seq("cell"), "left_anti").count()
    val dupIds = cells.groupBy(col("vec_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L).count()
    val nVecs = cells.count()
    val sp = s
    import sp.implicits._
    Seq((nVecs, dirCells.count(), orphans, empties, dupIds,
      if (orphans == 0 && empties == 0 && dupIds == 0) 1L else 0L))
      .toDF("n_vectors", "n_cells", "orphan_dirs", "empty_centroids",
        "duplicate_ids", "consistent")
  }

  /** fsck for the IVF-PQ codes layout ([[persistIvfPqIndex]]):
    *
    *   - orphan cell directories under `codes/` (a centroid-less cell's
    *     codes are UNSERVABLE — ADC scoring needs the cell centroid's
    *     residual space);
    *   - duplicate (vec_id, m) code rows (a replayed append that bypassed
    *     [[compactIvfPqIndex]]'s distinct-merge, or a failed move —
    *     double-counted ADC sums);
    *   - codebook completeness (every (m, c) codeword present — a torn
    *     codebook write breaks decoding for every vector).
    *
    * Unlike the raw-vector layout, an EMPTY centroid is NOT flagged:
    * the codes layout is append-over-time and a cell directory appears
    * on its first assignment.
    */
  def checkIvfPqIndex(s: SparkSession, path: String): DataFrame = {
    val codes = s.read.parquet(s"$path/codes")
      .withColumn("cell", col("cell").cast("long"))
    val centCells = s.read.parquet(s"$path/centroids")
      .select(col("centroid_id").as("cell"))
    val orphans = codes.select(col("cell")).distinct()
      .join(centCells, Seq("cell"), "left_anti").count()
    val dupCodes = codes.groupBy(col("vec_id"), col("m"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1L).count()
    val cb = s.read.parquet(s"$path/codebook")
    val cbRows = cb.select(col("m"), col("c")).distinct().count()
    val cbExpected = 64L // 8 subspaces × 8 codewords (pqTrainEncode m=8, k=8)
    val nVecs = codes.select(col("vec_id")).distinct().count()
    val sp = s
    import sp.implicits._
    Seq((codes.count(), nVecs, orphans, dupCodes, cbRows,
      if (orphans == 0 && dupCodes == 0 && cbRows == cbExpected) 1L else 0L))
      .toDF("n_codes", "n_vectors", "orphan_dirs", "duplicate_codes",
        "codebook_rows", "consistent")
  }

  /** Maintenance autopilot for the IVF-PQ codes layout — the serving
    * index's counterpart of [[maintainIvfIndex]]:
    *
    *  1. reclaim crashed staging (`codes_compact_tmp`, recovering an
    *     interrupted per-cell swap whose original dir is gone);
    *  2. orphan cell dirs REMOVED (codes without a centroid cannot be
    *     ADC-scored — the repair is honest removal, reported per dir;
    *     re-encoding needs the raw vectors the codes layout by design
    *     does not keep);
    *  3. duplicate (vec_id, m) rows distinct-merged, rewriting ONLY the
    *     cell directories that hold duplicates (the
    *     [[compactIvfPqIndex]] dynamic-overwrite idiom);
    *  4. per-cell small-file compaction over `maxFilesPerCell` (staged
    *     rename with the step-1 crash-recovery contract).
    */
  def maintainIvfPqIndex(s: SparkSession, path: String,
      maxFilesPerCell: Int = 8): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val codesRoot = new HPath(s"$path/codes")
    val fs = codesRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    val actions = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def codes() = s.read.parquet(s"$path/codes")
      .withColumn("cell", col("cell").cast("long"))

    // 1. staging recovery (same contract as maintainIvfIndex step 1)
    val compactTmp = new HPath(s"$path/codes_compact_tmp")
    if (fs.exists(compactTmp)) {
      fs.listStatus(compactTmp)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .foreach { st =>
          val target = new HPath(codesRoot, st.getPath.getName)
          if (!fs.exists(target)) {
            if (!fs.rename(st.getPath, target)) throw new IllegalStateException(
              s"maintain: could not recover staged ${st.getPath.getName}")
            actions += (("compactions_recovered", 1L))
          }
        }
      fs.delete(compactTmp, true)
    }

    // 2. orphan dirs: unservable — remove, reporting the vector count
    val centCells = s.read.parquet(s"$path/centroids")
      .select(col("centroid_id").as("cell"))
    val orphanIds = codes().select(col("cell")).distinct()
      .join(broadcast(centCells), Seq("cell"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    if (orphanIds.nonEmpty) {
      val lostVecs = codes().filter(col("cell").isInCollection(orphanIds))
        .select(col("vec_id")).distinct().count()
      orphanIds.foreach(c => fs.delete(new HPath(codesRoot, s"cell=$c"), true))
      actions += (("orphan_dirs_removed", orphanIds.length.toLong))
      actions += (("unservable_vectors_dropped", lostVecs))
    }

    // 3. duplicate codes — two shapes, repaired in one pass touching
    // only the implicated cell directories: WITHIN a cell (a replayed
    // append that bypassed the distinct-merge → distinct), and ACROSS
    // cells (a move that never removed its source → keep the smallest
    // cell id, deterministically)
    val withinCells = codes().groupBy(col("vec_id"), col("m"), col("cell"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1L).select(col("cell"))
    val crossKeep = codes().select(col("vec_id"), col("cell")).distinct()
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("nc"), min(col("cell")).as("keep_cell"))
      .filter(col("nc") > 1L)
      .select(col("vec_id"), col("keep_cell"))
    val crossCells = codes()
      .join(crossKeep.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("cell"))
    val touchedCells = withinCells.unionByName(crossCells).distinct()
      .collect().map(_.getLong(0))
    if (touchedCells.nonEmpty) {
      val kept = codes().filter(col("cell").isInCollection(touchedCells))
        .join(broadcast(crossKeep), Seq("vec_id"), "left")
        .filter(col("keep_cell").isNull || col("cell") === col("keep_cell"))
        .select(col("vec_id"), col("cell"), col("m"), col("c")).distinct()
      // pin the surviving-cell set BEFORE the overwrite (the plan reads
      // the path being rewritten)
      val keptCells = kept.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).toSet
      kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(s"$path/codes")
      // a cell whose every row was a cross-cell loser produces no
      // output partition under dynamic overwrite — its stale dir must
      // go explicitly
      touchedCells.filterNot(keptCells.contains)
        .foreach(c => fs.delete(new HPath(codesRoot, s"cell=$c"), true))
      actions += (("cells_deduplicated", touchedCells.length.toLong))
    }

    // 4. per-cell small-file compaction
    val fragmented = fs.listStatus(codesRoot)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .filter { st =>
        fs.listStatus(st.getPath).count(f => f.isFile &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) >
          maxFilesPerCell
      }
    fragmented.foreach { st =>
      val staged = new HPath(compactTmp, st.getPath.getName)
      s.read.parquet(st.getPath.toString).coalesce(1)
        .write.mode("overwrite").parquet(staged.toString)
      fs.delete(st.getPath, true)
      if (!fs.rename(staged, st.getPath)) throw new IllegalStateException(
        s"maintain: could not swap compacted ${st.getPath.getName}")
    }
    if (fs.exists(compactTmp)) fs.delete(compactTmp, true)
    if (fragmented.nonEmpty) actions += (("cells_compacted", fragmented.length.toLong))

    val verdict = checkIvfPqIndex(s, path).first()
    actions += (("consistent", verdict.getLong(verdict.fieldIndex("consistent"))))
    val sp = s
    import sp.implicits._
    actions.toSeq.toDF("action", "n")
  }

  /** Index-maintenance autopilot: drive a dirty persisted IVF layout to
    * a clean [[checkIvfIndex]] report in one pass — the `graft index`
    * CLI verb. Steps, each touching ONLY the directories it must:
    *
    *  1. recover/reclaim staging left by a crashed writer: an
    *     interrupted per-cell compaction whose original dir is already
    *     gone is COMPLETED (rename the staged dir in — it is the only
    *     copy of that cell's data); all other staging is garbage;
    *  2. orphan cell dirs (data without a centroid): a vec also present
    *     in a live cell is a crashed-rebalance duplicate — deleting the
    *     orphan dir resolves the duplicate AND the orphan; a vec found
    *     ONLY in an orphan dir is data no probe can reach — reassign it
    *     against the live centroids and distinct-merge it into the
    *     touched cells (the [[compactIvfPqIndex]] idiom);
    *  3. empty centroids (no data dir): dropped from the centroid table
    *     (tens of rows — rewritten whole);
    *  4. fragmentation: any cell dir holding more than `maxFilesPerCell`
    *     data files (the streaming assign path appends task files every
    *     micro-batch) is rewritten coalesced through a staged rename —
    *     O(fragmented cells), never O(index);
    *  5. oversized cells → [[rebalanceIvfIndex]].
    *
    * Returns one (action, n) row per repair performed plus the final
    * fsck verdict as ("consistent", 0|1).
    */
  def maintainIvfIndex(s: SparkSession, path: String,
      splitFactor: Long = 2L, maxFilesPerCell: Int = 8): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val cellsRoot = new HPath(s"$path/cells")
    val fs = cellsRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    val actions = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def cells() = s.read.parquet(s"$path/cells")
      .withColumn("cell", col("cell").cast("long"))

    // 1. staging recovery. Compaction's commit order is stage → delete
    // original → rename in, so a staged cell whose original is MISSING
    // is the interrupted rename of a completed compaction: finish it.
    val compactTmp = new HPath(s"$path/cells_compact_tmp")
    if (fs.exists(compactTmp)) {
      fs.listStatus(compactTmp)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .foreach { st =>
          val target = new HPath(cellsRoot, st.getPath.getName)
          if (!fs.exists(target)) {
            if (!fs.rename(st.getPath, target)) throw new IllegalStateException(
              s"maintain: could not recover staged ${st.getPath.getName}")
            actions += (("compactions_recovered", 1L))
          }
        }
      fs.delete(compactTmp, true)
    }
    // rebalance stages BEFORE any swap — its leftovers are pure garbage
    // (a crashed swap shows up as orphans/duplicates, repaired below)
    val rebalTmp = new HPath(s"$path/cells_rebalance_tmp")
    if (fs.exists(rebalTmp)) {
      fs.delete(rebalTmp, true)
      actions += (("staging_reclaimed", 1L))
    }

    // 2. orphan dirs: duplicates deleted, sole copies reassigned
    val centroids = s.read.parquet(s"$path/centroids")
    val centIds = centroids.select(col("centroid_id").as("cell"))
    val orphanIds = cells().select(col("cell")).distinct()
      .join(broadcast(centIds), Seq("cell"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    if (orphanIds.nonEmpty) {
      val live = cells().join(broadcast(centIds), Seq("cell"), "left_semi")
      val lost = cells().filter(col("cell").isInCollection(orphanIds))
        .join(live.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("q"), col("nq"))
      val reassigned = assignCells(lost, centroids)
      val moved = lost.join(reassigned, Seq("vec_id"))
        .select(col("vec_id"), col("q"), col("nq"), col("cell"))
      // pin the moved rows BEFORE the overwrite: their plan reads the
      // path being rewritten, and a post-write re-evaluation would see
      // the repaired state (lost = empty)
      val movedRows = moved.collect() // bounded: sole-copy orphan vecs only
      if (movedRows.nonEmpty) {
        val movedDf = s.createDataFrame(
          java.util.Arrays.asList(movedRows: _*), moved.schema)
        val touched = movedRows.map(r => String.valueOf(r.get(3)).toLong).distinct
        val existing = cells().filter(col("cell").isInCollection(touched))
          .select(col("vec_id"), col("q"), col("nq"), col("cell"))
        existing.unionByName(movedDf).distinct()
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(s"$path/cells")
        actions += (("vectors_reassigned", movedRows.length.toLong))
      }
      orphanIds.foreach(c => fs.delete(new HPath(cellsRoot, s"cell=$c"), true))
      actions += (("orphan_dirs_removed", orphanIds.length.toLong))
    }

    // 3. empty centroids: drop (a probe that lands there scans nothing)
    val emptyIds = centIds.join(cells().select(col("cell")).distinct(),
        Seq("cell"), "left_anti").collect().map(_.getLong(0))
    if (emptyIds.nonEmpty) {
      val kept = centroids.filter(!col("centroid_id").isInCollection(emptyIds)).collect()
      s.createDataFrame(java.util.Arrays.asList(kept: _*), centroids.schema)
        .write.mode("overwrite").parquet(s"$path/centroids")
      actions += (("empty_centroids_dropped", emptyIds.length.toLong))
    }

    // 4. per-cell small-file compaction (staged rename; see step 1 for
    // the crash-recovery contract)
    val fragmented = fs.listStatus(cellsRoot)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .filter { st =>
        fs.listStatus(st.getPath).count(f => f.isFile &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) >
          maxFilesPerCell
      }
    fragmented.foreach { st =>
      val staged = new HPath(compactTmp, st.getPath.getName)
      s.read.parquet(st.getPath.toString).coalesce(1)
        .write.mode("overwrite").parquet(staged.toString)
      fs.delete(st.getPath, true)
      if (!fs.rename(staged, st.getPath)) throw new IllegalStateException(
        s"maintain: could not swap compacted ${st.getPath.getName}")
    }
    if (fs.exists(compactTmp)) fs.delete(compactTmp, true)
    if (fragmented.nonEmpty) actions += (("cells_compacted", fragmented.length.toLong))

    // 5. oversized cells → split
    val split = rebalanceIvfIndex(s, path, splitFactor)
    if (split.nonEmpty) actions += (("cells_split", split.length.toLong))

    val verdict = checkIvfIndex(s, path).first()
    actions += (("consistent", verdict.getLong(verdict.fieldIndex("consistent"))))
    val sp = s
    import sp.implicits._
    actions.toSeq.toDF("action", "n")
  }

  /** Assign arbitrary raw (vec_id, embedding) rows to their nearest
    * FROZEN centroid — the index-maintenance half of IVF: arriving
    * vectors are cell-assigned against the persisted centroid table
    * ([[persistIvfIndex]]'s `centroids/`) and appended to the
    * cell-partitioned layout, with NO retraining in the ingest path
    * (rebuild centroids offline, assign online).
    * DataFrame-in, so the SAME plan serves batch backfill and each
    * streaming micro-batch ([[graft.streaming.Streaming.runAppend]])
    * — stream ≡ batch by construction. Centroids are nCentroids-bounded
    * → broadcast; the corpus side is one row-parallel pass.
    */
  def ivfAssignWith(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val e = vectors.select(
      col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
      .withColumn("nq", expr("dot_i64(q, q)"))
    assignCells(e, centroids)
  }

  /** Top-N centroid/candidate matches of `probe` against a SMALL,
    * bounded-by-construction `targets` table (broadcast — callers pass
    * ≤ nCentroids rows, never the corpus) using the integer kernel.
    *
    * Spelled in pure Catalyst — broadcast nested-loop join + `dot_i64`
    * + a row_number top-k (Spark's WindowGroupLimit caps each map task
    * at topPerProbe rows per probe BEFORE the window exchange) — the
    * same discipline as [[assignCells]]: whole-stage codegen on the
    * scoring, a plan AQE can see, and zero driver-side candidate
    * handling. Bit-identical to the former mapPartitions kernel: the
    * Long dot, the √-then-multiply denominator, and the (cos desc,
    * cid asc) tie-break are the same IEEE operations in the same order.
    */
  private[graft] def pairScoresAgainst(
      s: SparkSession,
      probe: DataFrame,
      targets: DataFrame,
      topPerProbe: Int): DataFrame = {
    val tc = targets.columns
    val t = targets.select(col(tc(0)).as("cid"), col(tc(1)).as("__cv"),
      col(tc(2)).as("__cn"))
    val scored = probe
      .select(col("vec_id").as("qid"), col("q").as("__q"), col("nq").as("__nq"))
      .crossJoin(broadcast(t))
      .select(col("qid"), col("cid"),
        // a zero-norm probe or target makes 0/0 = NaN, which Spark's
        // desc ordering ranks FIRST — pin degenerate vectors to the
        // bottom of the ranking instead (cos = -1 sentinel), matching
        // the former kernel's ranked-last behavior
        nanvl(expr("dot_i64(__q, __cv)").cast("double") /
          (sqrt(col("__nq")) * sqrt(col("__cn"))), lit(-1.0d)).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topPerProbe)
      .select(col("qid"), col("cid"), col("cos"))
  }

  /** Deterministic ±1 hyperplane component for sign-LSH: md5("p:i")
    * parity — pure JVM (no Spark hashing), so the SAME vectors are
    * interpolated as literals into both the Spark plan and the DuckDB
    * oracle SQL (SparkEntry).
    */
  def planeSign(p: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s"$p:$i".getBytes("UTF-8"))
    if ((d(0) & 1) == 1) 1 else -1
  }

  /** Embedding dimensionality of the test corpus (TESTDATA.md). */
  val Dim = 64

  /** LSH-bucketed ANN: 8 random-hyperplane sign bits (hyperplanes =
    * deterministic ±1 literal vectors from [[planeSign]], constant-
    * folded into the plan) → bucket key; candidates only join within a
    * bucket, then exact re-score. The bucketing (recall < 1) is the
    * approximation; the computation itself is deterministic and
    * oracle-verified end to end.
    */
  def simLshTopK(s: SparkSession, dir: String): DataFrame = {
    val nPlanes = 8
    val e = quantized(s, dir)
    // sign bit p = sign(<q, w_p>) via the native integer-dot kernel
    // against a literal hyperplane — stays in whole-stage codegen
    val sig = (0 until nPlanes).map { p =>
      val w = (0 until Dim).map(i => s"${planeSign(p, i)}L").mkString(", ")
      val dotP = expr(s"dot_i64(q, array($w))")
      when(dotP >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    val bucketed = e.withColumn("bucket", sig)
    val qs = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nq").as("na"), col("bucket"))
    val cs = bucketed.select(col("vec_id").as("cid"), col("q").as("cv"), col("nq").as("nb"), col("bucket"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    // bounded answer table resident for the recall eval / RRF fusion
    // consumers — same discipline as simIvfTopK
    ResidentCache(s, "sim_lsh_topk_result",
      qs.join(cs, Seq("bucket")).filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          expr("dot_i64(qv, cv)").as("dot"),
          col("na"), col("nb"))
        .withColumn("cos", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("cid"), col("cos"), col("rn")))
  }

  /** Nearest codeword per (vector, subspace) under integer squared-L2
    * distance `d = |sv|² − 2⟨sv,cv⟩ + |cv|²` (exact long arithmetic via
    * the native dot kernel; ties broken by lower codeword id). The
    * codebook is M×K rows — broadcast by construction — so encoding is
    * one map-side pass with a partial-aggregated argmin: the
    * per-(vec,subspace) `min(struct(d, c))` combines map-side, so no
    * full-corpus volume of scored candidates ever crosses the network.
    */
  private def nearestCode(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("c"),
        (col("sn") - lit(2L) * expr("dot_i64(sv, cv)") + col("cn")).as("d"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("c"))).as("mc"))
      .select(col("vec_id"), col("m"), col("mc.c").as("c"))

  /** Product-quantization ANN (Jégou, Douze & Schmid, TPAMI 2011): the
    * 64-dim space splits into M=8 subspaces of 8 dims; each subspace
    * gets its own K=8 codeword codebook (deterministic strided seed + 2
    * distributed Lloyd iterations, run JOINTLY for all subspaces — the
    * iteration key is (subspace, codeword), so one shuffle refines all
    * 8 codebooks). A vector's code is its per-subspace nearest codeword;
    * a query is answered by ADC (asymmetric distance computation): a
    * per-probe lookup table of M×K exact subspace distances, then
    * per-candidate distance = Σ_m LUT[m, code_m] — a (m, code) equi-join
    * against the broadcast LUT plus one groupBy(qid, cid) sum.
    *
    * Scale shape: the corpus is scanned, never collected — codebook
    * (M×K = 64 rows) and LUT (probes × M×K) are the only broadcasts;
    * encoding compresses 64×8 B vectors to M small codes, which is the
    * POINT of PQ at 10⁹+ vectors (the code table, not the vectors, is
    * what the query-time scan touches). K=8 (3-bit codes) keeps the
    * oracle replay tractable; production would use K=256 and an IVF
    * front ([[simIvfTopK]]) — the plan shape is identical.
    *
    * Everything is integer-exact (squared-L2 ADC distances — no cosine
    * double division anywhere), so the WHOLE pipeline including both
    * Lloyd iterations replays in the DuckDB oracle and hash-matches.
    */
  /** PQ codebook training + corpus encoding over any (vec_id, q)
    * table — the shared trainer behind [[simPqTopK]] (raw vectors) and
    * [[simIvfPqTopK]] (cell residuals). Returns (subvector table,
    * trained codebook, per-(vector, subspace) codes). `slot` keys the
    * subvector table's resident cache (it is scanned once per Lloyd
    * iteration plus the final encode); the codebook is reused until
    * `stamp`, the listing stamp of what `vecs` reads, changes.
    */
  private def pqTrainEncode(s: SparkSession, vecs: DataFrame, m: Int, subDim: Int,
      k: Int, iters: Int, slot: String, stamp: String): (DataFrame, DataFrame, DataFrame) = {
    val subs0 = pqSubs(s, vecs, m, subDim, slot)
    // the 64-row codebook memoizes driver-side (see kmeansCells) so the
    // corpus encode below is sameResult-stable and its resident slot
    // actually warms across invocations
    val cb = ResidentCache.localModel(s, s"${slot}_cb", stamp) {
      pqTrainLoop(s, vecs, subs0, m, k, iters)
    }
    val codes = ResidentCache(s, s"${slot}_codes", nearestCode(subs0, cb))
    (subs0, cb, codes)
  }

  private def pqSubs(s: SparkSession, vecs: DataFrame, m: Int, subDim: Int,
      slot: String): DataFrame =
    ResidentCache(s, slot,
      vecs.select(col("vec_id"),
          posexplode(expr(s"transform(sequence(0, ${m - 1}), j -> slice(q, j*$subDim+1, $subDim))"))
            .as(Seq("m", "sv")))
        .withColumn("sn", expr("dot_i64(sv, sv)")))

  private def pqTrainLoop(s: SparkSession, vecs: DataFrame, subs: DataFrame,
      m: Int, k: Int, iters: Int): DataFrame = {
    // strided seed over the id range (order-independent, oracle-
    // replayable): seed vector i donates its m-th subvector to
    // subspace m's codebook, codeword id = seed vec_id
    val bounds = vecs.agg(min(col("vec_id")), max(col("vec_id"))).head()
    val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
    val step = math.max(1L, (maxId - minId + 1) / k)
    var cb = subs.filter((col("vec_id") - minId) % step === 0 &&
        col("vec_id") - minId < step * k)
      .select(col("m"), col("vec_id").as("c"), col("sv").as("cv"), col("sn").as("cn"))
    for (_ <- 1 to iters) {
      val assign = nearestCode(subs, cb)
      val prev = cb
      cb = subs.join(assign, Seq("vec_id", "m"))
        .select(col("m"), col("c"), posexplode(col("sv")).as(Seq("pos", "v")))
        // exact long sum, ONE double division per mean (bit-replayable)
        .groupBy(col("m"), col("c"), col("pos"))
        .agg((sum(col("v")).cast("double") / count(col("v")).cast("double")).as("mv"))
        .groupBy(col("m"), col("c"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), x -> cast(round(x.mv) as bigint))")
          .as("cv"))
        .withColumn("cn", expr("dot_i64(cv, cv)"))
        // M×K = 64 rows, but referenced by the next assign AND the
        // final encode/LUT: uncached, every consumer re-runs the whole
        // Lloyd chain from the leaves
        .cache()
      // materialize the refined codebook, then release the superseded
      // one — eager count() first, or the unpersist would force the new
      // codebook to recompute through the freed parent; without the
      // release every Lloyd iteration leaks a cached plan for the
      // duration of the session (KBs here, but the pattern must be
      // safe to copy into loops over bigger per-iteration state)
      cb.count()
      prev.unpersist(false)
    }
    cb
  }

  def simPqTopK(s: SparkSession, dir: String): DataFrame = {
    val m = 8
    val subDim = Dim / m
    val k = 8
    val iters = 2
    val e = residentQuantized(s, dir)
    val (subs, cb, codes) = pqTrainEncode(s, e.select(col("vec_id"), col("q")),
      m, subDim, k, iters, slot = s"sim_pq_subs@$dir", stamp = embStamp(s, dir))
    // per-probe ADC lookup table: exact distance from each probe
    // subvector to every codeword (probes × M × K rows — bounded)
    val lut = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("m"), col("sv"), col("sn"))
      .join(broadcast(cb), Seq("m"))
      .select(col("qid"), col("m"), col("c"),
        (col("sn") - lit(2L) * expr("dot_i64(sv, cv)") + col("cn")).as("pd"))
    val scored = codes.select(col("vec_id").as("cid"), col("m"), col("c"))
      .join(broadcast(lut), Seq("m", "c"))
      .groupBy(col("qid"), col("cid")).agg(sum(col("pd")).as("adist"))
      .filter(col("qid") =!= col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("adist"), col("rn"))
  }

  /** IVF-PQ composite index (Jégou, Douze & Schmid, TPAMI 2011 §V —
    * "IVFADC", the layout FAISS-style billion-vector serving ships):
    * the coarse IVF quantizer ([[kmeansCells]], 16 cells) prunes the
    * search to nProbe=4 cells, and PQ codes trained on the CELL
    * RESIDUALS (q − centroid) compress each candidate to M=8 codes.
    * A query builds one ADC lookup table per probed cell from its own
    * residual in that cell, so candidate scoring is
    * Σ_m LUT[cell, m, code_m] — integer squared-L2 in residual space,
    * exactly the FAISS by-residual ADC contract.
    *
    * Scale shape: the coarse+PQ training touches the corpus once per
    * Lloyd iteration (bounded centroid/codebook broadcasts); query
    * time touches ONLY the probed cells' code lists (nProbe/nCells of
    * the corpus) and joins them against a probes×nProbe×M×K-bounded
    * broadcast LUT — memory per candidate is M codes, not the vector,
    * which is the point at 10⁹+ vectors. Fully integer end to end →
    * the oracle replays coarse k-means, residual PQ training, and ADC
    * bit-identically.
    */
  def simIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val nProbe = 4
    val m = 8
    val subDim = Dim / m
    val k = 8
    val e = residentQuantized(s, dir)
    val (centroids, assigned) = kmeansCells(s, e, dir)
    val centCells = centroids.select(col("centroid_id").as("cell"), col("cq"))
    // integer residuals r = q − centroid(cell) — the PQ training set
    val resid = e.join(assigned, Seq("vec_id"))
      .join(broadcast(centCells), Seq("cell"))
      .select(col("vec_id"), expr("zip_with(q, cq, (a, b) -> a - b)").as("q"))
    val (_, cb, codes) = pqTrainEncode(s, resid, m, subDim, k, iters = 2,
      slot = s"sim_ivfpq_subs@$dir", stamp = embStamp(s, dir))
    // probes pick their nProbe nearest cells (the IVF probe step)
    val probes = pairScoresAgainst(s, e.filter(col("vec_id") < 10), centroids,
        topPerProbe = nProbe)
      .select(col("qid"), col("cid").as("cell"))
    // per-(probe, cell) query residual → subvectors → ADC LUT
    val qsub = probes
      .join(e.select(col("vec_id").as("qid"), col("q")), Seq("qid"))
      .join(broadcast(centCells), Seq("cell"))
      .select(col("qid"), col("cell"), expr("zip_with(q, cq, (a, b) -> a - b)").as("qr"))
      .select(col("qid"), col("cell"),
        posexplode(expr(s"transform(sequence(0, ${m - 1}), j -> slice(qr, j*$subDim+1, $subDim))"))
          .as(Seq("m", "sv")))
      .withColumn("sn", expr("dot_i64(sv, sv)"))
    val lut = qsub.join(broadcast(cb), Seq("m"))
      .select(col("qid"), col("cell"), col("m"), col("c"),
        (col("sn") - lit(2L) * expr("dot_i64(sv, cv)") + col("cn")).as("pd"))
    // candidates: members of probed cells, scored from their M codes
    val cand = probes
      .join(assigned.withColumnRenamed("vec_id", "cid"), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
    val scored = cand
      .join(codes.withColumnRenamed("vec_id", "cid"), Seq("cid"))
      .join(broadcast(lut), Seq("qid", "cell", "m", "c"))
      .groupBy(col("qid"), col("cid")).agg(sum(col("pd")).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("adist"), col("rn"))
  }

  /** Persist the IVF-PQ index: centroids (16 rows), the residual PQ
    * codebook (M×K = 64 rows), and the corpus CODES partitioned by
    * cell — at 10⁹+ vectors the code table (M small ints per vector)
    * IS the index payload a query-time scan touches, and the cell
    * partitioning means a probe reads only its nProbe directories of
    * codes (OpsSpec pins the PartitionFilters). The raw vectors are
    * NOT in the serving layout — that is the memory story of IVFADC.
    */
  def persistIvfPqIndex(s: SparkSession, dir: String, path: String): Unit = {
    val m = 8
    val subDim = Dim / m
    val e = residentQuantized(s, dir)
    val (centroids, assigned) = kmeansCells(s, e, dir)
    val centCells = centroids.select(col("centroid_id").as("cell"), col("cq"))
    val resid = e.join(assigned, Seq("vec_id"))
      .join(broadcast(centCells), Seq("cell"))
      .select(col("vec_id"), expr("zip_with(q, cq, (a, b) -> a - b)").as("q"))
    val (_, cb, codes) = pqTrainEncode(s, resid, m, subDim, k = 8, iters = 2,
      slot = s"sim_ivfpq_subs@$dir", stamp = embStamp(s, dir))
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    cb.write.mode("overwrite").parquet(s"$path/codebook")
    codes.join(assigned, Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
  }

  /** IVF-PQ probe against a [[persistIvfPqIndex]] layout: centroid and
    * codebook reads are bounded broadcasts; the code scan reads ONLY
    * the probed cells' partition directories. Scoring is the ADC plan
    * of [[simIvfPqTopK]] verbatim, so the ranking is identical.
    */
  def simIvfPqTopKPersisted(s: SparkSession, dir: String, path: String,
      nProbe: Int = 4): DataFrame =
    ivfPqQueryWith(s,
      Tables.load(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")),
      path, nProbe)

  /** Query the persisted IVF-PQ index with ARBITRARY probe vectors —
    * the ANN SERVING path: DataFrame-in, so the same plan answers a
    * batch backfill of queries and every streaming micro-batch of
    * arriving probes ([[graft.streaming.Streaming.runAppend]]).
    * Per batch, the probed cell set is collected (≤ probes × nProbe
    * literals) and pushed down as a partition filter so the code scan
    * reads ONLY those cell directories.
    */
  def ivfPqQueryWith(s: SparkSession, probeVectors: DataFrame, path: String,
      nProbe: Int = 4): DataFrame = {
    val m = 8
    val subDim = Dim / m
    val e = probeVectors.select(
      col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
      .withColumn("nq", expr("dot_i64(q, q)"))
    val centroids = s.read.parquet(s"$path/centroids")
    val cb = s.read.parquet(s"$path/codebook")
    val centCells = centroids.select(col("centroid_id").as("cell"), col("cq"))
    val probes = pairScoresAgainst(s, e, centroids, topPerProbe = nProbe)
      .select(col("qid"), col("cid").as("cell"))
    val probedCells = probes.select(col("cell")).distinct().collect().map(_.getLong(0))
    val codes = s.read.parquet(s"$path/codes")
      .filter(col("cell").cast("long").isInCollection(probedCells))
      .withColumn("cell", col("cell").cast("long"))
    val qsub = probes
      .join(e.select(col("vec_id").as("qid"), col("q")), Seq("qid"))
      .join(broadcast(centCells), Seq("cell"))
      .select(col("qid"), col("cell"), expr("zip_with(q, cq, (a, b) -> a - b)").as("qr"))
      .select(col("qid"), col("cell"),
        posexplode(expr(s"transform(sequence(0, ${m - 1}), j -> slice(qr, j*$subDim+1, $subDim))"))
          .as(Seq("m", "sv")))
      .withColumn("sn", expr("dot_i64(sv, sv)"))
    val lut = qsub.join(broadcast(cb), Seq("m"))
      .select(col("qid"), col("cell"), col("m"), col("c"),
        (col("sn") - lit(2L) * expr("dot_i64(sv, cv)") + col("cn")).as("pd"))
    val scored = probes
      .join(codes.withColumnRenamed("vec_id", "cid"), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .join(broadcast(lut), Seq("qid", "cell", "m", "c"))
      .groupBy(col("qid"), col("cid")).agg(sum(col("pd")).as("adist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("adist"), col("rn"))
  }

  /** Compact streamed code APPENDS back into the cell-partitioned
    * IVF-PQ layout — the index-maintenance half of the serving story:
    * [[ivfPqEncodeWith]] streamed through
    * [[graft.streaming.Streaming.runAppend]] accumulates
    * (vec_id, cell, m, c) rows in an append table; this merges them
    * into `path/codes` touching ONLY the cell directories the delta
    * actually hits (dynamic partition overwrite — at 10⁹ vectors a
    * small delta rewrites a handful of directories, never the index).
    * Idempotent: codes are distinct-merged, so replaying a delta is a
    * no-op.
    */
  def compactIvfPqIndex(s: SparkSession, path: String, delta: DataFrame): Unit = {
    val d = delta.select(col("vec_id"), col("cell").cast("long").as("cell"),
      col("m"), col("c"))
    val touched = d.select(col("cell")).distinct().collect().map(_.getLong(0))
    val existing = s.read.parquet(s"$path/codes")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isInCollection(touched))
      .select(col("vec_id"), col("cell"), col("m"), col("c"))
    existing.unionByName(d).distinct()
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$path/codes")
  }

  /** Cell-assign + PQ-encode arbitrary raw (vec_id, embedding) rows
    * against FROZEN centroids and codebook — the ingest half of the
    * persisted IVF-PQ index: arriving vectors become (vec_id, cell,
    * m, c) code rows appended to the cell-partitioned layout, no
    * retraining in the hot path — the codes, not the vectors, are what
    * the serving layout stores. DataFrame-in → the same plan serves
    * batch backfill and every streaming micro-batch
    * ([[graft.streaming.Streaming.runAppend]]).
    */
  def ivfPqEncodeWith(vectors: DataFrame, centroids: DataFrame,
      codebook: DataFrame): DataFrame = {
    val m = 8
    val subDim = Dim / m
    val e = vectors.select(
      col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
      .withColumn("nq", expr("dot_i64(q, q)"))
    val assigned = assignCells(e, centroids)
    val centCells = centroids.select(col("centroid_id").as("cell"), col("cq"))
    val subs = e.join(assigned, Seq("vec_id"))
      .join(broadcast(centCells), Seq("cell"))
      .select(col("vec_id"), col("cell"), expr("zip_with(q, cq, (a, b) -> a - b)").as("r"))
      .select(col("vec_id"), col("cell"),
        posexplode(expr(s"transform(sequence(0, ${m - 1}), j -> slice(r, j*$subDim+1, $subDim))"))
          .as(Seq("m", "sv")))
      .withColumn("sn", expr("dot_i64(sv, sv)"))
    nearestCode(subs, codebook)
      .join(assigned, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("m"), col("c"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the corpus into cells, then inside each
    * cell drop every vector whose cosine to a LOWER-id cell-mate is ≥ θ
    * (keep-lowest-id is the deterministic stand-in for the paper's
    * keep-farthest-from-centroid tie-break). Emits the full corpus with
    * its cell and a kept flag so downstream curation can filter or audit.
    *
    * Scale shape: the quadratic term is confined to within-cluster
    * pairs — the SemDeDup design point: k grows with the corpus so the
    * expected cell size stays bounded, and the pair join is a cell
    * equi-join (co-partitioned shuffle, no cross-cell traffic, no
    * driver collect). Cluster assignment reuses [[kmeansCells]]:
    * bounded centroid broadcast, one corpus pass per Lloyd iteration.
    * Exactly deterministic (integer dots, id tie-breaks) → the DuckDB
    * oracle replays the whole pipeline including the k-means.
    */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val theta = 0.3
    val e = residentQuantized(s, dir)
    val (_, assigned) = kmeansCells(s, e, dir)
    val cells = e.join(assigned, Seq("vec_id"))
    val a = cells.select(col("vec_id").as("ida"), col("q").as("qa"), col("nq").as("na"), col("cell"))
    val b = cells.select(col("vec_id").as("idb"), col("q").as("qb"), col("nq").as("nb"), col("cell"))
    val removed = a.join(b, Seq("cell"))
      .filter(col("ida") < col("idb"))
      // native dot keeps pair scoring inside whole-stage codegen
      .withColumn("dot", expr("dot_i64(qa, qb)"))
      .withColumn("cos", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos") >= theta)
      .select(col("idb").as("vec_id")).distinct()
      .withColumn("rm", lit(1))
    cells.select(col("vec_id"), col("cell"))
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("rm").isNotNull, lit(0L)).otherwise(lit(1L)).as("kept"))
  }

  /** Filtered vector search — top-k restricted by a metadata predicate
    * (here: candidate.label == probe.label), the "filtered ANN" shape
    * every production vector store exposes. PRE-filtering as an
    * equi-join on the label key: probes and candidates co-partition by
    * label, each label's search runs independently, and the per-probe
    * top-k window sees only same-label rows — no post-hoc re-ranking
    * that can return < k survivors, and at 100 TB the label key doubles
    * as the partition-pruning column of the index layout. Native
    * `dot_i64` keeps scoring in whole-stage codegen.
    */
  def simFilteredTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.load(s, dir, "embeddings").select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
      .withColumn("nq", expr("dot_i64(q, q)"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label"), col("q").as("qv"), col("nq").as("na"))
    val cands = e.select(col("vec_id").as("cid"), col("label"), col("q").as("cv"), col("nq").as("nb"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    probes.join(cands, Seq("label"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("dot", expr("dot_i64(qv, cv)"))
      .withColumn("cos", col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("label").cast("long").as("label"),
        col("cos"), col("rn"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009 — the standard way a
    * retrieval stack combines heterogeneous rankers) over the two ANN
    * indexes: score(c) = Σ_systems 1/(60 + rank_sys(c)), here in exact
    * integer micro-units (`10^9 div (60 + rn)`) so the fused ranking
    * is oracle-hashable — floats would tie-break differently across
    * engines. Candidates absent from one ranking contribute 0 from it
    * (the full-outer join), exactly RRF's convention.
    *
    * Scale shape: both inputs are per-query top-5 tables (bounded:
    * 5 rows × #queries), so the fusion join keys on (qid, cid) with
    * tiny cardinality either side; the final per-query rank is a
    * window over ≤10 rows per qid. The expensive work happens — and
    * is already scale-shaped — inside the two index scans being fused.
    */
  def simRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lsh = simLshTopK(s, dir).select(col("qid"), col("cid"), col("rn").as("rank_lsh"))
    val ivf = simIvfTopK(s, dir).select(col("qid"), col("cid"), col("rn").as("rank_ivf"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("cid"))
    lsh.join(ivf, Seq("qid", "cid"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000000L div (60 + rank_lsh)"), lit(0L)) +
          coalesce(expr("1000000000L div (60 + rank_ivf)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= 5)
      .select(col("qid"), col("cid"), col("rrf"), col("fused_rank"))
  }

  /** ANN index-quality evaluation: per-probe recall@5 of the LSH and
    * IVF indexes against the EXACT brute-force top-5 ([[simTopK]] is
    * the ground truth the approximate indexes are judged by — this
    * operator is the judging). The measurement loop every production
    * vector index runs before swapping an index build into serving.
    *
    * Scale shape: the three inputs are per-query top-5 tables —
    * bounded at 5 × #probes rows each — so the hit-counting semi-joins
    * and per-probe aggregates are metadata-sized regardless of corpus
    * size; all real work is inside the index scans being evaluated
    * (each already scale-shaped).
    */
  def simRecallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = ResidentCache(s, "sim_recall_exact",
      simTopK(s, dir).select(col("qid"), col("cid")))
    val lsh = simLshTopK(s, dir).select(col("qid"), col("cid"))
    val ivf = simIvfTopK(s, dir).select(col("qid"), col("cid"))
    def hits(approx: DataFrame, name: String): DataFrame = approx
      .join(exact, Seq("qid", "cid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as(name))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits(lsh, "lsh_hits"), Seq("qid"), "left")
      .join(hits(ivf, "ivf_hits"), Seq("qid"), "left")
      .na.fill(0L, Seq("lsh_hits", "ivf_hits"))
      .select(col("qid"), col("n_exact"), col("lsh_hits"), col("ivf_hits"),
        expr("(1000 * lsh_hits) div n_exact").as("lsh_recall_milli"),
        expr("(1000 * ivf_hits) div n_exact").as("ivf_recall_milli"))
  }

  /** Contrastive-pair mining over the labeled embedding corpus: for
    * each probe, the top-3 most similar SAME-label vectors (positives)
    * and the top-3 most similar DIFFERENT-label vectors (hard
    * negatives — the near-boundary examples contrastive/metric
    * training actually learns from; random negatives are too easy).
    *
    * Scale shape: [[simTopK]]'s contract — the bounded probe set
    * broadcasts, the corpus streams through ONE codegen'd pass (native
    * dot kernel), and the per-(probe, kind) top-3 is a row_number
    * window whose rank filter compiles to WindowGroupLimit, so each
    * map task ships only its local top-3 per group.
    */
  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    val lab = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val e = quantized(s, dir).join(lab, Seq("vec_id"))
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qv"), col("nq").as("qn"),
        col("label").as("qlab"))
    val cs = e.select(col("vec_id").as("cid"), col("q").as("cv"), col("nq").as("cn"),
      col("label").as("clab"))
    val w = Window.partitionBy(col("qid"), col("kind")).orderBy(col("cos").desc, col("cid"))
    cs.join(broadcast(qs), col("qid") =!= col("cid"))
      .withColumn("dot", expr("dot_i64(qv, cv)"))
      .withColumn("cos", col("dot") / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("kind", when(col("qlab") === col("clab"), "pos").otherwise("neg"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("kind"), col("cos"), col("rn"))
  }

  /** Matryoshka truncation evaluation (Kusupati et al. 2022): how well
    * does the FIRST-16-dims prefix of each embedding preserve the
    * full-64-dim cosine ranking? Per probe: |top-5 under prefix-16 ∩
    * top-5 under full-64|, and whether the top-1 neighbor agrees — the
    * measurement that decides whether a pipeline can serve truncated
    * vectors (4× cheaper storage/compute) without recall loss.
    *
    * Scale shape: ONE corpus pass scores both rankings (the bounded
    * probe set broadcasts; both dots are native-kernel columns in the
    * same codegen'd projection); the two per-probe top-5 windows
    * compile to WindowGroupLimit, and the overlap join runs on two
    * 5-rows-per-probe tables — metadata-sized at any corpus size.
    */
  def simMatryoshkaEval(s: SparkSession, dir: String): DataFrame = {
    val prefix = 16
    val e = quantized(s, dir)
      .withColumn("q16", expr(s"slice(q, 1, $prefix)"))
      .withColumn("nq16", expr("dot_i64(q16, q16)"))
    val qs = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("qid"), col("q").as("qv"), col("nq").as("qn"),
      col("q16").as("qv16"), col("nq16").as("qn16"))
    val scored = e.select(col("vec_id").as("cid"), col("q").as("cv"), col("nq").as("cn"),
        col("q16").as("cv16"), col("nq16").as("cn16"))
      .join(broadcast(qs), col("qid") =!= col("cid"))
      .withColumn("cos64", expr("dot_i64(qv, cv)") / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("cos16", expr("dot_i64(qv16, cv16)") / (sqrt(col("qn16")) * sqrt(col("cn16"))))
    val w64 = Window.partitionBy(col("qid")).orderBy(col("cos64").desc, col("cid"))
    val w16 = Window.partitionBy(col("qid")).orderBy(col("cos16").desc, col("cid"))
    val top64 = scored.withColumn("rn", row_number().over(w64)).filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("rn").as("rn64"))
    val top16 = scored.withColumn("rn", row_number().over(w16)).filter(col("rn") <= 5)
      .select(col("qid"), col("cid"), col("rn").as("rn16"))
    top64.join(top16, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("rn16").isNotNull, 1L).otherwise(0L)).as("n_overlap"),
        sum(when(col("rn64") === 1 && col("rn16") === 1, 1L).otherwise(0L)).as("top1_match"))
      .withColumn("overlap_milli", expr("(1000 * n_overlap) div n_exact"))
  }

  /** kNN majority-vote classification (label propagation over the
    * embedding space): every 5th vector (`vec_id % 5 == 0`) is the
    * held-out TEST set; the rest keep their labels as TRAIN. Each test
    * vector takes the majority label of its k nearest train vectors by
    * cosine (ties: more votes win, then the smaller label) — the
    * standard embedding-quality probe (a good embedding space
    * classifies by neighborhood), and the label-transfer primitive for
    * weak supervision over an unlabeled corpus slice.
    *
    * Scale shape: a RECTANGULAR block tiling, not the full triangle —
    * train partitions into `nBlocks` by id, each test vector replicates
    * once per block (test·nBlocks + train shuffled rows, never N²
    * through one task), scoring stays inside codegen via the native dot
    * kernel, and the per-test top-k is the bounded `knn_topk` hash
    * aggregate — the row_number window spelling locally sorts every
    * test×train scored pair before its group limit can drop any, the
    * same super-linear sort the sf1 scaling probe caught on the knn
    * graph (BENCH_SCALE.md). The vote argmax is one
    * `max(struct(votes, -label))` aggregate — co-keyed, no window over
    * the candidate set.
    */
  def simKnnClassify(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val nBlocks = 8
    val e = quantized(s, dir)
    val lbl = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val test = e.filter(pmod(col("vec_id"), lit(5)) === 0)
    val train = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    knnClassifyCore(test, train, lbl, k, nBlocks)
      .join(lbl, Seq("vec_id"))
      .select(col("vec_id"), col("label").as("true_label"),
        col("pred_label"), col("votes"))
  }

  /** The rectangular-block knn-vote core over already-quantized sides
    * — one definition serving the batch operator ([[simKnnClassify]])
    * and streaming label transfer ([[knnClassifyWith]]), so the bounded
    * `knn_topk` aggregate spelling (never a rank window) is pinned for
    * both. `test`/`train`: (vec_id, q, nq); `trainLbl`: (vec_id,
    * label). Output (vec_id, pred_label, votes) — majority label of
    * the k nearest train vectors, ties by more votes then smaller
    * label.
    */
  private[graft] def knnClassifyCore(test: DataFrame, train: DataFrame,
      trainLbl: DataFrame, k: Int, nBlocks: Int): DataFrame = {
    val testB = test
      .withColumn("blk", explode(expr(s"sequence(0, ${nBlocks - 1})")))
      .select(col("vec_id").as("src"), col("q").as("qa"), col("nq").as("na"), col("blk"))
    val trainB = train
      .withColumn("blk", pmod(col("vec_id"), lit(nBlocks)).cast("int"))
      .select(col("vec_id").as("nbr"), col("q").as("qb"), col("nq").as("nn"), col("blk"))
    val scoredPairs = testB.join(trainB, Seq("blk"))
      .withColumn("dot", expr("dot_i64(qa, qb)"))
      .withColumn("cos",
        col("dot").cast("double") / (sqrt(col("na")) * sqrt(col("nn"))))
    val topk = scoredPairs
      .groupBy(col("src"))
      .agg(graft.functions.TopKByAgg.knnTopK(
        col("cos"), col("nbr"), col("dot"), k).as("nb"))
      .select(col("src"), explode(col("nb.nbr")).as("nbr"))
    topk.join(trainLbl.select(col("vec_id").as("nbr"), col("label").as("nbr_label")),
        Seq("nbr"))
      .groupBy(col("src"), col("nbr_label")).agg(count(lit(1)).as("votes"))
      .groupBy(col("src"))
      .agg(max(struct(col("votes"), (-col("nbr_label")).as("neg"))).as("top"))
      .select(col("src").as("vec_id"), (-col("top.neg")).as("pred_label"),
        col("top.votes").as("votes"))
  }

  /** Label raw (vec_id, embedding) query rows against a FROZEN labeled
    * reference (vec_id, embedding, label; persisted, like every frozen
    * index) through [[knnClassifyCore]] — DataFrame-in, so each
    * streaming micro-batch ([[graft.streaming.Streaming.runAppend]])
    * runs the batch core verbatim: a query's top-k depends only on the
    * query and the reference, so stream ≡ batch. Per-tick cost
    * O(batch · reference / blocks) scored rows, the same shape the
    * batch operator pays per test vector.
    */
  def knnClassifyWith(queries: DataFrame, reference: DataFrame,
      k: Int = 5, nBlocks: Int = 8): DataFrame =
    knnClassifyCore(quantizedOf(queries), quantizedOf(reference),
      reference.select(col("vec_id"), col("label").cast("long").as("label")), k, nBlocks)

  /** Greedy k-center (max-min / farthest-point) diversity selection —
    * Gonzalez's 2-approximation: seed with the lowest vec_id, then k−1
    * times pick the vector FARTHEST (max over candidates of its min
    * integer squared-L2 distance to the selected set, ties by lower
    * vec_id). The diversity-subset primitive (coreset seeding, diverse
    * eval-set picking, k-means++-style initialization) — the selected
    * set maximizes spread, the opposite of [[semDedup]]'s density
    * pruning.
    *
    * Scale shape: the selected set is bounded (k rows) and never a
    * corpus-sized structure; each round is ONE corpus pass followed by
    * a TakeOrdered(1) — no global sort, no driver collect beyond the
    * 1-row argmax, k passes total. Two spellings of the per-round
    * distance, dispatched on k ([[kcenterRound]]): small k inlines the
    * centers as plan LITERALS (`least` over k codegen'd dot kernels —
    * fastest, but plan text grows O(k·dim) and each round recompiles a
    * bigger codegen function); large k ships the centers as ONE
    * broadcast single-row array-of-structs and takes `array_min` over
    * a `transform` lambda — plan size constant in k, the 100 TB shape
    * when k reaches the thousands. OpsSpec pins both paths equal and
    * the broadcast plan's size flat in k.
    */
  def simKcenterSelect(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val e = residentQuantized(s, dir)
    val seed = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("q"), col("nq")).head()
    // (round, id, d2-at-selection, quantized vector, |c|²)
    var centers = Vector[(Long, Long, Long, Array[Long], Long)](
      (1L, seed.getLong(0), 0L, seed.getSeq[Long](1).toArray, seed.getLong(2)))
    for (r <- 2 to k) {
      val next = kcenterRound(s, e, centers, literalCenters = k <= 16).head()
      centers = centers :+ ((r.toLong, next.getLong(0), next.getLong(1),
        next.getSeq[Long](2).toArray, next.getLong(3)))
    }
    centers.map { case (r, id, d2, _, _) => (r, id, d2) }
      .toDF("sel_round", "vec_id", "d2")
  }

  /** One k-center round: the 1-row argmax-of-min-distance candidate
    * (vec_id, d2, q, nq), ordered so `.head()` is the selection.
    * Exposed package-private so OpsSpec can compare the two center
    * spellings and assert the broadcast plan stays flat in k.
    */
  private[graft] def kcenterRound(
      s: SparkSession,
      e: DataFrame,
      centers: Seq[(Long, Long, Long, Array[Long], Long)],
      literalCenters: Boolean): DataFrame = {
    import s.implicits._
    val cand = e.filter(!col("vec_id").isInCollection(centers.map(_._2)))
    val scored =
      if (literalCenters) {
        val minDist = centers.map { case (_, _, _, cq, cn) =>
          val lits = cq.map(v => s"${v}L").mkString(", ")
          lit(cn) + col("nq") - lit(2L) * expr(s"dot_i64(q, array($lits))")
        }.reduce(least(_, _))
        cand.select(col("vec_id"), minDist.as("d2"), col("q"), col("nq"))
      } else {
        // centers as ONE broadcast row holding an array<struct<cq,cn>>
        // attribute — the per-round plan references the attribute, not
        // k·dim literals, so plan text and codegen stay O(1) in k
        val cdf = centers.map(c => (c._4.toSeq, c._5)).toDF("ccq", "ccn")
          .agg(collect_list(struct(col("ccq"), col("ccn"))).as("cs"))
        cand.crossJoin(broadcast(cdf))
          .select(col("vec_id"),
            expr("array_min(transform(cs, c -> c.ccn + nq - 2L * dot_i64(q, c.ccq)))").as("d2"),
            col("q"), col("nq"))
      }
    scored.orderBy(col("d2").desc, col("vec_id")).limit(1)
  }

  /** Embedding sanity stats per label — the ingest-time health check a
    * vector pipeline runs before building anything on new embeddings
    * (an all-zero or norm-collapsed batch silently poisons every
    * downstream cosine): per label, the count plus min/mean/max integer
    * squared norm and the degenerate (zero-vector) count. One
    * row-parallel norm projection + a labels-bounded aggregate.
    */
  def embNormStats(s: SparkSession, dir: String): DataFrame = {
    val lab = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    quantized(s, dir).join(lab, Seq("vec_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nq")).as("min_nq"),
        max(col("nq")).as("max_nq"),
        expr("sum(nq) div count(1)").as("mean_nq"),
        sum(when(col("nq") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("min_nq"), col("max_nq"), col("mean_nq"), col("n_zero"))
  }

  /** Embedding outlier QC: flag vectors unusually far from their
    * assigned k-means centroid — the batch-ingest check that catches a
    * corrupted embedding shard (wrong model version, truncated floats)
    * before it poisons ANN indexes and dedup. Distance is the exact
    * integer squared L2 to the assigned centroid; the per-cell p90
    * cutoff comes from a bit-length histogram (cells × ≤64 buckets —
    * a BOUNDED domain, so the threshold pass is metadata-scale and the
    * window partitions over ≤64 rows per cell, never corpus rows).
    * Flag = distance bit-length strictly above the cell's p90 bucket.
    */
  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = residentQuantized(s, dir)
    val (centroids, assigned) = kmeansCells(s, e, dir)
    val centCells = centroids.select(col("centroid_id").as("cell"), col("cq"), col("cn"))
    val dists = e.join(assigned, Seq("vec_id"))
      .join(broadcast(centCells), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        (col("nq") - lit(2L) * expr("dot_i64(q, cq)") + col("cn")).as("dist2"))
      .withColumn("b", length(bin(col("dist2"))).cast("long"))
    val hist = dists.groupBy(col("cell"), col("b")).agg(count(lit(1)).as("n"))
    val W = Window
    val wCum = W.partitionBy(col("cell")).orderBy(col("b"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val thr = hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("tot", sum(col("n")).over(W.partitionBy(col("cell"))))
      .filter(col("cum") * 10L >= col("tot") * 9L)
      .groupBy(col("cell")).agg(min(col("b")).as("thr_bits"))
    dists.join(broadcast(thr), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("dist2"),
        (col("b") > col("thr_bits")).cast("long").as("is_outlier"))
  }

  /** Selection-diversity evaluation: mean pairwise cosine (micro-unit
    * quantized so the aggregate is an exact integer sum) within each
    * diversity-selection method's output — [[simKcenterSelect]]'s 8
    * farthest-point picks vs [[simMmrSelect]]'s 4 MMR picks vs the
    * first-k baseline a naive pipeline would take. Lower mean cosine =
    * more diverse subset; the eval a curation harness runs to justify
    * paying for a selection pass at all.
    *
    * Scale shape: every selected set is bounded by construction
    * (k ≤ 8 ids), so after each method's own distributed selection the
    * eval itself is a ≤ 28-pair join over id-filtered vectors —
    * metadata scale; cosines are quantized per-pair BEFORE summation
    * so the result is partitioning- and order-independent.
    */
  def simDiversityEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = quantized(s, dir)
    val kc = simKcenterSelect(s, dir).select(col("vec_id")).collect().map(_.getLong(0))
    val mmr = simMmrSelect(s, dir).select(col("cid")).collect().map(_.getLong(0))
    val naive = (0L until 8L).toArray
    val sel = (kc.map(("kcenter", _)) ++ mmr.map(("mmr", _)) ++ naive.map(("first_k", _)))
      .toSeq.toDF("method", "vec_id")
    val m = e.join(broadcast(sel), Seq("vec_id"))
      .select(col("method"), col("vec_id"), col("q"), col("nq"))
    m.alias("a").join(m.alias("b"), Seq("method"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("method"),
        expr("dot_i64(a.q, b.q)").as("dot"),
        col("a.nq").as("na"), col("b.nq").as("nb"))
      // FLOOR, not ROUND: a product landing exactly on a .5 boundary
      // rounds differently across engines (HALF_UP vs half-to-even);
      // floor is bit-identical everywhere
      .withColumn("cos_micro",
        expr("cast(floor(1000000.0 * (cast(dot as double) / (sqrt(cast(na as double)) * sqrt(cast(nb as double))))) as bigint)"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("cos_micro")).as("sum_cos_micro"))
      .select(col("method"), col("n_pairs"),
        // FLOOR division (pmod keeps the remainder non-negative):
        // sum_cos_micro can be negative, and Spark's `div` truncates
        // toward zero while the DuckDB oracle's `//` floors — this
        // spelling is exact and engine-agnostic
        expr("(sum_cos_micro - pmod(sum_cos_micro, n_pairs)) div n_pairs")
          .as("mean_cos_micro"))
  }

  /** Contrastive triplet assembly (the training-data form of
    * [[simHardNegatives]]'s mining): per anchor, cross its top-3
    * same-label positives with its top-3 different-label hard
    * negatives and keep the triplets that PRODUCE GRADIENT under a
    * margin-0.2 triplet loss — cos(a,n) + 0.2 > cos(a,p), the
    * semi-hard/hard band (Schroff et al. 2015); easy triplets whose
    * negative is already separated by the margin contribute zero loss
    * and are dropped before they waste a training step.
    *
    * Scale shape: the pos/neg inputs are bounded per-anchor top-3
    * tables, so the assembly join is (anchors × 9)-sized metadata;
    * the corpus-scale work stays in the mining pass's broadcast-probe
    * scan.
    */
  def simTriplets(s: SparkSession, dir: String): DataFrame = {
    val hn = simHardNegatives(s, dir)
    val pos = hn.filter(col("kind") === "pos")
      .select(col("qid").as("anchor"), col("cid").as("pos_id"),
        col("cos").as("pos_cos"), col("rn").as("pos_rank"))
    val neg = hn.filter(col("kind") === "neg")
      .select(col("qid").as("anchor"), col("cid").as("neg_id"),
        col("cos").as("neg_cos"), col("rn").as("neg_rank"))
    pos.join(neg, Seq("anchor"))
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
      .filter(col("neg_cos") + 0.2 > col("pos_cos"))
      .select(col("anchor"), col("pos_id"), col("neg_id"),
        col("pos_rank"), col("neg_rank"), col("margin"))
  }

  /** Hybrid lexical + dense retrieval (the production RAG pattern:
    * BM25 candidates and embedding-cosine candidates fused by
    * reciprocal-rank): for each of the five fixed queries
    * ([[graft.operators.TextOps.Bm25Queries]]) the lexical rank comes
    * from [[graft.operators.TextOps.txtBm25TopK]] and the dense rank
    * from [[simTopK]] with the query's own embedding (vec_id = qid —
    * doc and vector ids share the key space in the testdata corpus),
    * fused with the same integer RRF-60 convention as [[simRrfFusion]].
    *
    * Scale shape: everything AFTER the two retrievers is bounded —
    * two (queries × 5)-row tables full-outer-joined; the heavy lifting
    * keeps each retriever's own 100 TB shape (BM25's semi-join-sized
    * postings slice, top-k's single broadcast-probe corpus stream).
    */
  def simHybridSearch(s: SparkSession, dir: String): DataFrame = {
    val qids = graft.operators.TextOps.Bm25Queries.map(_._1)
    val lex = graft.operators.TextOps.txtBm25TopK(s, dir)
      .select(col("qid"), col("doc_id"), col("rn").as("lex_rank"))
    val dense = simTopK(s, dir)
      .filter(col("qid").isInCollection(qids))
      .select(col("qid"), col("cid").as("doc_id"), col("rn").as("dense_rank"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf_micro").desc, col("doc_id"))
    lex.join(dense, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000000L div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000000L div (60 + dense_rank)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= 5)
      .select(col("qid"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
        col("rrf_micro"), col("fused_rank"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998)
    * — the diversity re-rank a RAG stack applies to its candidate
    * list: from the cosine top-`nCand` of one probe (vec_id 0), pick
    * `nSel` results greedily by mmr = 0.7·cos(q,d) − 0.3·max_{s∈S}
    * cos(d,s), ties by lower cid. Round 1 is pure relevance (empty
    * selected set ⇒ redundancy term 0).
    *
    * Scale shape: candidate generation is the distributed part — one
    * corpus pass crossed with the one-row probe, `TakeOrderedAndProject`
    * for the top-nCand (no global sort), all in ONE Spark job: the
    * probe side is coalesced to one partition and joined as a
    * cartesian product (no broadcast, whose collection is a job of its
    * own), so each corpus task pairs its rows with the probe row
    * without a shuffle. The MMR loop then runs
    * driver-side over the COLLECTED candidates, which is correct at
    * any corpus size because the candidate list is bounded by
    * construction (nCand rows of dim-64 integer vectors — the same
    * bounded-by-construction discipline as [[simTopK]]'s probe set);
    * its pairwise-cosine matrix is nCand², never corpus².
    */
  def simMmrSelect(s: SparkSession, dir: String,
      nCand: Int = 10, nSel: Int = 4): DataFrame = {
    import s.implicits._
    val e = quantized(s, dir)
    val probe = e.filter(col("vec_id") === 0L)
      .select(col("q").as("pq"), sqrt(col("nq").cast("double")).as("sqrt_np"))
      .coalesce(1).hint("shuffle_replicate_nl")
    val cand = e.filter(col("vec_id") =!= 0L).crossJoin(probe)
      .withColumn("dot", expr("dot_i64(q, pq)"))
      .withColumn("cos",
        col("dot").cast("double") / (sqrt(col("nq").cast("double")) * col("sqrt_np")))
      .orderBy(col("cos").desc, col("vec_id")).limit(nCand)
      .select(col("vec_id"), col("q"), col("nq"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray,
        math.sqrt(r.getLong(2).toDouble), r.getDouble(3)))
    def cosBetween(a: (Long, Array[Long], Double, Double),
        b: (Long, Array[Long], Double, Double)): Double = {
      var dot = 0L; var i = 0
      while (i < a._2.length) { dot += a._2(i) * b._2(i); i += 1 }
      dot / (a._3 * b._3)
    }
    val byId = cand.map(c => c._1 -> c).toMap
    var selected = Vector.empty[(Long, Long, Double, Double)] // (round, cid, rel, mmr)
    var remaining = cand.toVector
    for (r <- 1 to nSel) {
      val best = remaining.map { c =>
        val redundancy =
          if (selected.isEmpty) 0.0
          else selected.map(s => cosBetween(c, byId(s._2))).max
        (c, 0.7 * c._4 - 0.3 * redundancy)
      }.minBy { case (c, m) => (-m, c._1) }
      selected = selected :+ ((r.toLong, best._1._1, best._1._4, best._2))
      remaining = remaining.filterNot(_._1 == best._1._1)
    }
    selected.toDF("sel_round", "cid", "rel_cos", "mmr_score")
  }

  /** Johnson-Lindenstrauss output width for [[embRandomProjection]]. */
  val JlOutDim = 16

  /** Deterministic ±1 sign for JL output dim `k`, input dim `j` — an
    * LCG bit (Numerical Recipes constants) over the flattened index,
    * the [[planeSign]] discipline without the MD5 cost: the "random"
    * matrix is pure data-independent arithmetic, so Spark and the
    * oracle materialize the SAME literal matrix from this one
    * definition and no randomness crosses an engine boundary.
    */
  def jlSign(k: Int, j: Int): Long =
    if ((((1103515245L * (j * JlOutDim + k) + 12345L) >> 16) & 1L) == 1L) 1L else -1L

  /** Johnson-Lindenstrauss signed random projection (Achlioptas 2003:
    * ±1 entries preserve pairwise distances in expectation like
    * Gaussians do) — 64-dim integer vectors down to [[JlOutDim]]
    * dims, E[‖p(a)−p(b)‖²] = (d_out/d_in)·‖a−b‖² up to the JL
    * distortion. The cheap front half of a two-stage ANN: candidate
    * generation in the narrow space (4× fewer multiplies per dot, 4×
    * smaller shuffle payloads), exact re-score in the original space.
    *
    * Scale shape: the projection matrix is 16×64 CONSTANT literals
    * folded into the expression tree, so the whole operator is one
    * row-parallel codegen'd projection — zero shuffles, zero joins,
    * scan throughput at any corpus size. (At larger d_in×d_out the
    * matrix would move into a broadcast array + `aggregate`; at this
    * size constant folding beats the interpreted higher-order path.)
    * Long output shape (vec_id, out_dim, proj) keeps the oracle
    * hash schema-stable.
    */
  def embRandomProjection(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings").select(
      col("vec_id"),
      expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
    val projCols = (0 until JlOutDim).map { k =>
      (0 until Dim).map(j => element_at(col("q"), j + 1) * lit(jlSign(k, j)))
        .reduce(_ + _).as(s"p$k")
    }
    val stacked = s"stack($JlOutDim, " +
      (0 until JlOutDim).map(k => s"cast($k as bigint), p$k").mkString(", ") +
      ") as (out_dim, proj)"
    e.select(col("vec_id") +: projCols: _*)
      .selectExpr("vec_id", stacked)
  }
}
