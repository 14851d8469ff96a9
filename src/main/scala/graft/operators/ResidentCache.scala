package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.SparkContext
import org.apache.spark.storage.StorageLevel

/** The operators' one resident memo registry: a single access-ordered
  * LRU keyed by (SparkContext, slot), each slot holding ONE entry —
  * either a cached DataFrame or a driver-side value — bounded by one
  * entry count per context and one storage byte budget. Eviction
  * unpersists; a later request for an evicted slot simply re-memoizes
  * (the build closure re-runs), so results never change — only
  * residency does.
  *
  * Two hit rules:
  *   - PLAN SLOTS ([[apply]]): the slot's cached plan is served when it
  *     is `sameResult` with the requested plan and still cached —
  *     caching a new invocation's intermediate releases the previous
  *     one's (the [[graft.operators.SimilarityOps]] PQ-loop unpersist
  *     discipline applied to repeatedly-invoked two-pass operators).
  *   - KEYED ENTRIES ([[memo]], [[localModel]], [[value]]): for results
  *     whose plan is not `sameResult`-stable (fixpoints ending in
  *     checkpoint RDDs, trained models, driver-side verdicts) the entry
  *     is served when its STAMP equals the caller's and, for a
  *     DataFrame, it is still cached. The stamp is
  *     [[graft.sources.Tables.listingFingerprint]] of every source table
  *     the build reads (file, length, mtime), the reuse rule dbt's
  *     partial parse applies to file checksums: a table rewritten in
  *     place — even under the same file name — changes the stamp, so the
  *     next request rebuilds and REPLACES the slot's entry. There is no
  *     invalidate call, and a slot keeps one entry however many
  *     rewrites it sees.
  *
  * A build that throws records nothing: the next request rebuilds.
  *
  * Keyed on the CONTEXT, not the session: Spark's `CacheManager` lives
  * in `SharedState`, shared by every `SparkSession.newSession()` child,
  * so a session-scoped key would pin one cached plan per dead session
  * until the JVM-wide context stops. Identical plans submitted from
  * sibling sessions reuse the one shared cache entry (`sameResult` is
  * session-independent), and replacing a slot unpersists through the
  * shared CacheManager regardless of which session wrote it.
  */
object ResidentCache {
  /** One monitor for the registry. Builds run under it, so a concurrent
    * first request for a slot waits for the build instead of repeating
    * it; nested requests from inside a build re-enter.
    */
  private val lock = new Object

  /** Entry cap per context, over every kind: a long-lived JVM sweeping
    * MANY dataset dirs (slot names embed the dir) evicts its
    * least-recently-used entries instead of accumulating one per dir
    * for its lifetime. The byte budget below, not this count, bounds
    * memory.
    */
  private[graft] val MaxEntries = 192

  /** Byte budget (r15 verdict item 1): the entry COUNT above bounds how
    * many plans can be resident, but says nothing about heap — at 32
    * concurrent tasks a storage pool full of corpus-sized cached
    * tables starves execution memory (guide §5: cached data competes
    * with execution; unified-memory eviction only reclaims down to
    * `spark.memory.storageFraction`). This cap bounds the TOTAL
    * block-manager memory footprint (cached plans, memoized
    * fixpoints, and localCheckpoint state all included — pressure is
    * pressure regardless of who allocated it): when exceeded, resident
    * DataFrames yield in LRU order. Yielding unpersists; a later
    * consumer re-memoizes from the parquet inputs, so results never
    * change — only residency does. Default 40% of the driver heap: at
    * the bench's 8 g that is ~3.2 g, above the full sweep's measured
    * working set (so idle-sweep numbers stay comparable) while capping
    * a pathological working set at well under the unified-memory pool.
    * 0 disables. On a real cluster the same fraction scales with
    * executor heap — the point is the RATIO of convenience cache to
    * execution memory, not a local constant.
    */
  private def maxStorageBytes(s: SparkSession): Long =
    s.conf.getOption("spark.graft.residentCache.maxStorageBytes")
      .map(_.toLong)
      .getOrElse((Runtime.getRuntime.maxMemory * 0.4).toLong)

  /** A slot's entry: a cached DataFrame or a driver-side value, and the
    * stamp a keyed entry was built under (None for a plan slot, whose
    * plan is its own key).
    */
  private final case class Entry(data: Any, stamp: Option[String]) {
    def df: Option[DataFrame] = data match {
      case d: DataFrame @unchecked => Some(d)
      case _ => None
    }
  }

  // access-ordered: iteration starts at the least-recently-used entry
  private val entries =
    new java.util.LinkedHashMap[(SparkContext, String), Entry](16, 0.75f, true)

  // telemetry: cumulative outcomes per JVM — warm hits vs cache-miss
  // builds vs LRU evictions (and evictions skipped for a sameResult
  // survivor). The bench emits these in its JSON line so a sweep-order
  // timing drift is attributable from the artifact alone: a drift WITH
  // stable counters is machine noise; rising evictions mean the working
  // set outgrew the cap and queries re-pay warm-up.
  private val hitN = new java.util.concurrent.atomic.AtomicLong
  private val missN = new java.util.concurrent.atomic.AtomicLong
  private val evictN = new java.util.concurrent.atomic.AtomicLong
  private val evictSharedN = new java.util.concurrent.atomic.AtomicLong
  private val evictBytesN = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses, evictions, evictions-skipped-as-shared,
    * byte-budget evictions) so far.
    */
  def counters: Map[String, Long] = Map(
    "hits" -> hitN.get, "misses" -> missN.get,
    "evictions" -> evictN.get, "evictions_shared_skip" -> evictSharedN.get,
    "evictions_bytes" -> evictBytesN.get)

  private def isCached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** Unpersist a DataFrame that left the registry — unless a surviving
    * entry's plan is `sameResult` with it: the survivor shares the one
    * CacheManager entry, and unpersisting would silently de-cache it
    * too. Returns false when the release was skipped as shared.
    */
  private def release(df: DataFrame, blocking: Boolean): Boolean = {
    val shared = entries.values.stream().anyMatch(e => e.df.exists(v => !(v eq df) &&
      v.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)))
    if (!shared) df.unpersist(blocking)
    !shared
  }

  /** Remove this context's least-recently-used entry matching `p`. */
  private def evictLru(sc: SparkContext)(p: Entry => Boolean): Option[Entry] = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e.getKey._1 eq sc) && p(e.getValue)) { it.remove(); return Some(e.getValue) }
    }
    None
  }

  private def liveCount(sc: SparkContext): Int = {
    var n = 0
    entries.keySet.forEach(k => if (k._1 eq sc) n += 1)
    n
  }

  /** Record a slot's new entry and release the one it replaces, then
    * trim this context to the entry cap and the byte budget, LRU first.
    * The byte trim blocks on each unpersist so its next storage poll
    * sees the release, and polls EVERY cached/checkpointed RDD (not
    * just ours) deliberately — if fixpoint checkpoints fill storage,
    * the convenience caches are what should give way (guide §5).
    */
  private def install(s: SparkSession, slot: String, e: Entry): Unit = {
    val sc = s.sparkContext
    val old = entries.put((sc, slot), e)
    if (old != null) old.df.filterNot(d => e.df.exists(_ eq d)).foreach(release(_, blocking = false))
    while (liveCount(sc) > MaxEntries)
      evictLru(sc)(_ => true).foreach { ev =>
        if (ev.df.forall(release(_, blocking = false))) evictN.incrementAndGet()
        else evictSharedN.incrementAndGet()
      }
    val capB = maxStorageBytes(s)
    if (capB > 0) {
      def used: Long = sc.getRDDStorageInfo.map(_.memSize).sum
      var more = true
      while (more && used > capB)
        evictLru(sc)(_.df.isDefined) match {
          case Some(ev) =>
            if (release(ev.df.get, blocking = true)) evictBytesN.incrementAndGet()
            else evictSharedN.incrementAndGet()
          case None => more = false
        }
    }
  }

  /** Serve `slot`'s entry when `hit` accepts it, else build, record and
    * return a new one. Entries of stopped contexts are swept first —
    * their cached blocks died with the executors; holding the plans
    * would pin dead contexts for the JVM lifetime.
    */
  private def lookup(s: SparkSession, slot: String)(hit: Entry => Boolean)(
      build: => Entry): Any =
    lock.synchronized {
      entries.keySet.removeIf(_._1.isStopped)
      val prev = entries.get((s.sparkContext, slot))
      if (prev != null && hit(prev)) {
        hitN.incrementAndGet()
        prev.data
      } else {
        missN.incrementAndGet()
        val e = build
        install(s, slot, e)
        e.data
      }
    }

  /** Plan slot: at most ONE resident cached plan per (context, slot). An
    * identical plan REUSES the warm cache — the CacheManager already
    * holds one shared entry for it, and unpersisting the "previous" df
    * would evict that entry and silently de-cache this one. An external
    * clearCache()/unpersist invalidates the entry: returning a de-cached
    * plan would silently reinstate the double evaluation forever.
    */
  def apply(s: SparkSession, slot: String, df: DataFrame): DataFrame =
    lookup(s, slot)(_.df.exists(prev => isCached(prev) &&
      prev.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)))(
      Entry(df.cache(), None)).asInstanceOf[DataFrame]

  /** Keyed DataFrame for DETERMINISTIC-but-not-`sameResult`-stable
    * results — fixpoint outputs whose lineage ends in per-invocation
    * checkpoint RDDs (connected components, k-core): the plan differs
    * every run even though the DATA is identical, so a plan slot would
    * recompute per consumer. The memo runs `build` once per (context,
    * slot, stamp), materializes it eagerly (so the checkpoint blocks are
    * captured while they surely exist), and serves the SAME cached
    * DataFrame to every later consumer. MEMORY_AND_DISK — a corpus-sized
    * cluster table spills rather than OOMs; on a real cluster this is
    * the in-memory analogue of persisting the fixpoint table, which
    * [[graft.exec.RelationStore]] does for durable reuse.
    */
  def memo(s: SparkSession, slot: String, stamp: String)(build: => DataFrame): DataFrame =
    lookup(s, slot)(e => e.stamp.contains(stamp) && e.df.forall(isCached)) {
      val built = build.cache()
      built.count()
      Entry(built, Some(stamp))
    }.asInstanceOf[DataFrame]

  /** Keyed driver-side value: `compute` runs once per (context, slot,
    * stamp) — probe verdicts, merge tables, one-time landings.
    */
  def value[A](s: SparkSession, slot: String, stamp: String)(compute: => A): A =
    lookup(s, slot)(_.stamp.contains(stamp))(Entry(compute, Some(stamp))).asInstanceOf[A]

  /** Driver-side memo for SMALL trained models (centroid tables, PQ
    * codebooks — tens of rows by construction), a [[value]] over the
    * collected (schema, rows): train once per (context, slot, stamp),
    * then serve a LocalRelation rebuilt from the rows. Two reasons this
    * beats caching the training plan: (1) the Lloyd-loop plans carry
    * lambda expressions whose canonical forms differ per invocation, so
    * `sameResult` caching misses and every consumer would retrain; (2)
    * a LocalRelation canonicalizes BY DATA, so every downstream plan
    * built on the model is `sameResult`-stable and the corpus-sized
    * plan slots above it actually warm.
    */
  def localModel(s: SparkSession, slot: String, stamp: String)(train: => DataFrame): DataFrame = {
    val (schema, rows) = value(s, slot, stamp) {
      val d = train
      (d.schema, d.collect())
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Test/inspection hook: live entry count for a context. */
  def liveEntries(sc: SparkContext): Int =
    lock.synchronized { liveCount(sc) }
}
