package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.exec.RelationStore

/** Structured Streaming surface (SURVEY.md §2.7): the reference's
  * microbatch incremental semantics mapped onto a true stream.
  *
  *  - tumbling windows  = `window(ts, batchSize)` groupBy
  *  - late data         = `withWatermark(ts, lookback)`
  *  - checkpoint        = Spark's own streaming checkpoint dir
  *  - per-batch commit  = `foreachBatch` → a per-batchId delta append
  *    ([[runAppend]]) or a key upsert into the RelationStore (a
  *    replayed batch skips or rewrites the same content, so retries
  *    are safe)
  *  - Trigger.AvailableNow = "process everything that has landed, then
  *    stop" — the exact execution contract of a scheduled microbatch
  *    run, but with streaming bookkeeping
  *
  * Source layout matches the batch engine: a directory of parquet files
  * (at 100 TB: a partitioned landing zone written by upstream
  * producers; the file source discovers new files per trigger).
  */
object Streaming {
  /** events schema as landed by upstream producers. `readStream`
    * requires a declared schema, but the `ts` physical type has ALREADY
    * flipped once across testdata generations (TIMESTAMP(NANOS) scanned
    * as long vs TIMESTAMP(MICROS) as NTZ — see Tables.normalizeEventTs),
    * so a hard-coded type would break streaming reads silently on the
    * next regeneration while batch kept working. Instead the schema is
    * DERIVED from a one-file batch scan of the same directory — a
    * driver-side footer read, no data pass — so stream and batch always
    * agree on the physical type and `normalizeEventTs` handles either.
    */
  def eventsSchemaOf(spark: SparkSession, inputDir: String): StructType =
    // consumer-before-producer startup: with no file landed yet there is
    // nothing to scan, so fall back to the static current-generation
    // schema (NTZ micros) — the stream starts and waits; once files
    // exist, restarts always re-derive from the actual physical type
    try spark.read.parquet(inputDir).schema
    catch {
      case _: org.apache.spark.sql.AnalysisException => StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))
    }

  /** readStream over an events directory; ts normalized to `ts_us`
    * (integer µs) + `ts_t` (timestamp) via the same type-driven rule
    * the batch loader uses — stateless projections, so the streaming
    * plan is identical to batch upstream of any stateful operator.
    */
  def eventStream(spark: SparkSession, inputDir: String): DataFrame =
    graft.sources.Tables.normalizeEventTs(
      spark.readStream
        .schema(eventsSchemaOf(spark, inputDir))
        .parquet(inputDir))

  /** Windowed aggregate with watermark: per-day, per-type counts +
    * exact cent sums. Watermark bounds state exactly like the
    * reference's `lookback` bounds reprocessing.
    */
  def dailyCounts(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(window(col("ts_t"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value_cents"))

  /** Run a streaming aggregate to completion over the currently
    * available files and merge each micro-batch into the store
    * (upsert on key columns → idempotent across retries).
    */
  def runAvailableNow(
      agg: DataFrame,
      store: RelationStore,
      table: String,
      keys: Seq[String],
      checkpointDir: String): Unit =
    drive(agg, checkpointDir, OutputMode.Complete()) { (batch, _) =>
      upsert(store, table, keys, batch)
    }

  /** Key upsert of a micro-batch into `table`: landed rows whose key
    * the batch carries are replaced (anti-join + union), so a retried
    * batch rewrites the same content.
    */
  private def upsert(store: RelationStore, table: String, keys: Seq[String],
      batch: DataFrame): Unit =
    if (store.exists(table)) {
      val kept = store.read(table)
        .join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
      store.write(kept.unionByName(batch), table)
    } else store.write(batch, table)

  /** The one stream loop every driver runs: checkpoint at
    * `checkpointDir`, `Trigger.AvailableNow` ("process everything that
    * has landed, then stop"), `f(batch, batchId)` per micro-batch, and
    * block until the available data is drained.
    */
  private def drive(df: DataFrame, checkpointDir: String,
      mode: OutputMode = OutputMode.Append())(f: (DataFrame, Long) => Unit): Unit =
    df.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
      .awaitTermination()

  /** The single-table append driver: drains `stream` and lands
    * `transform(batch)` for each micro-batch as an immutable
    * per-batchId delta of `table` ([[RelationStore.appendDelta]]).
    *
    * Stream ≡ batch by construction: `transform` is the batch operator
    * itself (`TextOps.mojibakeOf`, `CurateOps.dsirScore(_, wtab, norm)`,
    * `DedupOps.probeAgainstIndex(_, index)`, …), applied verbatim to
    * each micro-batch. For a row-local operator, or one that scores
    * each document against frozen model tables, the union over any
    * arrival split therefore equals one batch run over all of it. A
    * frozen table a transform closes over must be persisted/static (a
    * parquet read of a written artifact): the plan re-evaluates per
    * micro-batch, so a live plan over the corpus would re-derive it
    * every tick. A stateful stream (`streamingExactDedup`,
    * `streamingSourceQuota`) lands its verdicts with the default
    * identity transform.
    *
    * Cost and replay: each tick writes O(batch) bytes, never a rewrite
    * of the landed table, and every `deltaFoldEvery` landings the live
    * deltas fold into a base version by a manifest-only commit (no data
    * bytes, no hard links). foreachBatch is at-least-once: a replayed
    * batchId finds its delta already committed and lands nothing — the
    * transform is lazy, so the skipped batch is never even computed,
    * and landed-state consumers (quota totals) stay exact.
    */
  def runAppend(
      stream: DataFrame,
      store: RelationStore,
      table: String,
      checkpointDir: String)(transform: DataFrame => DataFrame = identity): Unit =
    drive(stream, checkpointDir) { (batch, batchId) =>
      store.appendDelta(transform(batch), table, batchId)
    }

  // ---- custom stateful operator: streaming sessionization ----

  final case class SessionState(lastUs: Long, sessions: Long, events: Long)
  final case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)

  /** flatMapGroupsWithState sessionization: a new session begins after
    * `gapUs` of silence per user. The streaming twin of the batch
    * `qSessionize` operator (graft.operators.Events) — state is one
    * (lastTs, counts) record per user, so memory is O(users), not
    * O(events): this is what survives an unbounded stream.
    */
  def sessionize(events: DataFrame, gapUs: Long = 1800000000L): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts_us").as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          for (us <- sorted) {
            val newSession = st.lastUs == Long.MinValue || us - st.lastUs > gapUs
            st = SessionState(us, st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          Iterator.single(SessionUpdate(userId, st.sessions, st.events))
      }
  }

  // ---- custom stateful operator: streaming exact dedup ----

  final case class DedupState(keeper: Long)
  final case class DedupVerdict(doc_id: Long, fp: String, keeper: Long, keep: Long)

  /** documents schema (the corpus landing zone). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("text", StringType)))

  def documentStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(inputDir)

  /** Enriched arrival schema: documents whose upstream embedding
    * service already attached the vector — the input shape of the
    * full-stack ingest tick (the ANN-encode member needs it).
    */
  val enrichedDocumentsSchema: StructType = StructType(
    documentsSchema.fields :+
      StructField("embedding", ArrayType(FloatType)))

  def enrichedDocumentStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(enrichedDocumentsSchema).parquet(inputDir)

  /** embeddings schema (the vector landing zone — arriving vectors
    * for ANN ingest and serving, and knn label-transfer queries). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def vectorStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(embeddingsSchema).parquet(inputDir)

  final case class ThrottleState(lastUs: Long)
  final case class ThrottleVerdict(event_id: Long, user_id: Long,
      event_type: String, ts_us: Long, gap_us: Long)

  /** Streaming event debounce — the stateful twin of the batch
    * [[graft.operators.Events.qEventDebounce]]: suppress an event when
    * the SAME (user, type) fired within `minGapUs` of the previous
    * occurrence. State is ONE last-seen timestamp per entity, so
    * memory is O(active entities), not O(events) — the throttle an
    * ingest tier runs before analytics on an unbounded stream. The
    * state advances on every SEEN event (kept or dropped), matching
    * the batch operator's lag-over-raw-events rule exactly, so
    * stream ≡ batch holds whenever arrivals respect per-entity time
    * order across micro-batches (the landing-zone contract;
    * StreamingSpec proves parity over ordered arrivals).
    */
  def streamingDebounce(events: DataFrame,
      minGapUs: Long = graft.operators.Events.DebounceMinGapUs): Dataset[ThrottleVerdict] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[ThrottleState, ThrottleVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((user, typ), rows, state: GroupState[ThrottleState]) =>
          val sorted = rows.toSeq.sortBy(e => (e._4, e._3))
          var last = state.getOption.map(_.lastUs).getOrElse(Long.MinValue)
          val out = sorted.flatMap { e =>
            val first = last == Long.MinValue
            val gap = if (first) -1L else e._4 - last
            val keep = first || gap > minGapUs
            last = e._4
            if (keep) Some(ThrottleVerdict(e._3, user, typ, e._4, gap)) else None
          }
          state.update(ThrottleState(last))
          out.iterator
      }
  }

  final case class QuotaState(tokBefore: Long)
  final case class QuotaVerdict(doc_id: Long, source: String, n_tokens: Long,
      tok_before: Long, admitted: Long)

  /** Streaming per-source ingestion quota — the stateful twin of
    * [[graft.operators.CurateOps.curateSourceQuota]]: state is ONE
    * running token total per source (O(sources) on an unbounded
    * stream); each micro-batch's rows for a source are processed in
    * doc_id order, so over doc_id-ordered arrivals the admissions
    * equal the batch operator exactly.
    */
  def streamingSourceQuota(docs: DataFrame, quota: Long = 1000L): Dataset[QuotaVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("source"),
        size(split(graft.operators.TextOps.normalized(col("text")), " "))
          .cast("long").as("n_tokens"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[QuotaState, QuotaVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (source, rows, state: GroupState[QuotaState]) =>
          var before = state.getOption.map(_.tokBefore).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { r =>
            val v = QuotaVerdict(r._1, source, r._3, before,
              if (before < quota) 1L else 0L)
            before += r._3
            v
          }
          state.update(QuotaState(before))
          out.iterator
      }
  }

  /** Streaming exact dedup for corpus ingest: state is ONE keeper id per
    * content fingerprint (md5 of normalized text), so memory is
    * O(distinct documents) — the streaming twin of the batch
    * [[graft.operators.DedupOps.dedupExact]]. Semantics are
    * first-arrival-wins (a stream cannot retract an already-emitted
    * keeper): the first batch that introduces a fingerprint elects the
    * smallest doc_id in that batch; every later duplicate arrives with
    * keep=0. When all data lands in one AvailableNow batch this equals
    * the batch operator's min-id-keeper exactly.
    */
  def streamingExactDedup(docs: DataFrame): Dataset[DedupVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"),
        md5(graft.operators.TextOps.normalized(col("text"))).as("fp"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[DedupState, DedupVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (fp, rows, state: GroupState[DedupState]) =>
          val ids = rows.map(_._1).toSeq.sorted
          val keeper = state.getOption.map(_.keeper).getOrElse(ids.min)
          state.update(DedupState(keeper))
          ids.iterator.map(id =>
            DedupVerdict(id, fp, keeper, if (id == keeper) 1L else 0L))
      }
  }

  /** The composed INGEST TICK — the production shape where one stream
    * pass runs the whole document-admission stack per micro-batch:
    * per-source quota admission against the landed running totals,
    * near-dup probe against the frozen dedup index, Gopher rule gate,
    * per-language CCNet bucketing under the frozen char-LM + threshold
    * artifacts, topic tagging, boilerplate strike filtering under the
    * frozen strike set, CDC shared-span probing against the frozen
    * chunk index, missed-duplicate edge mining against the frozen
    * rare-shingle postings index, and IVF-PQ encoding of the arriving
    * embeddings under the frozen centroids + codebook — TWELVE tables
    * from ONE readStream: ten verdict/audit tables plus the
    * quota-admitted CORPUS itself (the batch is cached once and feeds
    * every plan, so arriving data is scanned once, not twelve times).
    * Every member is the exact batch operator, so each table is
    * stream ≡ batch by construction and the composition adds no new
    * semantics — only the single-pass execution a 100 TB ingest loop
    * actually wants.
    *
    * Input: [[enrichedDocumentStream]] arrivals (documents + an
    * `embedding` column the upstream embedding service attached).
    * Quota state is ZERO extra bookkeeping: each tick derives the
    * per-source running totals from the already-landed quota table
    * (sources-bounded aggregate), so a restarted tick resumes exactly
    * where the landed data says it is.
    *
    * FROZEN-ARTIFACT CONTRACT: every reference-side DataFrame here
    * (`charLm`, `langThresholds`, `boiler`, `centroids`, `codebook`,
    * `cdcRef`, `edgeRef`, `spanGrams`) must be a PERSISTED/static
    * table — a parquet read of a written artifact, the pattern the
    * specs follow. The tick re-evaluates each plan per micro-batch, so
    * a live plan over the corpus would re-derive the reference every
    * tick (O(corpus) per tick instead of O(batch)) and could drift
    * mid-stream if the corpus moves. The contract is EXECUTABLE: each
    * reference plan must analyze to a bare relation scan
    * (projections/filters over a file/local relation) or the tick fails
    * fast naming the offender — see [[requireFrozen]].
    */
  def runIngestTick(
      newDocs: DataFrame,
      index: graft.operators.DedupOps.DedupIndex,
      charLm: DataFrame,
      langThresholds: DataFrame,
      boiler: DataFrame,
      centroids: DataFrame,
      codebook: DataFrame,
      cdcRef: DataFrame,
      edgeRef: DataFrame,
      spanGrams: DataFrame,
      store: RelationStore,
      prefix: String,
      checkpointDir: String,
      quota: Long = 1000L): Unit = {
    Seq("charLm" -> charLm, "langThresholds" -> langThresholds,
      "boiler" -> boiler, "centroids" -> centroids, "codebook" -> codebook,
      "cdcRef" -> cdcRef, "edgeRef" -> edgeRef, "spanGrams" -> spanGrams)
      .foreach { case (n, df) => requireFrozen(n, df) }
    import graft.operators.{CurateOps, DedupOps, SimilarityOps, TextOps}
    drive(newDocs, checkpointDir) { (batch0, batchId) =>
      val batch = batch0.cache()
      try {
        // admission FIRST: totals derive from the landed table, so
        // within a tick the quota verdict must land before anything
        // else could observe it (ordering is per-table, not global).
        // Replay safety: prevTotals must be computed from the landed
        // state BEFORE this batchId — if the quota verdict for this
        // epoch already landed (crash-replay), recomputing totals
        // would double-count the batch, so appendDelta's batchId skip
        // keeps the already-landed (correct) verdict and the garbage
        // recompute is never evaluated (DataFrames are lazy).
        val quotaTbl = s"${prefix}_quota"
        // store.read pins its delta-path list at CONSTRUCTION, so
        // prevTotals sees exactly the pre-tick landed state no matter
        // when the plan evaluates within this tick
        val prevTotals =
          if (store.exists(quotaTbl))
            store.read(quotaTbl).groupBy(col("source"))
              .agg(sum(col("n_tokens")).as("tok_prev"))
          else batch.select(col("source")).where(lit(false))
            .withColumn("tok_prev", lit(0L))
        val verdict =
          if (store.batchLanded(quotaTbl, batchId))
            // crash-replay of a partially-landed epoch: this epoch's
            // verdicts are already durable — recomputing them against
            // totals that now INCLUDE the epoch would flip admissions,
            // so downstream members reuse the landed rows instead
            store.read(quotaTbl).join(batch.select(col("doc_id")), Seq("doc_id"))
          else CurateOps.sourceQuotaWith(batch, prevTotals, quota)
        store.appendDelta(verdict, quotaTbl, batchId)
        // the admitted CORPUS itself — the eighth table that makes the
        // tick a complete ingest: quota-admitted documents land with
        // their full enriched columns, everything else is audit trail
        store.appendDelta(
          batch.join(verdict.filter(col("admitted") === 1L).select(col("doc_id")),
            Seq("doc_id"), "left_semi"),
          s"${prefix}_corpus", batchId)
        store.appendDelta(DedupOps.probeAgainstIndex(batch, index),
          s"${prefix}_dedup", batchId)
        store.appendDelta(CurateOps.gopherGateOfDocs(batch), s"${prefix}_gopher", batchId)
        store.appendDelta(TextOps.ccnetLangBucketsOf(batch, charLm, langThresholds),
          s"${prefix}_ccnet", batchId)
        store.appendDelta(TextOps.topicTagWith(batch.sparkSession, batch),
          s"${prefix}_topics", batchId)
        store.appendDelta(TextOps.boilerplateFilterWith(batch, boiler),
          s"${prefix}_boiler", batchId)
        store.appendDelta(TextOps.mojibakeOf(batch), s"${prefix}_mojibake", batchId)
        store.appendDelta(DedupOps.cdcProbeWith(batch, cdcRef), s"${prefix}_cdc", batchId)
        store.appendDelta(DedupOps.edgeProbeWith(batch, edgeRef), s"${prefix}_edges", batchId)
        store.appendDelta(
          SimilarityOps.ivfPqEncodeWith(
            batch.select(col("doc_id").as("vec_id"), col("embedding")),
            centroids, codebook),
          s"${prefix}_codes", batchId)
        // clean-on-ingest span removal: arriving docs drop every span
        // the frozen corpus already owns (keeper = reference side by
        // definition) — the twelfth table, and the one that rewrites
        // content rather than scoring it
        store.appendDelta(
          DedupOps.spanRemoveWith(batch.select(col("doc_id"), col("text")), spanGrams),
          s"${prefix}_cleaned", batchId)
      } finally batch.unpersist()
    }
  }

  /** The executable half of the ingest tick's frozen-artifact contract:
    * a reference DataFrame must analyze to a BARE relation scan —
    * projections/filters/aliases over a file or local relation — never
    * a plan with joins/aggregates that would re-derive the artifact per
    * micro-batch (O(corpus) per tick) and drift mid-stream. Every
    * [[runIngestTick]] runs it once per reference (one analysis pass
    * each, before the stream starts).
    */
  private[graft] def requireFrozen(name: String, df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // a UNION of bare scans is frozen too: a store.read() of a
    // delta-landed artifact is (manifest scan ∪ delta dirs) under a
    // column-order Project. A cache()d computed plan is DELIBERATELY
    // rejected: eviction re-derives it mid-stream — exactly the drift
    // the contract exists to prevent; persist the artifact instead.
    def bare(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation | _: LocalRelation => true
      case pr: Project => bare(pr.child)
      case f: Filter => bare(f.child)
      case a: SubqueryAlias => bare(a.child)
      case u: Union => u.children.forall(bare)
      case _ => false
    }
    val plan = df.queryExecution.analyzed
    if (!bare(plan))
      throw new IllegalArgumentException(
        s"ingest tick reference '$name' violates the frozen-artifact contract: " +
          s"its plan is not a bare relation scan and would re-derive per tick " +
          s"(persist the artifact and read it back).\n${plan.treeString}")
  }

  /** Streaming near-duplicate PAIR mining at wide hamming radius — the
    * incremental face of the multi-index chunk join
    * ([[graft.operators.DedupOps.hammingPairs]]) rather than a probe
    * against a frozen index: each micro-batch of arriving payloads
    * computes its phash signatures, emits (a) pairs WITHIN the batch
    * via the exact batch operator and (b) pairs against every
    * PREVIOUSLY LANDED signature via the across-join
    * ([[graft.operators.DedupOps.hammingPairsAcross]] — O(batch ·
    * bucket) per tick, the landed set never re-joins itself), then
    * lands its own signatures for later ticks. Stream ≡ batch exactly:
    * within + across over ANY arrival split partitions the full pair
    * set — an unordered pair lands once, in the tick its later member
    * arrives. Landing order is pairs THEN signatures, so a replayed
    * epoch (crash between the two appends) recomputes pairs against
    * the same pre-batch landed set and the batchId dedup skips
    * whichever append already committed. The index arm (pair vs triple
    * keys) follows the landed-corpus size, exactly as the batch
    * operator's `nRows` hint would at that scale.
    */
  def runMmPairs(
      newDocs: DataFrame,
      store: RelationStore,
      sigTable: String,
      pairTable: String,
      checkpointDir: String,
      maxHamming: Int = 8): Unit = {
    import graft.operators.{DedupOps, Multimodal}
    drive(newDocs, checkpointDir) { (batch, batchId) =>
      val sigsB = Multimodal.mmPhashOf(batch)
        .select(col("doc_id"), col("phash")).cache()
      try {
        val nB = sigsB.count()
        val (seen, nSeen) =
          if (store.exists(sigTable)) {
            val t = store.read(sigTable); (Some(t), t.count())
          } else (None, 0L)
        val nRows = Some(nSeen + nB)
        val within = DedupOps.hammingPairs(sigsB, "phash", maxHamming, nRows)
        val across = seen.map { sg =>
          DedupOps.hammingPairsAcross(sigsB, sg, "phash", maxHamming, nRows)
            .select(least(col("doc_new"), col("doc_ref")).as("doc_a"),
              greatest(col("doc_new"), col("doc_ref")).as("doc_b"),
              col("hamming"))
        }
        val pairs = across.fold(within)(within.unionByName(_))
        store.appendDelta(pairs, pairTable, batchId)
        store.appendDelta(sigsB, sigTable, batchId)
      } finally sigsB.unpersist()
    }
  }

  /** Streaming UniMax mixing monitor: each micro-batch sum-merges its
    * per-language token counts into a persisted BOUNDED language grid
    * (O(languages) state — never per-document), then re-derives the
    * water-fill allocation from the grid via the exact batch rule
    * ([[graft.operators.CurateOps.unimaxOf]]). Because the grid after
    * all arrivals equals the batch aggregate, stream ≡ batch by
    * construction — a language crossing its capacity mid-stream
    * re-allocates every other language's share on the next tick. The
    * grid merge is NOT replay-idempotent, so the commit carries the
    * foreachBatch batchId ([[RelationStore.write]] batchTag) and a
    * replayed epoch skips the merge; the allocation table is a pure
    * function of the grid and rewrites unconditionally.
    */
  def runUnimaxMix(
      newDocs: DataFrame,
      store: RelationStore,
      gridTable: String,
      allocTable: String,
      checkpointDir: String,
      budget: Long = 30000L,
      epochCap: Long = 2L): Unit = {
    drive(newDocs, checkpointDir) { (batch, batchId) =>
      if (!store.lastBatchTag(gridTable).exists(_ >= batchId)) {
        val delta = batch.select(col("lang"),
          size(split(graft.operators.TextOps.normalized(col("text")), " "))
            .cast("long").as("n_tokens"))
          .groupBy(col("lang")).agg(sum(col("n_tokens")).as("tok_lang"))
        val merged =
          if (store.exists(gridTable))
            store.read(gridTable).unionByName(delta)
              .groupBy(col("lang")).agg(sum(col("tok_lang")).as("tok_lang"))
          else delta
        store.write(merged, gridTable, batchTag = Some(batchId))
      }
      store.write(
        graft.operators.CurateOps.unimaxOf(store.read(gridTable), budget, epochCap),
        allocTable)
    }
  }

  /** Streaming volume-anomaly monitor: each micro-batch sum-merges its
    * (event_type, day) counts into the persisted BOUNDED day grid
    * (metadata-scale state — types × days, never per-event), then
    * re-derives the spike table from the grid via the exact batch rule
    * ([[graft.operators.Events.anomalyOf]]). Because the grid after
    * all arrivals equals the batch grid, stream ≡ batch by
    * construction — including retroactive un-spiking when a late
    * partial day fills in.
    */
  def runEventAnomaly(
      newEvents: DataFrame,
      store: RelationStore,
      gridTable: String,
      anomalyTable: String,
      checkpointDir: String): Unit = {
    drive(newEvents, checkpointDir) { (batch, batchId) =>
      // sum-merging is NOT replay-idempotent — a replayed epoch would
      // double-count its events into the grid. The grid commit carries
      // the batchId (atomic with the data), so a replay skips the
      // merge; the anomaly table is a pure function of the grid and is
      // rewritten unconditionally (idempotent overwrite) so a crash
      // between the two writes still converges on replay.
      if (!store.lastBatchTag(gridTable).exists(_ >= batchId)) {
        val delta = graft.operators.Events.dailyCounts(batch)
        val merged =
          if (store.exists(gridTable))
            store.read(gridTable).unionByName(delta)
              .groupBy(col("day"), col("event_type")).agg(sum(col("n")).as("n"))
          else delta
        store.write(merged, gridTable, batchTag = Some(batchId))
      }
      store.write(graft.operators.Events.anomalyOf(store.read(gridTable)), anomalyTable)
    }
  }

  /** Watermarked stream-stream interval join: every purchase matched to
    * the same user's clicks in the preceding hour (last-touch
    * attribution). BOTH sides carry watermarks and the join condition
    * bounds event time in BOTH directions, so Spark can evict join
    * state as watermarks advance — without the interval + watermark
    * pair a stream-stream join buffers its inputs forever, which is the
    * classic unbounded-state failure at production scale.
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_t").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_t").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
  }

  /** Streaming dedup on event_id bounded by the watermark:
    * `dropDuplicatesWithinWatermark` keeps per-key state only until the
    * watermark passes the key's event time — the streaming analogue of
    * the batch exact-dedup operator with O(watermark-window) state
    * instead of O(stream history). Duplicates arriving later than the
    * delay are the deliberate trade (at 100 TB/day, unbounded exact
    * state is not an option; route late data to the batch dedup).
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_t", delay)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** Stream-static enrichment: the event stream joined to a bounded
    * static dimension (user tiers) via broadcast — no stream state at
    * all, the static side re-reads per micro-batch. This is the
    * workhorse production shape (enrich a firehose against reference
    * data); at scale the only constraint is that the dim broadcasts,
    * which is the same bound the batch engine's dimension joins obey.
    */
  def enrichWithDim(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(userDim), Seq("user_id"))
      .groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))

  /** Drive sessionization over available data, landing results in the
    * store (complete per-user rows each trigger → merge on user_id).
    */
  def runSessionize(
      events: DataFrame,
      store: RelationStore,
      table: String,
      checkpointDir: String): Unit =
    drive(sessionize(events).toDF(), checkpointDir) { (batch, _) =>
      upsert(store, table, Seq("user_id"), batch)
    }
}
