package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.RelationStore
import graft.operators.{CurateOps, DedupOps, Multimodal, SimilarityOps, TextOps}
import graft.streaming.Streaming

/** Streaming vs batch equivalence: the streaming daily aggregate and
  * sessionization must land the same numbers the batch operators
  * produce over the same files (plus incremental arrival semantics).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _
  var work: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local(4)
    work = Files.createTempDirectory("graft_stream").toString
    // stage the events file as a streaming input dir
    Files.createDirectories(Paths.get(s"$work/in"))
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.write.mode("overwrite").parquet(s"$work/in")
  }

  /** Persist a reference artifact and re-read it: the ingest tick's
    * frozen-artifact contract takes parquet reads, never live plans
    * over the corpus ([[Streaming.requireFrozen]]).
    */
  private def frozen(df: org.apache.spark.sql.DataFrame, dir: String) = {
    df.write.mode("overwrite").parquet(s"$work/$dir")
    spark.read.parquet(s"$work/$dir")
  }

  test("available-now windowed aggregate matches the batch result") {
    val store = new RelationStore(spark, s"$work/wh")
    val agg = Streaming.dailyCounts(Streaming.eventStream(spark, s"$work/in"))
    Streaming.runAvailableNow(agg, store, "daily", Seq("day", "event_type"), s"$work/cp1")

    val streamed = store.read("daily")
    val batch = graft.sources.Tables.normalizeEventTs(spark.read.parquet(s"$work/in"))
      .groupBy(date_format(col("ts_t"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stateful sessionization matches the batch operator") {
    val store = new RelationStore(spark, s"$work/wh")
    Streaming.runSessionize(Streaming.eventStream(spark, s"$work/in"), store,
      "sessions", s"$work/cp2")
    val streamed = store.read("sessions")
      .select(col("user_id"), col("n_sessions"), col("n_events"))
    val batch = graft.operators.Events.qSessionize(spark, "/root/testdata/sf0.001")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("incremental arrival: second file only adds its own windows") {
    val store = new RelationStore(spark, s"$work/wh2")
    val in2 = s"$work/in2"
    val ev = spark.read.parquet(s"$work/in")
    ev.filter(col("event_id") < 500).write.mode("overwrite").parquet(in2)

    val agg = Streaming.dailyCounts(Streaming.eventStream(spark, in2))
    Streaming.runAvailableNow(agg, store, "daily2", Seq("day", "event_type"), s"$work/cp3")
    val afterFirst = store.read("daily2").agg(sum("n")).first().getLong(0)
    assert(afterFirst == 500)

    // land the remaining events as a new file; rerun available-now
    ev.filter(col("event_id") >= 500).coalesce(1).write.mode("append").parquet(in2)
    val agg2 = Streaming.dailyCounts(Streaming.eventStream(spark, in2))
    Streaming.runAvailableNow(agg2, store, "daily2", Seq("day", "event_type"), s"$work/cp3")
    val afterSecond = store.read("daily2").agg(sum("n")).first().getLong(0)
    assert(afterSecond == 1000)
  }

  test("streaming exact dedup matches batch keepers; later duplicates are dropped") {
    val store = new RelationStore(spark, s"$work/wh3")
    val docsIn = s"$work/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").parquet(docsIn)

    Streaming.runAppend(
      Streaming.streamingExactDedup(Streaming.documentStream(spark, docsIn)).toDF(),
      store, "dedup", s"$work/cp4")()
    val streamed = store.read("dedup").select("doc_id", "fp", "keeper", "keep")
    val batch = graft.operators.DedupOps.dedupExact(spark, "/root/testdata/sf0.001")
      .select("doc_id", "fp", "keeper", "keep")
    // single AvailableNow batch → identical to the batch operator
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    // re-land an existing document under a NEW id: state remembers the
    // fingerprint, so the late duplicate arrives with keep=0
    val dupRow = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(999999L))
    dupRow.coalesce(1).write.mode("append").parquet(docsIn)
    Streaming.runAppend(
      Streaming.streamingExactDedup(Streaming.documentStream(spark, docsIn)).toDF(),
      store, "dedup", s"$work/cp4")()
    val late = store.read("dedup").filter(col("doc_id") === 999999L)
    assert(late.count() == 1)
    val r = late.first()
    assert(r.getAs[Long]("keep") == 0L)
    assert(r.getAs[Long]("keeper") == batch.filter(col("doc_id") === 0)
      .first().getAs[Long]("keeper"))
  }

  test("streaming chunking equals the batch operator (stateless transform)") {
    val docsIn = s"$work/chunkdocs"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.mode("overwrite").parquet(docsIn)
    val out = s"$work/chunks"
    val q = graft.operators.TextOps
      .chunkOverlap(Streaming.documentStream(spark, docsIn))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$work/cp_chunk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", out)
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
    val batch = graft.operators.TextOps.txtChunkOverlap(spark, "/root/testdata/sf0.001")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming incremental dedup over two arrivals equals the batch probe") {
    val store = new RelationStore(spark, s"$work/wh_inc")
    val newIn = s"$work/newdocs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    // the static index: the already-ingested corpus slice, persisted as
    // BUCKETED tables and re-read through the catalog — the production
    // shape where each micro-batch probes storage, never a recompute
    graft.operators.DedupOps.persistDedupIndex(
      graft.operators.DedupOps.buildDedupIndex(docs.filter(!isNew)),
      store, "idx", buckets = 8)
    val index = graft.operators.DedupOps.loadDedupIndex(store, "idx")
    // land the new docs in TWO files: stream sees two arrivals; each
    // micro-batch probes the same static index
    docs.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "inc_dedup", s"$work/cp_inc")(DedupOps.probeAgainstIndex(_, index))
    val afterFirst = store.read("inc_dedup").count()
    docs.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "inc_dedup", s"$work/cp_inc")(DedupOps.probeAgainstIndex(_, index))
    val streamed = store.read("inc_dedup")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // per-doc verdicts are batch-independent (each probe only joins the
    // batch against the static index), so the union over arrivals must
    // equal the one-shot batch operator exactly
    val batch = graft.operators.DedupOps.dedupIncremental(spark, "/root/testdata/sf0.001")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming RAKE tagging over two arrivals equals the batch operator") {
    val store = new RelationStore(spark, s"$work/wh_rake")
    val newIn = s"$work/rakedocs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "rake_tags", s"$work/cp_rake")(TextOps.rakeOf)
    val afterFirst = store.read("rake_tags").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "rake_tags", s"$work/cp_rake")(TextOps.rakeOf)
    val streamed = store.read("rake_tags")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // RAKE is doc-local, so the union over arrivals == the batch op
    val batch = graft.operators.TextOps.rakeOf(docs)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming CDC probe over two arrivals equals the batch probe") {
    val store = new RelationStore(spark, s"$work/wh_cdc")
    val newIn = s"$work/cdcdocs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    // frozen chunk index from the already-ingested slice, persisted and
    // re-read — each micro-batch probes storage, never a recompute
    store.write(graft.operators.DedupOps.cdcChunkIndexOf(docs.filter(!isNew)), "cdc_idx")
    val ref = store.read("cdc_idx")
    docs.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "cdc_probe", s"$work/cp_cdc")(DedupOps.cdcProbeWith(_, ref))
    val afterFirst = store.read("cdc_probe").count()
    docs.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "cdc_probe", s"$work/cp_cdc")(DedupOps.cdcProbeWith(_, ref))
    val streamed = store.read("cdc_probe")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // per-doc verdicts join only the batch against the frozen index, so
    // the union over arrivals equals the one-shot batch operator
    val batch = graft.operators.DedupOps.dedupCdcIncremental(spark, "/root/testdata/sf0.001")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming edge probe over two arrivals equals the batch edge mining") {
    val store = new RelationStore(spark, s"$work/wh_edges")
    val newIn = s"$work/edgedocs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    // frozen rare-shingle postings index from the already-ingested
    // slice, persisted and re-read — probes hit storage, never recompute
    store.write(
      graft.operators.DedupOps.shinglePostingsIndexOf(docs.filter(!isNew)), "edge_idx")
    val ref = store.read("edge_idx")
    docs.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "edge_cands", s"$work/cp_edges")(DedupOps.edgeProbeWith(_, ref))
    val afterFirst = store.read("edge_cands").count()
    docs.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "edge_cands", s"$work/cp_edges")(DedupOps.edgeProbeWith(_, ref))
    val streamed = store.read("edge_cands")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // edges pair the batch against the frozen index only (never batch
    // vs batch), so the union over arrivals equals the one-shot batch
    val batch = graft.operators.DedupOps
      .shingleShareEdgesIncremental(spark, "/root/testdata/sf0.001")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming span probe over two arrivals equals the batch span mining") {
    val store = new RelationStore(spark, s"$work/wh_spans")
    val newIn = s"$work/spandocs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    store.write(
      graft.operators.DedupOps.spanPostingsIndexOf(docs.filter(!isNew)), "span_idx")
    val ref = store.read("span_idx")
    docs.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "span_report", s"$work/cp_spans")(DedupOps.spanProbeWith(_, ref))
    val afterFirst = store.read("span_report").count()
    docs.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "span_report", s"$work/cp_spans")(DedupOps.spanProbeWith(_, ref))
    val streamed = store.read("span_report")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // span islands are (new doc, ref doc)-local and documents arrive
    // whole, so the union over arrivals equals the one-shot batch
    val batch = graft.operators.DedupOps
      .dedupSpanIncremental(spark, "/root/testdata/sf0.001")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming drift assignment over two arrivals equals batch; aggregates derive") {
    import graft.operators.SimilarityOps
    val store = new RelationStore(spark, s"$work/wh_drift")
    val newIn = s"$work/driftvecs"
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val isNew = pmod(col("vec_id"), lit(10)) >= 8
    // freeze + persist the drift index (centroids trained on the
    // ingested slice), exactly what a production monitor reloads
    store.write(SimilarityOps.driftCentroids(spark, sf), "drift_centroids")
    val centroids = store.read("drift_centroids")
    emb.filter(isNew && col("vec_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "drift_assign", s"$work/cp_drift")(SimilarityOps.driftAssignWith(_, centroids))
    val afterFirst = store.read("drift_assign").count()
    emb.filter(isNew && col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "drift_assign", s"$work/cp_drift")(SimilarityOps.driftAssignWith(_, centroids))
    val streamed = store.read("drift_assign")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = SimilarityOps.driftAssignWith(emb.filter(isNew), centroids)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // the monitor's new-side aggregates derive from the LANDED table:
    // per cell, count and floored-ppm average equal simIndexDrift's
    val landedAgg = streamed.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_new"), expr("sum(cos_ppm) div count(1)").as("avg_new"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val monitor = SimilarityOps.simIndexDrift(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    monitor.filter(_._2._1 > 0).foreach { case (cell, (n, avg)) =>
      assert(landedAgg.get(cell).contains((n, avg)),
        s"cell $cell: landed ${landedAgg.get(cell)} vs monitor ($n, $avg)")
    }
  }

  test("streaming DSIR scoring over two arrivals equals the batch scorer") {
    val store = new RelationStore(spark, s"$work/wh_dsir")
    val newIn = s"$work/dsirdocs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    // model trained ONCE on the already-ingested slice (the artifact)
    val (wtab, norm) = graft.operators.CurateOps.dsirModel(docs.filter(!isNew))
    docs.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "dsir_scores", s"$work/cp_dsir")(CurateOps.dsirScore(_, wtab, norm))
    val afterFirst = store.read("dsir_scores").count()
    docs.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "dsir_scores", s"$work/cp_dsir")(CurateOps.dsirScore(_, wtab, norm))
    val streamed = store.read("dsir_scores")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // scoring is per-document under a FIXED model, so the union over
    // arrivals equals the one-shot batch scorer exactly
    val batch = graft.operators.CurateOps.dsirScore(docs.filter(isNew), wtab, norm)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming trigram-LM scoring under a frozen model equals the batch scorer") {
    val store = new RelationStore(spark, s"$work/wh_tri")
    val newIn = s"$work/tridocs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    // model trained ONCE on the already-ingested slice; arriving text
    // containing words the model never saw hits the OOV floor
    val (tri, bi, uni, total) = graft.operators.TextOps.trigramModelOf(docs.filter(!isNew))
    docs.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "tri_scores", s"$work/cp_tri")(TextOps.trigramScoreWith(_, tri, bi, uni, total))
    val afterFirst = store.read("tri_scores").count()
    docs.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "tri_scores", s"$work/cp_tri")(TextOps.trigramScoreWith(_, tri, bi, uni, total))
    val streamed = store.read("tri_scores")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // per-doc scoring under a FIXED model — union over arrivals equals
    // the one-shot batch scorer exactly
    val batch = graft.operators.TextOps.trigramScoreWith(docs.filter(isNew), tri, bi, uni, total)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("event stream starts before any file lands (schema falls back)") {
    // consumer-before-producer: deriving the schema from an empty input
    // dir must not crash — the static fallback lets readStream start
    val emptyIn = s"$work/no_files_yet"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(emptyIn))
    val schema = Streaming.eventsSchemaOf(spark, emptyIn)
    assert(schema.fieldNames.contains("ts") && schema.fieldNames.contains("event_id"))
    val stream = Streaming.eventStream(spark, emptyIn)
    assert(stream.isStreaming, "stream must construct against an empty dir")
  }

  test("streaming ccnet bucketing under a frozen model equals the batch pass") {
    val store = new RelationStore(spark, s"$work/wh_ccnet")
    val newIn = s"$work/ccnetdocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // model + thresholds trained ONCE on the full batch corpus — the
    // persisted artifact a production pipeline freezes
    val model = graft.operators.TextOps.charLmModel(spark, sf)
    val batchScored = graft.operators.TextOps.txtCharLmScore(spark, sf)
      .select(col("doc_id"), col("avg_millibits"))
    val (t1, t2) = graft.operators.TextOps.ccnetThresholds(batchScored)
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "ccnet_buckets", s"$work/cp_ccnet")(TextOps.ccnetBucketsOf(_, model, t1, t2))
    val afterFirst = store.read("ccnet_buckets").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "ccnet_buckets", s"$work/cp_ccnet")(TextOps.ccnetBucketsOf(_, model, t1, t2))
    val streamed = store.read("ccnet_buckets")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // scoring + bucketing are per-document under the frozen artifacts,
    // so the union over arrivals equals the one-shot batch operator
    val batch = graft.operators.TextOps.txtCcnetBuckets(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming per-source quota over ordered arrivals equals the batch admission") {
    val store = new RelationStore(spark, s"$work/wh_quota")
    val newIn = s"$work/quotadocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // doc_id-ordered arrivals (the ingest contract): two batches split
    // on the id axis
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(
      Streaming.streamingSourceQuota(Streaming.documentStream(spark, newIn), 300L).toDF(),
      store, "quota", s"$work/cp_quota")()
    val afterFirst = store.read("quota").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(
      Streaming.streamingSourceQuota(Streaming.documentStream(spark, newIn), 300L).toDF(),
      store, "quota", s"$work/cp_quota")()
    val streamed = store.read("quota")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // the per-source counter carries across micro-batches, so the
    // union over ordered arrivals equals the batch prefix sum exactly
    val batch = graft.operators.CurateOps.curateSourceQuota(spark, sf, quota = 300L)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // and the cap actually bit: both admitted and rejected rows exist
    assert(streamed.filter(col("admitted") === 1L).count() > 0)
    assert(streamed.filter(col("admitted") === 0L).count() > 0)
  }

  test("composed ingest tick: one stream pass lands all twelve tables (verdicts + admitted corpus), each equal to batch") {
    import graft.operators.{CurateOps, DedupOps, SimilarityOps, TextOps}
    val store = new RelationStore(spark, s"$work/wh_tick")
    val newIn = s"$work/tickdocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // enriched arrivals: the upstream embedding service attached vectors
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val enriched = docs.select(col("doc_id"), col("lang"), col("source"), col("text"))
      .join(emb, Seq("doc_id"))
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    // frozen artifacts trained on the already-ingested slice
    val index = DedupOps.buildDedupIndex(docs.filter(!isNew))
    val charLm = frozen(TextOps.charLmModel(spark, sf), "tick_charlm")
    val scored = TextOps.txtCharLmScore(spark, sf)
      .select(col("doc_id"), col("avg_millibits"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val thr = frozen(TextOps.ccnetLangThresholds(scored), "tick_thr")
    val boiler = frozen(TextOps.boilerplateHashes(docs.filter(!isNew)), "tick_boiler")
    val idxPath = s"$work/tick_ivfpq"
    SimilarityOps.persistIvfPqIndex(spark, sf, idxPath)
    val centroids = spark.read.parquet(s"$idxPath/centroids")
    val codebook = spark.read.parquet(s"$idxPath/codebook")
    val cdcRef = frozen(DedupOps.cdcChunkIndexOf(docs.filter(!isNew)), "tick_cdc_idx")
    val edgeRef = frozen(DedupOps.shinglePostingsIndexOf(docs.filter(!isNew)), "tick_edge_idx")
    val spanGrams = frozen(DedupOps.spanGramSetOf(docs.filter(!isNew)), "tick_span_idx")
    def tick(): Unit =
      Streaming.runIngestTick(Streaming.enrichedDocumentStream(spark, newIn),
        index, charLm, thr, boiler, centroids, codebook, cdcRef, edgeRef, spanGrams,
        store, "tick", s"$work/cp_tick", quota = 300L)
    enriched.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    tick()
    enriched.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    tick()
    val newDocs = docs.filter(isNew)
    def mustEqual(table: String, batch: org.apache.spark.sql.DataFrame): Unit = {
      val streamed = store.read(table)
      assert(streamed.count() == batch.count(), s"$table count")
      assert(streamed.exceptAll(batch).count() == 0, s"$table extra rows")
      assert(batch.exceptAll(streamed).count() == 0, s"$table missing rows")
    }
    mustEqual("tick_dedup", DedupOps.probeAgainstIndex(newDocs, index))
    mustEqual("tick_gopher", CurateOps.gopherGateOf(
      newDocs.select(col("doc_id"), split(TextOps.normalized(col("text")), " ").as("w"))))
    mustEqual("tick_ccnet", TextOps.ccnetLangBucketWith(
      TextOps.charLmScoreWith(newDocs, charLm)
        .select(col("doc_id"), col("avg_millibits"))
        .join(newDocs.select(col("doc_id"), col("lang")), Seq("doc_id")), thr))
    mustEqual("tick_topics", TextOps.topicTagWith(spark, newDocs))
    // the three full-stack members added in round 9:
    mustEqual("tick_boiler", TextOps.boilerplateFilterWith(newDocs, boiler))
    // quota admission over ordered arrivals == the batch prefix sum on
    // the SAME arrival set (tok_prev carries across the two ticks)
    val emptyPrev = newDocs.select(col("source")).where(lit(false))
      .withColumn("tok_prev", lit(0L))
    mustEqual("tick_quota", CurateOps.sourceQuotaWith(newDocs, emptyPrev, quota = 300L))
    assert(store.read("tick_quota").filter(col("admitted") === 0L).count() > 0,
      "the quota must actually bite across ticks")
    // the landed corpus is exactly the admitted documents, full columns
    mustEqual("tick_corpus", enriched.filter(isNew).join(
      CurateOps.sourceQuotaWith(newDocs, emptyPrev, quota = 300L)
        .filter(col("admitted") === 1L).select(col("doc_id")),
      Seq("doc_id"), "left_semi"))
    mustEqual("tick_codes", SimilarityOps.ivfPqEncodeWith(
      enriched.filter(isNew).select(col("doc_id").as("vec_id"), col("embedding")),
      centroids, codebook))
    // r10: the encoding-artifact gate rides the same cached batch scan
    mustEqual("tick_mojibake", TextOps.mojibakeOf(
      newDocs.select(col("doc_id"), col("text"))))
    // r10: CDC shared-span probe against the frozen chunk index
    mustEqual("tick_cdc", DedupOps.cdcProbeWith(newDocs, cdcRef))
    // r11: missed-duplicate edge mining against the frozen postings
    // index — the graph family's incremental maintenance path
    mustEqual("tick_edges", DedupOps.edgeProbeWith(newDocs, edgeRef))
    assert(store.read("tick_edges").count() > 0, "edge probe should fire on this corpus")
    // r12: clean-on-ingest span removal against the frozen gram set
    mustEqual("tick_cleaned", DedupOps.spanRemoveWith(
      newDocs.select(col("doc_id"), col("text")), spanGrams))
    assert(store.read("tick_cleaned").filter(col("n_removed") > 0L).count() > 0,
      "span removal should fire on this corpus")
  }

  test("frozen-artifact contract is executable: live recompute plans are rejected by name") {
    import graft.operators.DedupOps
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // an aggregate plan over the corpus = re-derivation per tick
    val live = DedupOps.spanGramSetOf(docs)
    val e = intercept[IllegalArgumentException](Streaming.requireFrozen("spanGrams", live))
    assert(e.getMessage.contains("spanGrams") &&
      e.getMessage.contains("frozen-artifact"), e.getMessage)
    // persisted artifacts pass — including pruned/filtered reads of them
    live.write.mode("overwrite").parquet(s"$work/frozen_ok")
    Streaming.requireFrozen("spanGrams",
      spark.read.parquet(s"$work/frozen_ok").filter(col("g") =!= "").select(col("g")))
    // and the tick enforces the contract, failing fast (before any
    // stream starts) naming the offending reference
    val idx = DedupOps.buildDedupIndex(docs.limit(5))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    docs.select(col("doc_id"), col("lang"), col("source"), col("text"))
      .join(emb, Seq("doc_id")).limit(3)
      .write.mode("overwrite").parquet(s"$work/fz_input")
    val err = intercept[IllegalArgumentException] {
      Streaming.runIngestTick(
        Streaming.enrichedDocumentStream(spark, s"$work/fz_input"),
        idx, live, live, live, live, live, live, live, live,
        new RelationStore(spark, s"$work/wh_frozen"), "fz", s"$work/cp_fz")
    }
    assert(err.getMessage.contains("charLm"), err.getMessage)
  }

  test("streaming multimodal dedup probes the bucketed phash index; stream equals batch") {
    import graft.operators.Multimodal
    val store = new RelationStore(spark, s"$work/wh_mmdedup")
    val newIn = s"$work/mmdocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(2)) === 1
    Multimodal.persistMmPhashIndexOf(docs.filter(!isNew), store, "mmidx")
    val idx = store.read("mmidx_chunks")
    docs.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "mm_verdicts", s"$work/cp_mmdedup")(Multimodal.mmProbeAgainstIndex(_, idx))
    val afterFirst = store.read("mm_verdicts").count()
    docs.filter(isNew && col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "mm_verdicts", s"$work/cp_mmdedup")(Multimodal.mmProbeAgainstIndex(_, idx))
    val streamed = store.read("mm_verdicts")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = Multimodal.mmProbeAgainstIndex(docs.filter(isNew), idx)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming mm PAIR mining (multi-index chunk join) equals batch hammingPairs — pair AND triple arms") {
    import graft.operators.{DedupOps, Multimodal}
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val batchSigs = Multimodal.mmPhashOf(docs).select(col("doc_id"), col("phash"))
    for ((arm, conf) <- Seq(("pair", "1000000000"), ("triple", "1"))) {
      // the triple arm is forced via the escalation knee so BOTH index
      // shapes are pinned stream ≡ batch (the r14 index rewrite changed
      // the shared plans under the streaming drivers; this pins the
      // NEW spellings specifically, including the g=3 escalation)
      spark.conf.set("spark.graft.hamming.tripleMinRows", conf)
      try {
        val store = new RelationStore(spark, s"$work/wh_mmpairs_$arm")
        val newIn = s"$work/mmpairs_in_$arm"
        // two arrivals splitting the corpus: cross-tick pairs must come
        // from the ACROSS join, same-tick pairs from the batch operator
        docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
        Streaming.runMmPairs(Streaming.documentStream(spark, newIn),
          store, "mm_sigs", "mm_pairs", s"$work/cp_mmpairs_$arm")
        val afterFirst = store.read("mm_pairs").count()
        docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
        Streaming.runMmPairs(Streaming.documentStream(spark, newIn),
          store, "mm_sigs", "mm_pairs", s"$work/cp_mmpairs_$arm")
        val streamed = store.read("mm_pairs")
          .select(col("doc_a"), col("doc_b"), col("hamming"))
        val batch = DedupOps.hammingPairs(batchSigs, "phash", 8,
          nRows = Some(docs.count()))
        assert(streamed.count() > afterFirst, s"$arm: second tick landed pairs")
        assert(streamed.count() == batch.count(), s"$arm: pair counts")
        assert(streamed.exceptAll(batch).count() == 0, s"$arm: stream ⊆ batch")
        assert(batch.exceptAll(streamed).count() == 0, s"$arm: batch ⊆ stream")
        // landed signatures cover the corpus exactly once
        assert(store.read("mm_sigs").count() == batchSigs.count())
      } finally spark.conf.unset("spark.graft.hamming.tripleMinRows")
    }
  }

  test("streaming knn label transfer (bounded knn_topk aggregate) equals batch classify") {
    import graft.operators.SimilarityOps
    val sf = "/root/testdata/sf0.001"
    val store = new RelationStore(spark, s"$work/wh_knncls")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // same split the batch operator uses: queries pmod 5 == 0, frozen
    // labeled reference = the rest (persisted, read back — the frozen-
    // artifact contract every stream-static driver requires)
    val refPath = s"$work/knn_ref"
    emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      .write.mode("overwrite").parquet(refPath)
    val ref = spark.read.parquet(refPath)
    val newIn = s"$work/knn_queries"
    val queries = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    queries.filter(col("vec_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "knn_preds", s"$work/cp_knncls")(SimilarityOps.knnClassifyWith(_, ref))
    val afterFirst = store.read("knn_preds").count()
    queries.filter(col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "knn_preds", s"$work/cp_knncls")(SimilarityOps.knnClassifyWith(_, ref))
    val streamed = store.read("knn_preds")
      .select(col("vec_id"), col("pred_label"), col("votes"))
    val batch = SimilarityOps.simKnnClassify(spark, sf)
      .select(col("vec_id"), col("pred_label"), col("votes"))
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0, "stream ⊆ batch")
    assert(batch.exceptAll(streamed).count() == 0, "batch ⊆ stream")
  }

  test("streaming event-anomaly monitor converges to the batch spike table") {
    val store = new RelationStore(spark, s"$work/wh_anom")
    val newIn = s"$work/anomevents"
    val sf = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$sf/events.parquet")
    // two arrivals that do NOT align with day boundaries — partial
    // days must merge correctly in the grid
    events.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(newIn)
    Streaming.runEventAnomaly(Streaming.eventStream(spark, newIn), store,
      "anom_grid", "anom_spikes", s"$work/cp_anom")
    assert(store.read("anom_spikes").count() > 0, "first arrival produced a grid")
    events.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runEventAnomaly(Streaming.eventStream(spark, newIn), store,
      "anom_grid", "anom_spikes", s"$work/cp_anom")
    val streamed = store.read("anom_spikes")
    // the merged grid equals the batch grid, so the derived spike
    // table equals the batch operator EXACTLY (spikes recompute, so a
    // half-day spike from arrival one can legitimately un-spike)
    val batch = graft.operators.Events.qEventAnomaly(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming char-entropy gate over two arrivals equals the batch scorer") {
    val store = new RelationStore(spark, s"$work/wh_entropy")
    val newIn = s"$work/entropydocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "entropy", s"$work/cp_entropy")(TextOps.charEntropyOf)
    val afterFirst = store.read("entropy").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "entropy", s"$work/cp_entropy")(TextOps.charEntropyOf)
    val streamed = store.read("entropy")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // row-local scoring → union over arrivals equals the batch operator
    val batch = graft.operators.TextOps.txtCharEntropy(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming mojibake gate equals the batch operator across two arrivals") {
    val store = new RelationStore(spark, s"$work/wh_mojibake")
    val newIn = s"$work/mojibakedocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "mojibake", s"$work/cp_mojibake")(TextOps.mojibakeOf)
    val afterFirst = store.read("mojibake").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    def secondArrival(cp: String): Unit =
      Streaming.runAppend(Streaming.documentStream(spark, newIn),
        store, "mojibake", cp)(TextOps.mojibakeOf)
    secondArrival(s"$work/cp_mojibake")
    val streamed = store.read("mojibake")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = graft.operators.TextOps.txtMojibake(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)

    // crash-replay: a fresh checkpoint dir (un-committed offsets)
    // re-runs the arrivals under an already-landed batchId, so the
    // append must land nothing — no new delta, no base rewrite
    def contents(): Seq[org.apache.spark.sql.Row] = {
      val df = store.read("mojibake")
      df.orderBy(df.columns.toSeq.map(col): _*).collect().toSeq
    }
    val landed = store.landedBatchIds("mojibake")
    val snapshot = contents()
    secondArrival(s"$work/cp_mojibake_replay")
    assert(store.landedBatchIds("mojibake") == landed, "replay must not land a new delta")
    assert(store.versions("mojibake").isEmpty, "replay must not rewrite the landed table")
    assert(contents() == snapshot, "content must be identical after replay")
  }

  test("streaming c4 gate equals the batch operator across two arrivals") {
    val store = new RelationStore(spark, s"$work/wh_c4")
    val newIn = s"$work/c4docs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "c4", s"$work/cp_c4")(TextOps.c4GateOf)
    val afterFirst = store.read("c4").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "c4", s"$work/cp_c4")(TextOps.c4GateOf)
    val streamed = store.read("c4")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = graft.operators.TextOps.txtC4Gate(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming decontamination against a static eval set equals the batch sweep") {
    val store = new RelationStore(spark, s"$work/wh_decon")
    val newIn = s"$work/decondocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the batch operator's split: doc_id % 20 == 0 is the eval suite
    val evalGrams = graft.operators.CurateOps.evalGramsOf(
      docs.filter(pmod(col("doc_id"), lit(20)) === 0))
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    train.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "decon", s"$work/cp_decon")(CurateOps.decontaminateOf(_, evalGrams))
    val afterFirst = store.read("decon").count()
    train.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "decon", s"$work/cp_decon")(CurateOps.decontaminateOf(_, evalGrams))
    val streamed = store.read("decon")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // per-doc verdicts against the fixed eval side → union over
    // arrivals equals the batch operator, contaminated flags included
    val batch = graft.operators.CurateOps.dedupDecontaminate(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.filter(col("contaminated") === 1L).count() > 0,
      "the corpus plants contaminated train docs — the gate must catch them")
  }

  test("streaming unimax mix over the bounded language grid equals batch; replay skips the merge") {
    val store = new RelationStore(spark, s"$work/wh_unimax")
    val newIn = s"$work/unimaxdocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(newIn)
    Streaming.runUnimaxMix(Streaming.documentStream(spark, newIn), store,
      "um_grid", "um_alloc", s"$work/cp_unimax", budget = 30000L)
    assert(store.read("um_alloc").count() > 0, "first arrival produced an allocation")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runUnimaxMix(Streaming.documentStream(spark, newIn), store,
      "um_grid", "um_alloc", s"$work/cp_unimax", budget = 30000L)
    // the merged grid equals the batch aggregate, so the derived
    // allocation equals the batch operator EXACTLY — a language that
    // crossed capacity between ticks re-levels every other share
    val streamed = store.read("um_alloc")
    val batch = graft.operators.CurateOps.curateUnimax(spark, sf, budget = 30000L)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // at-least-once replay: a fresh checkpoint re-delivers everything
    // as epoch 0; the grid's committed batchTag is 1 and the guard is
    // tag >= batchId, so the replayed epoch skips the merge — the grid
    // stays exact instead of double-counting every document
    val gridBefore = store.read("um_grid").orderBy(col("lang")).collect().toSeq
    Streaming.runUnimaxMix(Streaming.documentStream(spark, newIn), store,
      "um_grid", "um_alloc", s"$work/cp_unimax_replay", budget = 30000L)
    assert(store.read("um_grid").orderBy(col("lang")).collect().toSeq == gridBefore,
      "replayed epoch must not double-merge the grid")
    val afterReplay = store.read("um_alloc")
    assert(afterReplay.exceptAll(batch).count() == 0 &&
      batch.exceptAll(afterReplay).count() == 0,
      "the allocation stays exact across a replay")
  }

  test("streaming per-lang ccnet bucketing under frozen thresholds equals batch") {
    val store = new RelationStore(spark, s"$work/wh_ccnetl")
    val newIn = s"$work/ccnetldocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val model = graft.operators.TextOps.charLmModel(spark, sf)
    val batchScored = graft.operators.TextOps.txtCharLmScore(spark, sf)
      .select(col("doc_id"), col("avg_millibits"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val thr = graft.operators.TextOps.ccnetLangThresholds(batchScored)
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "ccnetl_buckets", s"$work/cp_ccnetl")(TextOps.ccnetLangBucketsOf(_, model, thr))
    val afterFirst = store.read("ccnetl_buckets").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "ccnetl_buckets", s"$work/cp_ccnetl")(TextOps.ccnetLangBucketsOf(_, model, thr))
    val streamed = store.read("ccnetl_buckets")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = graft.operators.TextOps.txtCcnetLangBuckets(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming tfidf routing under a frozen model equals the batch pass") {
    val store = new RelationStore(spark, s"$work/wh_tfidf")
    val newIn = s"$work/tfidfdocs"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // idf + probe vectors trained ONCE on the full batch corpus — the
    // frozen retrieval artifacts a production router broadcasts
    val idf = graft.operators.TextOps.tfidfIdf(docs)
    val probes = graft.operators.TextOps.tfidfUnitVecs(docs, idf)
      .filter(col("doc_id") < 10)
      .selectExpr("doc_id as probe_id", "term", "u as pu")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "tfidf_route", s"$work/cp_tfidf")(TextOps.tfidfRouteWith(_, idf, probes))
    val afterFirst = store.read("tfidf_route").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "tfidf_route", s"$work/cp_tfidf")(TextOps.tfidfRouteWith(_, idf, probes))
    val streamed = store.read("tfidf_route")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // a doc's unit vector depends only on its own shingles + the frozen
    // idf, and routing is a per-doc argmax over the frozen probes — so
    // the union over arrivals equals the one-shot batch operator
    val batch = graft.operators.TextOps.tfidfRouteWith(docs, idf, probes)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming gopher gate over two arrivals equals the batch gate") {
    val store = new RelationStore(spark, s"$work/wh_gopher")
    val newIn = s"$work/gopherdocs"
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "gopher_verdicts", s"$work/cp_gopher")(CurateOps.gopherGateOfDocs)
    val afterFirst = store.read("gopher_verdicts").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "gopher_verdicts", s"$work/cp_gopher")(CurateOps.gopherGateOfDocs)
    val streamed = store.read("gopher_verdicts")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = graft.operators.CurateOps.curateGopherGate(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-stream interval join matches the batch join") {
    val store = new RelationStore(spark, s"$work/wh4")
    val joined = Streaming.clickPurchaseJoin(Streaming.eventStream(spark, s"$work/in"))
    val q = joined.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$work/cp5")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (store.exists("attrib")) store.write(store.read("attrib").unionByName(batch), "attrib")
        else store.write(batch, "attrib")
      }
      .start()
    q.awaitTermination()
    val streamed = store.read("attrib")

    val ev = graft.sources.Tables.normalizeEventTs(spark.read.parquet(s"$work/in"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts_t").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_t").as("purchase_ts"), col("value"))
    val batchJoin = purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        round(col("value") * 100).cast("long").as("value_cents"))
    assert(streamed.count() > 0, "interval join should produce attributions on this data")
    assert(streamed.count() == batchJoin.count())
    assert(streamed.exceptAll(batchJoin).count() == 0)
    assert(batchJoin.exceptAll(streamed).count() == 0)
  }

  test("stream-static broadcast enrichment matches the batch join") {
    val ev = spark.read.parquet(s"$work/in")
    // bounded static dimension: deterministic user tiers
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("tier", (pmod(col("user_id"), lit(3))).cast("int"))
    val store = new RelationStore(spark, s"$work/wh6")
    val enriched = Streaming.enrichWithDim(Streaming.eventStream(spark, s"$work/in"), dim)
    val q = enriched.writeStream
      .outputMode("complete") // unwatermarked aggregate → full result per trigger
      .option("checkpointLocation", s"$work/cp7")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.write(batch, "enriched")
      }
      .start()
    q.awaitTermination()
    val streamed = store.read("enriched")
    val batchSide = ev.join(broadcast(dim), Seq("user_id"))
      .groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
    assert(streamed.count() == batchSide.count())
    assert(streamed.exceptAll(batchSide).count() == 0)
    assert(batchSide.exceptAll(streamed).count() == 0)
  }

  test("freq_sketch aggregates over a stream with the same MG guarantees") {
    val store = new RelationStore(spark, s"$work/wh7")
    val sk = Streaming.eventStream(spark, s"$work/in")
      .agg(graft.functions.FreqSketch.freqSketch(col("user_id"), 32).as("sk"))
      .select(explode(col("sk")).as("x"))
      .select(col("x.item").as("user_id"), col("x.est").as("est"))
    val q = sk.writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$work/cp8")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.write(batch, "hh")
      }
      .start()
    q.awaitTermination()
    val got = store.read("hh").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.size <= 32)
    val ev = spark.read.parquet(s"$work/in")
    val n = ev.count()
    val exact = ev.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (u, est) =>
      val f = exact(u)
      assert(est <= f && est >= f - n / 33, s"user $u est $est true $f")
    }
  }

  test("cms_sketch streams in complete mode and equals the batch sketch exactly") {
    val store = new RelationStore(spark, s"$work/wh8")
    val w = 16
    val sk = Streaming.eventStream(spark, s"$work/in")
      .agg(graft.functions.CountMin.cmsSketch(col("event_type"), w).as("cms"))
    val q = sk.writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$work/cp9")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.write(batch.select(posexplode(col("cms")).as(Seq("i", "c"))), "cms")
      }
      .start()
    q.awaitTermination()
    val streamed = store.read("cms").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
    // CMS merge is pointwise addition — the streamed sketch is not
    // approximately but EXACTLY the batch sketch, per cell
    val batch = spark.read.parquet(s"$work/in")
      .agg(graft.functions.CountMin.cmsSketch(col("event_type"), w))
      .head().getSeq[Long](0).toArray
    assert(streamed.sameElements(batch))
  }

  test("quantile sketch streams in complete mode within the batch rank bound") {
    val store = new RelationStore(spark, s"$work/wh_qsk")
    val src = Streaming.eventStream(spark, s"$work/in")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val q = graft.operators.ScaleOps.quantileSketchAgg(src).writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$work/cp_qsk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.write(graft.operators.ScaleOps.quantileEstimatesOf(batch), "qsk")
      }
      .start()
    q.awaitTermination()
    val streamed = store.read("qsk").collect()
    assert(streamed.nonEmpty)
    // the sketch is order-sensitive within its rank bound, so streamed
    // estimates must satisfy the SAME guarantee the batch spec pins —
    // ranks within 5% of target against the exact per-type sort
    val exact = spark.read.parquet(s"$work/in")
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    streamed.foreach { r =>
      val t = r.getString(0); val n = r.getLong(1)
      val sorted = exact(t)
      assert(n == sorted.length.toLong)
      for ((qq, idx) <- Seq((0.5, 2), (0.9, 3), (0.99, 4))) {
        val rank = sorted.count(_ <= r.getLong(idx)).toLong
        val target = (qq * n).toLong
        assert(math.abs(rank - target) <= math.max(4L, n / 20),
          s"$t q=$qq: rank $rank vs $target of $n")
      }
    }
  }

  test("dropDuplicatesWithinWatermark removes in-window duplicate event ids") {
    // land the events plus a duplicated slice of themselves
    val in3 = s"$work/in3"
    val ev = spark.read.parquet(s"$work/in")
    ev.write.mode("overwrite").parquet(in3)
    ev.filter(col("event_id") < 100).coalesce(1).write.mode("append").parquet(in3)

    val store = new RelationStore(spark, s"$work/wh5")
    val deduped = Streaming.dedupWithinWatermark(Streaming.eventStream(spark, in3))
    val q = deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$work/cp6")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (store.exists("ev_dedup")) store.write(store.read("ev_dedup").unionByName(batch), "ev_dedup")
        else store.write(batch, "ev_dedup")
      }
      .start()
    q.awaitTermination()
    val got = store.read("ev_dedup")
    // every event id exactly once, despite the duplicated input slice
    assert(got.count() == ev.count())
    assert(got.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
  }

  test("streaming debounce over time-ordered arrivals equals the batch throttle") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), col("ts_us"))
    // split at the median ts so each (user, type) sees its events in
    // order across the two arrivals — the landing-zone contract the
    // operator documents
    val midUs = ev.selectExpr("percentile_approx(ts_us, 0.5) as m").head().getLong(0)
    val in = s"$work/debounce_in"
    ev.filter(col("ts_us") <= midUs).drop("ts_us")
      .write.mode("overwrite").parquet(in)
    val store = new RelationStore(spark, s"$work/wh_debounce")
    def drive(): Unit = {
      val verdicts = Streaming.streamingDebounce(Streaming.eventStream(spark, in))
      val q = verdicts.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$work/cp_debounce")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (store.exists("kept")) store.write(store.read("kept").unionByName(batch), "kept")
          else store.write(batch, "kept")
        }
        .start()
      q.awaitTermination()
    }
    drive()
    val afterFirst = store.read("kept").count()
    ev.filter(col("ts_us") > midUs).drop("ts_us")
      .coalesce(1).write.mode("append").parquet(in)
    drive()
    val streamed = store.read("kept")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = graft.operators.Events.qEventDebounce(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming topic tag over two arrivals equals the batch tagger") {
    val store = new RelationStore(spark, s"$work/wh_topic")
    val newIn = s"$work/topicdocs"
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "topics", s"$work/cp_topic")(b => TextOps.topicTagWith(b.sparkSession, b))
    val afterFirst = store.read("topics").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "topics", s"$work/cp_topic")(b => TextOps.topicTagWith(b.sparkSession, b))
    val streamed = store.read("topics")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = graft.operators.TextOps.txtTopicTag(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming boilerplate filter under the frozen strike set equals batch") {
    val store = new RelationStore(spark, s"$work/wh_boiler")
    val newIn = s"$work/boilerdocs"
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the strike set is trained ONCE on the full corpus (the frozen
    // model), then applied to the document stream in two arrivals
    val boiler = graft.operators.TextOps.boilerplateHashes(docs).cache()
    assert(boiler.count() > 0, "corpus should train a non-empty strike set")
    docs.filter(col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "clean_docs", s"$work/cp_boiler")(TextOps.boilerplateFilterWith(_, boiler))
    val afterFirst = store.read("clean_docs").count()
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.documentStream(spark, newIn),
      store, "clean_docs", s"$work/cp_boiler")(TextOps.boilerplateFilterWith(_, boiler))
    val streamed = store.read("clean_docs")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    val batch = graft.operators.TextOps.txtBoilerplateRemove(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    boiler.unpersist()
  }

  test("streaming IVF assignment against frozen centroids equals the batch assign") {
    import graft.operators.SimilarityOps
    val store = new RelationStore(spark, s"$work/wh_ivf")
    val newIn = s"$work/ivfvecs"
    val idx = s"$work/ivf_index"
    val sf = "/root/testdata/sf0.001"
    // index (centroids + cell layout) built ONCE on the ingested corpus
    SimilarityOps.persistIvfIndex(spark, sf, idx)
    val centroids = spark.read.parquet(s"$idx/centroids")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    // two arrivals of "new" vectors
    val isNew = pmod(col("vec_id"), lit(10)) >= 8
    vecs.filter(isNew && col("vec_id") < 300).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "ivf_assign", s"$work/cp_ivf")(SimilarityOps.ivfAssignWith(_, centroids))
    val afterFirst = store.read("ivf_assign").count()
    vecs.filter(isNew && col("vec_id") >= 300).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "ivf_assign", s"$work/cp_ivf")(SimilarityOps.ivfAssignWith(_, centroids))
    val streamed = store.read("ivf_assign")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // assignment is per-vector under FROZEN centroids → the union over
    // arrivals equals the one-shot batch assignment exactly
    val batch = SimilarityOps.ivfAssignWith(vecs.filter(isNew), centroids)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // and the cells agree with the index's own layout for vectors the
    // index already holds (same centroid table → same argmax)
    val inIndex = spark.read.parquet(s"$idx/cells")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    val re = SimilarityOps.ivfAssignWith(vecs, centroids)
    assert(re.join(inIndex, Seq("vec_id"))
      .filter(re("cell") =!= inIndex("cell")).count() == 0,
      "re-assignment must agree with the persisted layout")
  }

  test("streaming ANN queries against the frozen IVF-PQ index equal the batch query") {
    import graft.operators.SimilarityOps
    val store = new RelationStore(spark, s"$work/wh_annq")
    val newIn = s"$work/annprobes"
    val idx = s"$work/annq_index"
    val sf = "/root/testdata/sf0.001"
    SimilarityOps.persistIvfPqIndex(spark, sf, idx)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    // probe stream = vectors 20..39 arriving in two batches
    val isProbe = col("vec_id") >= 20 && col("vec_id") < 40
    vecs.filter(isProbe && col("vec_id") < 30).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "ann_results", s"$work/cp_annq") { b =>
      SimilarityOps.ivfPqQueryWith(b.sparkSession, b, idx)
    }
    val afterFirst = store.read("ann_results").count()
    vecs.filter(isProbe && col("vec_id") >= 30).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "ann_results", s"$work/cp_annq") { b =>
      SimilarityOps.ivfPqQueryWith(b.sparkSession, b, idx)
    }
    val streamed = store.read("ann_results")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals answered")
    // per-probe answers are independent of batching — union over
    // arrivals equals the one-shot batch query of the same probes
    val batch = SimilarityOps.ivfPqQueryWith(spark,
      vecs.filter(isProbe).select(col("vec_id"), col("embedding")), idx)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming IVF-PQ encode against the frozen index equals the batch encode") {
    import graft.operators.SimilarityOps
    val store = new RelationStore(spark, s"$work/wh_ivfpq")
    val newIn = s"$work/ivfpqvecs"
    val idx = s"$work/ivfpq_index"
    val sf = "/root/testdata/sf0.001"
    SimilarityOps.persistIvfPqIndex(spark, sf, idx)
    val centroids = spark.read.parquet(s"$idx/centroids")
    val codebook = spark.read.parquet(s"$idx/codebook")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val isNew = pmod(col("vec_id"), lit(10)) >= 8
    vecs.filter(isNew && col("vec_id") < 300).write.mode("overwrite").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "ivfpq_codes", s"$work/cp_ivfpq")(
      SimilarityOps.ivfPqEncodeWith(_, centroids, codebook))
    val afterFirst = store.read("ivfpq_codes").count()
    vecs.filter(isNew && col("vec_id") >= 300).coalesce(1).write.mode("append").parquet(newIn)
    Streaming.runAppend(Streaming.vectorStream(spark, newIn),
      store, "ivfpq_codes", s"$work/cp_ivfpq")(
      SimilarityOps.ivfPqEncodeWith(_, centroids, codebook))
    val streamed = store.read("ivfpq_codes")
    assert(afterFirst > 0 && streamed.count() > afterFirst, "two arrivals landed")
    // M=8 code rows per vector, frozen model → union over arrivals
    // equals the one-shot batch encode
    val batch = SimilarityOps.ivfPqEncodeWith(vecs.filter(isNew), centroids, codebook)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("delta landing: O(batch) per tick, replay-idempotent, manifest-only fold, write supersedes") {
    val s = spark
    import s.implicits._
    val store = new RelationStore(spark, s"$work/wh_delta", deltaFoldEvery = 3)
    def batchDf(lo: Long, hi: Long) = (lo until hi).map(i => (i, s"doc$i")).toDF("id", "txt")

    // tick 1 + 2: each landing creates ONE delta dir and NO base version
    // — the structural pin that bytes written per tick are bounded by
    // the batch, never a rewrite of the landed table
    assert(store.appendDelta(batchDf(0, 10), "t", 0L))
    assert(store.appendDelta(batchDf(10, 20), "t", 1L))
    assert(store.versions("t").isEmpty, "no base rewrite below the fold threshold")
    assert(store.landedBatchIds("t") == Seq(0L, 1L))
    assert(store.read("t").count() == 20)

    // at-least-once replay: the same epoch lands nothing and leaves the
    // table byte-identical (same delta dirs, same rows)
    assert(!store.appendDelta(batchDf(0, 10), "t", 0L), "replayed epoch must skip")
    assert(store.landedBatchIds("t") == Seq(0L, 1L))
    assert(store.read("t").count() == 20)

    // third landing crosses deltaFoldEvery=3 → metadata-only fold into a
    // base version; reads see everything, absorbed ids still skip
    assert(store.appendDelta(batchDf(20, 30), "t", 2L))
    assert(store.versions("t").nonEmpty, "fold committed a base version")
    assert(store.landedBatchIds("t").isEmpty, "all deltas absorbed by the fold")
    assert(store.read("t").count() == 30)
    assert(!store.appendDelta(batchDf(0, 10), "t", 1L),
      "absorbed epoch must still skip (watermark)")

    // post-fold landings are deltas again, unioned with the base
    assert(store.appendDelta(batchDf(30, 35), "t", 3L))
    assert(store.landedBatchIds("t") == Seq(3L))
    assert(store.read("t").count() == 35)
    assert(store.read("t").select(sum(col("id"))).as[Long].head() == (0L until 35L).sum)

    // schema drift is refused, not silently unioned
    intercept[IllegalArgumentException] {
      store.appendDelta(Seq((1L, 2L)).toDF("id", "other"), "t", 4L)
    }

    // retention over a LONG landing loop: folds + version GC keep the
    // on-disk directory count bounded (≤ retainVersions base versions +
    // < deltaFoldEvery live deltas) no matter how many ticks land, and
    // time travel still works inside the retention window
    (4L until 20L).foreach(i => store.appendDelta(batchDf(35 + i, 36 + i), "t", i))
    assert(store.read("t").count() == 51)
    assert(store.landedBatchIds("t").size < 3, "live deltas stay under the fold threshold")
    assert(store.versions("t").size <= 2, "version GC must bound retained base versions")
    val curV = store.versions("t").max
    assert(store.read("t", Some(curV)).count() >= 35, "time travel inside retention works")

    // a FULL write replaces the content: live deltas are superseded and
    // a later replay of an old epoch still skips
    store.write(batchDf(0, 5), "t")
    assert(store.read("t").count() == 5)
    assert(store.landedBatchIds("t").isEmpty)
    assert(!store.appendDelta(batchDf(30, 35), "t", 3L),
      "superseded epoch must not resurrect after an overwrite")
    assert(store.appendDelta(batchDf(40, 42), "t", 20L), "landing resumes past the overwrite")
    assert(store.read("t").count() == 7)

    // an EMPTY epoch (heartbeat tick with no admitted rows) still lands
    // and is still replay-guarded — and reads keep working through it
    assert(store.appendDelta(batchDf(0, 0), "t", 21L))
    assert(!store.appendDelta(batchDf(0, 0), "t", 21L))
    assert(store.read("t").count() == 7)

    // cross-store addressability: a pointer clone of a delta-landed
    // table sees base + live deltas (addressable() unions them)
    val store2 = new RelationStore(spark, s"$work/wh_delta_clone")
    store2.clone(store, "t")
    assert(store2.read("t").count() == 7)

    // warehouse OPTIMIZE over a table with live deltas: folds first
    // (metadata-only), then compacts the base — never throws, and the
    // content is unchanged
    store.compact("t")
    assert(store.landedBatchIds("t").isEmpty && store.read("t").count() == 7)

    // bucketed CTAS replaces the content and supersedes live deltas,
    // and a replayed old epoch still skips QUIETLY (no stream crash)
    store.appendDelta(batchDf(50, 55), "t", 22L)
    store.writeBucketed(batchDf(60, 64), "t", Seq("id"), 2)
    assert(store.read("t").count() == 4)
    assert(!store.appendDelta(batchDf(50, 55), "t", 22L),
      "replay of a superseded epoch must skip, not throw, on a bucketed table")
  }

  test("ingest tick crash-replay: re-running an epoch leaves all twelve tables unchanged") {
    import graft.operators.{DedupOps, SimilarityOps, TextOps}
    val store = new RelationStore(spark, s"$work/wh_tick_replay")
    val newIn = s"$work/tickdocs_replay"
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val enriched = docs.select(col("doc_id"), col("lang"), col("source"), col("text"))
      .join(emb, Seq("doc_id"))
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    val index = DedupOps.buildDedupIndex(docs.filter(!isNew))
    val charLm = frozen(TextOps.charLmModel(spark, sf), "tickr_charlm")
    val scored = TextOps.txtCharLmScore(spark, sf)
      .select(col("doc_id"), col("avg_millibits"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val thr = frozen(TextOps.ccnetLangThresholds(scored), "tickr_thr")
    val boiler = frozen(TextOps.boilerplateHashes(docs.filter(!isNew)), "tickr_boiler")
    val idxPath = s"$work/tick_replay_ivfpq"
    SimilarityOps.persistIvfPqIndex(spark, sf, idxPath)
    val centroids = spark.read.parquet(s"$idxPath/centroids")
    val codebook = spark.read.parquet(s"$idxPath/codebook")
    val cdcRef = frozen(DedupOps.cdcChunkIndexOf(docs.filter(!isNew)), "tickr_cdc_idx")
    val edgeRef = frozen(DedupOps.shinglePostingsIndexOf(docs.filter(!isNew)), "tickr_edge_idx")
    val spanGrams = frozen(DedupOps.spanGramSetOf(docs.filter(!isNew)), "tickr_span_idx")
    def tick(cp: String): Unit =
      Streaming.runIngestTick(Streaming.enrichedDocumentStream(spark, newIn),
        index, charLm, thr, boiler, centroids, codebook, cdcRef, edgeRef, spanGrams,
        store, "tickr", cp, quota = 300L)
    val tables = Seq("tickr_quota", "tickr_corpus", "tickr_dedup", "tickr_gopher",
      "tickr_ccnet", "tickr_topics", "tickr_boiler", "tickr_codes", "tickr_mojibake",
      "tickr_cdc", "tickr_edges", "tickr_cleaned")

    enriched.filter(isNew && col("doc_id") < 250).write.mode("overwrite").parquet(newIn)
    tick(s"$work/cp_tickr")
    def contents(t: String): Seq[org.apache.spark.sql.Row] = {
      val df = store.read(t)
      df.orderBy(df.columns.toSeq.map(col): _*).collect().toSeq
    }
    val snapshot = tables.map(t => t -> contents(t)).toMap
    tables.foreach(t => assert(store.landedBatchIds(t) == Seq(0L), s"$t landed epoch 0"))

    // a crash before the checkpoint commit replays the SAME epoch with
    // the same batchId (fresh checkpoint dir = un-committed offsets):
    // every table must skip the replay — no new delta dirs, no new base
    // versions, byte-identical content, quota verdicts unchanged
    tick(s"$work/cp_tickr_replay")
    tables.foreach { t =>
      assert(store.landedBatchIds(t) == Seq(0L), s"$t must not double-land epoch 0")
      assert(store.versions(t).isEmpty, s"$t must not rewrite its landed table")
      assert(contents(t) == snapshot(t),
        s"$t content must be byte-identical after replay")
    }
  }

  /** (relative path, size, mtime) of every data file under a table dir —
    * the instrument for the zero-copy fold pins below.
    */
  private def dataFileStates(tableDir: String): Map[String, (Long, Long)] = {
    val base = Paths.get(tableDir)
    if (!Files.exists(base)) return Map.empty
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    Files.walk(base).forEach { p =>
      val fn = p.getFileName.toString
      if (Files.isRegularFile(p) && !fn.startsWith("_") && !fn.startsWith("."))
        out(base.relativize(p).toString) =
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }
    out.toMap
  }

  test("fold writes ZERO data bytes, through the Hadoop FS API against file://") {
    val s = spark
    import s.implicits._
    // explicit file:// root: every store operation goes through the
    // Hadoop FileSystem/FileContext resolved from the scheme — the same
    // code path an hdfs:// or s3a:// root would take
    val localDir = Files.createTempDirectory("wh_fold_bytes")
    val store = new RelationStore(spark, s"file://$localDir", deltaFoldEvery = 3)
    def batchDf(lo: Long, hi: Long) = (lo until hi).map(i => (i, s"doc$i")).toDF("id", "txt")
    val tdir = s"$localDir/main/t"

    assert(store.appendDelta(batchDf(0, 200), "t", 0L))
    assert(store.appendDelta(batchDf(200, 400), "t", 1L))
    val before = dataFileStates(tdir)
    assert(before.nonEmpty && before.keySet.forall(_.startsWith("delta/")))

    // third landing crosses deltaFoldEvery → fold. The pin: afterwards,
    // every pre-existing data file is byte-identical in place (same
    // size, same mtime), the only NEW data files are the third batch's
    // own delta, and the committed version contains no data files at
    // all — the fold wrote one manifest, not a table
    assert(store.appendDelta(batchDf(400, 600), "t", 2L))
    assert(store.versions("t").nonEmpty, "fold committed a base version")
    val after = dataFileStates(tdir)
    before.foreach { case (rel, st) =>
      assert(after.get(rel).contains(st), s"$rel was rewritten or moved by the fold")
    }
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.startsWith("delta/b2/")),
      s"fold must add no data files beyond the landing batch itself, got $added")
    val v = store.versions("t").max
    val verFiles = after.keySet.filter(_.startsWith(s"v$v/"))
    assert(verFiles.isEmpty, s"version dir must hold metadata only, found $verFiles")
    // (no copy-fallback counter to check anymore: carries are manifest
    // references by construction — there is no physical-copy path left)
    assert(store.read("t").count() == 600)
    assert(store.read("t").select(sum(col("id"))).as[Long].head() == (0L until 600L).sum)
  }

  test("reference-counted GC: files live while any retained manifest names them") {
    val s = spark
    import s.implicits._
    val store = new RelationStore(spark, s"$work/wh_refcount",
      deltaFoldEvery = 2, retainVersions = 2)
    def batchDf(lo: Long, hi: Long) = (lo until hi).map(i => (i, s"doc$i")).toDF("id", "txt")
    val tdir = s"$work/wh_refcount/main/t"

    // v0: full write (physical files). Folds v1, v2 reference v0's
    // files forever after — expiring v0 from retention must reclaim its
    // MANIFEST but keep its data files until the last referencing
    // manifest expires too (lakehouse snapshot-expiry semantics)
    store.write(batchDf(0, 100), "t")
    val v0Files = dataFileStates(tdir).keySet.filter(_.startsWith("v0/"))
    assert(v0Files.nonEmpty)
    store.appendDelta(batchDf(100, 110), "t", 0L)
    store.appendDelta(batchDf(110, 120), "t", 1L) // fold → v1 (refs v0 + deltas)
    store.appendDelta(batchDf(120, 130), "t", 2L)
    store.appendDelta(batchDf(130, 140), "t", 3L) // fold → v2; retention expires v0
    assert(store.versions("t") == Seq(1, 2), "v0 expired from the version list")
    val files = dataFileStates(tdir).keySet
    v0Files.foreach(f => assert(files.contains(f), s"$f still referenced — must survive GC"))
    assert(store.read("t").count() == 140, "reads stay whole through the gutted version")
    intercept[IllegalStateException](store.read("t", Some(0)))

    // a full write supersedes everything; once the referencing fold
    // manifests expire below retention, v0's bytes are finally reclaimed
    store.write(batchDf(0, 5), "t")
    store.write(batchDf(0, 6), "t")
    assert(store.vacuum("t", keepLast = 1) >= 1)
    val remaining = dataFileStates(tdir).keySet
    v0Files.foreach(f =>
      assert(!remaining.contains(f), s"$f unreferenced after expiry — must be reclaimed"))
    assert(remaining.forall(!_.startsWith("delta/")), "absorbed unreferenced deltas reclaimed")
    assert(store.read("t").count() == 6)
  }

  test("landing-loop auto-compaction bounds file count; big files are never rewritten") {
    val s = spark
    import s.implicits._
    // fold every 2 landings; compact when the manifest reaches 6 files;
    // the small-file cutoff is HALF the 20 KiB target (Delta OPTIMIZE
    // convention), so a file ≥ 10 KiB counts as well-sized and must
    // never be rewritten — that's what makes cumulative rewrite bytes
    // amortize instead of re-rewriting near-target outputs every
    // trigger. Row text is distinct hex (incompressible) so file sizes
    // track rows; each ~100-row batch lands well under the cutoff.
    val target = 20L << 10
    val store = new RelationStore(spark, s"$work/wh_autocompact", deltaFoldEvery = 2,
      autoCompactMinFiles = 6, autoCompactTargetBytes = target)
    def batchDf(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, f"${i * 0x9E3779B97F4A7C15L}%016x" * 4)).toDF("id", "txt")

    val perBatch = 100L
    var landed = 0L
    var stable = Map.empty[String, (Long, Long)]
    (0L until 24L).foreach { b =>
      store.appendDelta(batchDf(landed, landed + perBatch).coalesce(1), "t", b)
      landed += perBatch
      // once compaction has produced a well-sized (≥ target/2) file,
      // pin it: later folds/compactions leave it byte-identical in place
      val bigs = dataFileStates(s"$work/wh_autocompact/main/t")
        .filter { case (rel, (sz, _)) => sz >= target / 2 && !rel.startsWith("delta/") }
      stable.foreach { case (rel, st) =>
        assert(bigs.get(rel).contains(st),
          s"well-sized file $rel was rewritten by a later compaction")
      }
      stable = bigs
    }
    assert(stable.nonEmpty, "auto-compaction produced at least one well-sized file")
    // fragmentation bound: every committed data file is well-sized
    // except a sub-trigger remainder; live deltas stay below the fold
    // threshold — so scan cost tracks data size, not landing count
    val cur = store.versions("t").max
    val states = dataFileStates(s"$work/wh_autocompact/main/t")
    val committed = store.read("t").inputFiles.toSeq
      .map(f => f.substring(f.lastIndexOf("/main/t/") + "/main/t/".length))
    val undersized = committed.filter(rel => states(rel)._1 < target / 2)
    assert(undersized.size < 6 + 2,
      s"undersized committed files must stay below the compaction trigger: $undersized")
    assert(store.read("t").count() == landed)
    assert(store.read("t").select(sum(col("id"))).as[Long].head() == (0L until landed).sum)
    // rewrite amplification: a byte is rewritten at most once into a
    // well-sized file, so cumulative rewritten bytes stay a small
    // multiple of the data
    val totalBytes = states.values.map(_._1).sum
    assert(store.compactedBytes.get() <= totalBytes * 3,
      s"compaction rewrote ${store.compactedBytes.get()} bytes over a $totalBytes-byte table")
    assert(store.versions("t") == Seq(cur) || store.versions("t").size <= 2)
  }
}
