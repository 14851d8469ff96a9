package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic stub ([[stubDecode]]); everything around
  * it — schema, batching, partition-parallel execution, feature-vector
  * shape — is real. In production the stub body is replaced by the codec
  * call; the Spark plan is unchanged.
  *
  * We synthesize the payload from `documents.text` (utf-8 bytes) so the
  * pipeline runs on the driver-provided tables only.
  */
object Multimodal {
  /** STUB — stands in for image/audio decode + feature extraction.
    * Deterministic: 8 "features" = byte sums over 8 equal stripes of the
    * payload. Replace with a real codec at deployment; signature
    * (bytes → fixed-size Array[Double]) is the contract.
    */
  def stubDecode(payload: Array[Byte]): Array[Double] = {
    val n = 8
    val out = new Array[Double](n)
    if (payload.nonEmpty) {
      val stripe = math.max(1, payload.length / n)
      var i = 0
      while (i < payload.length) {
        out(math.min(i / stripe, n - 1)) += (payload(i) & 0xff)
        i += 1
      }
    }
    out
  }

  /** Binary payload + metadata columns (oracle-checked byte lengths/digest). */
  def mmMeta(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"))

  /** Full plumbing: binary column → per-partition batched "decode" →
    * fixed-shape feature vector, via mapPartitions (the Scala analogue of
    * mapInPandas batching: one stub call per row, one iterator per
    * partition, no driver collect).
    *
    * The fixed-width feature vector is emitted as scalar columns
    * `f0..f7` (BIGINT byte-stripe sums — the stub is integer-exact), so
    * the result is hashable by the driver's canonicalizer and has a
    * DuckDB oracle; a production decode emitting floats would quantize
    * the same way the embeddings table does.
    */
  def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    val nFeat = 8
    val src = Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val outSchema = StructType(
      StructField("doc_id", LongType, nullable = false) +:
      StructField("n_bytes", IntegerType, nullable = false) +:
      (0 until nFeat).map(i => StructField(s"f$i", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    src.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val feats = stubDecode(payload)
        Row.fromSeq(id +: payload.length +: feats.map(_.toLong).toSeq)
      }
    }(enc)
  }

  /** "Resize" plumbing: a fixed-size thumbnail from an opaque payload —
    * here 16 evenly-spaced byte samples t0..t15 (a real image resize
    * swaps the sampling kernel for a codec call; the Spark-side shape —
    * binary column in, fixed-width numeric columns out, all codegen'd
    * built-ins, no UDF — is the production shape). Byte k reads
    * position floor(k*n/16); hex+conv turns the 1-byte slice into its
    * integer value without leaving whole-stage codegen.
    */
  def mmResize(s: SparkSession, dir: String): DataFrame = {
    val n = 16
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .withColumn("n", length(col("payload")).cast("long"))
    val samples = (0 until n).map { k =>
      when(col("n") > 0,
        conv(hex(expr(s"substring(payload, cast((n * $k div $n) + 1 as int), 1)")), 16, 10)
          .cast("long"))
        .otherwise(0L).as(s"t$k")
    }
    base.select(col("doc_id") +: col("n").as("n_bytes") +: samples: _*)
  }

  /** Perceptual signature per payload — the image-dedup signature
    * web-scale multimodal pipelines compute per asset (LAION dedups on
    * exactly this 64-bit shape). Spelled as a SimHash over byte
    * 4-grams ([[mmPhashOf]]); a real image pipeline swaps the byte
    * grams for decoded-pixel patches — the hash arithmetic and
    * everything downstream is unchanged.
    *
    * Scale shape: one row-local codegen'd kernel per payload
    * (fanout-spread scan), zero exchanges, no UDF. The fanout spread
    * uses the byte-gram weight — each source row carries ~n_bytes
    * grams of kernel work, an order of magnitude more than the token
    * pipelines the default rows-per-task constant is sized for.
    */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    mmPhashOf(Tables.loadFanout(s, dir, "documents",
      rowsPerTask = Tables.RowsPerGramFanoutTask))

  /** DataFrame-in payload signature — a SimHash over byte 4-grams of
    * the raw payload. The same signature plan serves the batch
    * operator, index builds, and every streaming micro-batch of
    * arriving payloads ([[mmProbeAgainstIndex]]).
    *
    * Gram-vote simhash, not strided-sample aHash: the earlier
    * mean-threshold aHash sampled 64 bytes at fixed strides, which is
    * (a) not edit-robust on byte streams — one inserted byte shifts
    * every later sample, so near-identical payloads hash far apart —
    * and (b) bit-BIASED on text-like payloads (most bytes beat the
    * space-dragged mean, Bernoulli(~0.83) bits), which concentrated
    * ~27% of the corpus into ONE chunk value of the hamming join's
    * pigeonhole key: the candidate join went skew-quadratic no matter
    * how the bits were chunked (the sf2 scaling probe measured the
    * family at 710 s, BENCH_SCALE.md). Hashed-gram bit votes give
    * ~Bernoulli(½) bits on ANY payload distribution (the N²/2^bits
    * join design holds) and locality: a local edit changes only the
    * ≤ 4 grams covering it, so near-duplicate payloads stay within a
    * small hamming radius — content-defined robustness, the byte-level
    * analogue of token SimHash ([[graft.operators.DedupOps.dedupSimHash]]).
    *
    * MINIMUM-PAYLOAD CONTRACT: payloads shorter than 4 bytes have no
    * byte 4-gram, carry no signature row, and therefore never
    * participate in payload dedup, pair generation, or canonical
    * grouping downstream (each such asset is trivially its own
    * canonical). The DuckDB oracle mirrors the same `n >= 4` cut.
    */
  def mmPhashOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .filter(length(col("payload")) >= 4)
      // the gram walk, md5 votes and bit election all happen inside one
      // codegen'd per-row kernel (graft.functions.PayloadSimHash): the
      // signature is a PER-ROW reduction, so the former
      // explode → exchange → bit-vote-aggregate plan paid a generator,
      // a gram-row shuffle and two aggregate passes for values this
      // single pass computes in place — zero exchanges, and scan
      // parallelism alone (loadFanout) bounds the stage. Signatures are
      // bit-identical with the aggregate spelling (OpsSpec pin) and the
      // DuckDB oracle CTE.
      .select(col("doc_id"),
        graft.functions.HashOps.payloadSimHashCol(col("payload")).as("phash"))
      .withColumn("popcnt", expr("bit_count(phash)").cast("long"))

  /** Near-duplicate payload pairs by Hamming distance on the aHash —
    * candidate generation and exact verification reuse the pigeonhole
    * chunk join from the SimHash dedup ([[DedupOps.hammingPairs]]):
    * an equi-join on signature chunks, never all-pairs, recall 1 by
    * construction. This is the multimodal member of the dedup family:
    * same banding machinery, image-hash signature instead of text-hash.
    *
    * Threshold vs fanout at scale: `maxHamming` = 3 gives 16-bit
    * single chunks (64 K values — the Manku et al. web-dedup setting).
    * The registered query uses 8 — wide enough that a near-duplicate
    * payload's handful of flipped vote bits still lands — which routes
    * through the chunk-PAIR multi-index ([[graft.operators.DedupOps
    * .hammingPairs]]): ~13-bit keys keep per-bucket fanout bounded at
    * any corpus size, where the single 7-bit chunk key's buckets grew
    * ∝ N/128 (the sf2 scaling probe's worst offender, BENCH_SCALE.md).
    */
  def mmPhashPairs(s: SparkSession, dir: String, maxHamming: Int = 8): DataFrame = {
    // both sides of the chunk join scan the signature table — resident
    // slot, not a per-invocation .cache(): repeated invocations in a
    // long-lived session must hold ONE cached copy, and the multimodal
    // family ([[mmCanonical]]) shares the materialized pair table
    val sig = ResidentCache(s, "mm_phash_sig",
      mmPhash(s, dir).select(col("doc_id"), col("phash")))
    // corpus size (memoized metadata count) drives the pair→triple
    // multi-index escalation past ~10⁶ payloads — see
    // [[DedupOps.hammingPairs]]; either index yields identical pairs
    ResidentCache(s, s"mm_phash_pairs_$maxHamming",
      DedupOps.hammingPairs(sig, "phash", maxHamming,
        nRows = Some(Tables.rowCount(s, dir, "documents"))))
  }

  /** Persist the multimodal dedup index: the corpus phash signatures
    * PRE-CHUNKED for the pigeonhole probe join and written bucketed by
    * the (ci, chunk) join key — probes join the index without an
    * index-side shuffle or re-chunk, the same storage discipline as
    * [[graft.operators.DedupOps.persistDedupIndex]].
    */
  def persistMmPhashIndex(s: SparkSession, dir: String,
      store: graft.exec.RelationStore, prefix: String,
      maxHamming: Int = 8, buckets: Int = 32): Unit =
    persistMmPhashIndexOf(Tables.loadFanout(s, dir, "documents",
      rowsPerTask = Tables.RowsPerGramFanoutTask), store, prefix,
      maxHamming, buckets)

  def persistMmPhashIndexOf(documents: DataFrame,
      store: graft.exec.RelationStore, prefix: String,
      maxHamming: Int = 8, buckets: Int = 32): Unit = {
    val sigs = mmPhashOf(documents).select(col("doc_id"), col("phash"))
    store.writeBucketed(chunkedSigs(sigs, maxHamming), s"${prefix}_chunks",
      Seq("ci", "chunk"), buckets)
  }

  /** Delegates to [[DedupOps.chunkSigs]] — the chunk math must stay
    * bit-identical with the SimHash pair join and with already-written
    * index layouts, so there is exactly one definition of it.
    */
  private def chunkedSigs(sigs: DataFrame, maxHamming: Int): DataFrame =
    DedupOps.chunkSigs(sigs, "phash", maxHamming)
      .withColumnRenamed("__sig", "phash")

  /** Probe arriving payloads against a FROZEN phash index — the
    * multimodal twin of [[graft.operators.DedupOps.probeAgainstIndex]]:
    * per probe document, is it a ≤ maxHamming near-duplicate of an
    * already-indexed payload, and of which (smallest matching id)?
    * Pigeonhole chunk equi-join (recall 1 by construction) + exact
    * bit_count verify; only the O(batch) probe side shuffles when the
    * index is the [[persistMmPhashIndex]] bucketed layout.
    * DataFrame-in → the same plan serves batch backfill and every
    * streaming micro-batch.
    */
  def mmProbeAgainstIndex(newDocs: DataFrame, indexChunks: DataFrame,
      maxHamming: Int = 8): DataFrame = {
    val probeSigs = mmPhashOf(newDocs).select(col("doc_id"), col("phash"))
    val probeChunks = chunkedSigs(probeSigs, maxHamming)
      .select(col("doc_id").as("doc_new"), col("phash").as("sig_new"),
        col("ci"), col("chunk"))
    val idx = indexChunks
      .select(col("doc_id").as("doc_idx"), col("phash").as("sig_idx"),
        col("ci"), col("chunk"))
    val matches = probeChunks.join(idx, Seq("ci", "chunk"))
      .select(col("doc_new"), col("doc_idx"), col("sig_new"), col("sig_idx"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(sig_new ^ sig_idx) as bigint)"))
      .filter(col("hamming") <= maxHamming && col("doc_new") =!= col("doc_idx"))
      .groupBy(col("doc_new"))
      .agg(min(struct(col("hamming"), col("doc_idx"))).as("b"))
      .select(col("doc_new").as("doc_id"),
        col("b.doc_idx").as("dup_of"), col("b.hamming").as("hamming"))
    probeSigs.select(col("doc_id"), col("phash"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"),
        col("dup_of").isNotNull.cast("long").as("is_dup"))
  }

  /** Canonical payload per near-duplicate cluster: cluster the
    * [[mmPhashPairs]] graph with the checkpointed connected-components
    * fixpoint, then keep the LARGEST payload per cluster (the
    * best-resolution analog; ties by lower doc_id) — the multimodal
    * member of the canonical-survivor family next to
    * [[GraphOps.dedupCanonicalQuality]]'s text rule. Only clustered
    * payloads are emitted; at scale you left-join back and treat null
    * as "keep", exactly like the text dedup tables.
    *
    * Shape: the per-cluster argmax is ONE `max(struct(n_bytes,
    * -doc_id))` aggregate on the cluster key — map-side combined, no
    * window over the corpus, co-partitioned with the membership join.
    */
  def mmCanonical(s: SparkSession, dir: String): DataFrame = {
    // memo (not a sameResult slot): the CC fixpoint's lineage ends in
    // per-invocation checkpoint RDDs — see GraphOps.dedupClusters
    val labels = ResidentCache.memo(s, s"mm_cc@$dir",
        Tables.listingFingerprint(s, dir, "documents")) {
      val pairs = mmPhashPairs(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      graft.operators.GraphOps.connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("lab").as("cluster_id"))
    }
    val sizes = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        expr("cast(octet_length(encode(text, 'UTF-8')) as bigint)").as("n_bytes"))
    val member = labels.join(sizes, Seq("doc_id"))
    val best = member.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_bytes"), (-col("doc_id")).as("neg"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg")).as("keeper"))
    member.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_bytes"),
        (col("doc_id") === col("keeper")).cast("long").as("keep"))
  }

  /** "Frame sample" plumbing: treat the payload as fixed-size frames
    * (256 bytes) and take every 4th frame — the Spark shape of video
    * frame extraction (sequence + posexplode + substring are all native
    * expressions; a real pipeline replaces the digest with a decode
    * UDF over the frame bytes). Output one row per sampled frame.
    */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    val frameLen = 256
    val stride = 4
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .withColumn("n_frames", ceil(length(col("payload")) / lit(frameLen.toDouble)).cast("long"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("payload"),
        explode(expr(s"sequence(0L, n_frames - 1, $stride)")).as("frame_idx"))
      .withColumn("frame",
        expr(s"substring(payload, cast(frame_idx * $frameLen + 1 as int), $frameLen)"))
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"),
        // hex, not md5: the oracle engine can only slice blobs via
        // their hex encoding, so emit the comparable form directly
        hex(col("frame")).as("frame_hex"))
  }
}
