package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md)
  * and the dbt parquet sources.
  *
  * Parquet reads take their schema from one metadata memo, keyed by path
  * (plus reader options), as a metastore serves a table's schema: a
  * schema-less `spark.read.parquet` runs a footer-reading Spark job
  * before the plan exists. An entry holds the schema, row count and
  * fanout targets, stamped with the listing it was inferred from (every
  * file's length and mtime, from the read's own file index) and the
  * parquet read settings. A changed stamp — a table rewritten in place,
  * even under the same file name — re-infers once and replaces the
  * entry. Only metadata is cached, never rows or plans; Catalyst still
  * prunes columns and pushes predicates into the scan.
  *
  * `events.ts` has shipped as parquet TIMESTAMP(NANOS) (scanned as a raw
  * long under `spark.sql.legacy.parquet.nanosAsLong=true`) and as
  * TIMESTAMP(MICROS) (scanned as TIMESTAMP_NTZ). [[normalizeEventTs]]
  * derives the same two columns from either physical type: `ts_us`
  * (integer microseconds — integer arithmetic throughout; doubles cannot
  * represent epoch-nanos > 2^53 exactly) and a session-TZ timestamp
  * `ts_t`. The session timezone is pinned to UTC (GraftSession), so the
  * NTZ→instant reading matches DuckDB's naive-epoch interpretation and
  * the oracle's `epoch_ns(ts) // 1000` is identical for every source
  * precision.
  */
object Tables {
  /** Add `ts_us` (µs since epoch, long) + `ts_t` (timestamp) derived
    * from whatever physical type the `ts` column scanned as. Works on
    * batch and streaming DataFrames (stateless projections only).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val tsUs: Column = df.schema("ts").dataType match {
      case LongType => expr("ts div 1000") // legacy nanos-as-long
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case TimestampType => unix_micros(col("ts"))
      case t => throw new IllegalArgumentException(s"unsupported events.ts type: $t")
    }
    df.withColumn("ts_us", tsUs)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
  }

  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extra: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extra

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loaded(spark, dir, name)._1

  /** [[load]] with the table's memo entry. */
  private def loaded(spark: SparkSession, dir: String, name: String): (DataFrame, Entry) = {
    val (df, e) = read(spark, s"$dir/$name.parquet", Map.empty)
    (if (name == "events") normalizeEventTs(df) else df, e)
  }

  /** `spark.read.options(options).parquet(path)`, schema served by the memo. */
  def parquet(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = read(spark, path, options)._1

  /** One source's memoized metadata. `rows` and `fanout` are filled
    * outside any lock (a rare duplicate probe computes the same value),
    * so a slow count never blocks loads of other sources.
    */
  private[graft] final class Entry(val stamp: String, val schema: StructType) {
    @volatile var rows: Option[Long] = None
    val fanout = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Integer]()
  }

  private[graft] val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Map[String, String]), Entry]()

  /** The read's own listing — sorted (file, length, mtime) from the
    * file index of every relation it scans, driver-side, no Spark job
    * (a versioned store's files, never rewritten in place, by name) —
    * plus the parquet read settings the inferred schema depends on
    * (e.g. `nanosAsLong`).
    */
  private def stampOf(spark: SparkSession, df: DataFrame): String = {
    val files = df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .flatMap {
        case ix: PartitioningAwareFileIndex =>
          ix.allFiles().toSeq.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
        case ix => ix.inputFiles.toSeq
      }
    val conf = spark.conf.getAll.toSeq.collect {
      case (k, v) if k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") => s"$k=$v"
    }
    (conf.sorted ++ files.sorted).mkString("\n")
  }

  private def read(spark: SparkSession, path: String,
      options: Map[String, String]): (DataFrame, Entry) = {
    val key = (path, options)
    val prior = Option(memo.get(key))
      .map(e => (e, spark.read.options(options).schema(e.schema).parquet(path)))
    prior match {
      case Some((e, df)) if stampOf(spark, df) == e.stamp => (df, e)
      case _ =>
        // Spark's cache matches a read by its path, not its listing:
        // drop every cached plan over the old listing, so none of them
        // (operator resident slots included) serves the previous files
        prior.foreach { case (_, stale) =>
          spark.sharedState.cacheManager.uncacheQuery(castToImpl(stale), cascade = true)
        }
        val df = spark.read.options(options).parquet(path)
        val e = new Entry(stampOf(spark, df), df.schema)
        memo.put(key, e)
        (df, e)
    }
  }

  private def rowsOf(df: DataFrame, e: Entry): Long = e.rows.getOrElse {
    val n = df.count()
    e.rows = Some(n)
    n
  }

  /** Source rows per fanout task: 8 k docs × 30–300× explode ≈ 0.25–2 M
    * exploded rows per task — a healthy task size for the token-level
    * shingle/char pipelines. Rows, not bytes: columnar compression makes
    * file size a ~10×-off proxy for the per-row work the fanout
    * multiplies.
    */
  private val RowsPerFanoutTask = 8192L

  /** Fanout weight for BYTE-gram consumers (the payload-simhash
    * kernel): ~n_bytes ≈ 1–2 k hash computations per source row, an
    * order of magnitude above the token pipelines, so the per-task row
    * budget shrinks accordingly (512 docs × ~1–2 k grams ≈ 0.5–1 M
    * digests per task). Without this weight the row-count threshold
    * keeps a 5 k-doc corpus single-task while it runs millions of
    * digests (the sf0.1 bench measured the signature stage at ~3.2 s
    * pinned to one core).
    */
  private[graft] val RowsPerGramFanoutTask = 512L

  private def sha256(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** SHA-256 of a source table's memo stamp: the stamp of the operator
    * memos ([[graft.operators.ResidentCache]] keyed entries) built from
    * the table, which re-derive when it is rewritten in place.
    */
  private[graft] def listingFingerprint(spark: SparkSession, dir: String,
      name: String): String = sha256(loaded(spark, dir, name)._2.stamp)

  /** The same stamp for an arbitrary read — a model's declared ref or
    * source rather than a named test table.
    */
  private[graft] def planFingerprint(df: DataFrame): String = sha256(stampOf(df.sparkSession, df))

  /** Row count of a source table, one parquet count per listing per JVM. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val (df, e) = loaded(spark, dir, name)
    rowsOf(df, e)
  }

  /** [[load]] + guaranteed scan parallelism for FANOUT consumers. The
    * explode-heavy pipelines (shingles, grams, per-char streams,
    * per-dimension vector ops) multiply the row count 30–300×, so a
    * source that scans as fewer partitions than its SIZE warrants — a
    * single parquet row group: one fat crawl file — pins the ENTIRE
    * fanout pipeline to one task (the sf1 scaling probe measured the
    * signature stage of the payload simhash at 30 s single-task for
    * this reason, BENCH_SCALE.md). One cheap pre-fanout round-robin
    * shuffle of the RAW rows (corpus bytes, not exploded bytes)
    * restores parallelism.
    *
    * SIZE-AWARE, not unconditional: the target is one task per
    * [[RowsPerFanoutTask]] source rows (capped at session
    * parallelism), so a corpus small enough for one task keeps its
    * zero-shuffle single-task plan — an unconditional spread measured
    * +0.2–1.8 s per query across the sf0.1 bench (tiny corpus, pure
    * exchange + planning overhead) — and any real multi-file table is
    * already wider than the target: a no-op with zero added shuffle.
    */
  def loadFanout(spark: SparkSession, dir: String, name: String,
      rowsPerTask: Long = RowsPerFanoutTask): DataFrame = {
    val (df, e) = loaded(spark, dir, name)
    val cached = e.fanout.get(rowsPerTask)
    val target: Int =
      if (cached != null) cached.intValue()
      else {
        val t0 = math.min(spark.sparkContext.defaultParallelism.toLong,
          (rowsOf(df, e) + rowsPerTask - 1) / rowsPerTask).toInt
        val t = if (t0 > 1 && df.rdd.getNumPartitions < t0) t0 else 1
        e.fanout.putIfAbsent(rowsPerTask, t)
        t
      }
    if (target > 1) df.repartition(target) else df
  }
}
