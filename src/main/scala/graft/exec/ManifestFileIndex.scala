package graft.exec

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] over an EXPLICIT file list — how a manifest-listed
  * table version becomes a scan without touching the filesystem.
  *
  * This is the read half of the store's manifest commits (the shape
  * lakehouse formats use: Delta's TahoeFileIndex, Iceberg's manifest
  * scan): the manifest already knows every data file's path, size,
  * partition values, and per-column min/max stats, so
  *
  *  - a scan does ZERO directory listing and ZERO per-file stat calls
  *    — on an object store at 100 TB, listing is the metadata
  *    bottleneck manifests exist to delete;
  *  - files of ONE logical version may live in MANY physical
  *    directories (a partition carried from version 3, a fresh write
  *    in version 7) — partition discovery over such a set is exactly
  *    what Spark's directory-based inference refuses
  *    (CONFLICTING_DIRECTORY_STRUCTURES), and what listFiles here
  *    serves trivially;
  *  - partition PRUNING still works: `listFiles` evaluates the pushed
  *    partition filters against each entry's typed partition values,
  *    so a pruned scan opens only the matching entries' files;
  *  - DATA SKIPPING works below the partition grain: the pushed data
  *    filters are evaluated against each FILE's manifest-recorded
  *    column bounds ([[FileStats.mayMatch]]), so a selective predicate
  *    on an unpartitioned column opens only the files whose min/max
  *    ranges overlap it — at 100 TB the difference between reading 3
  *    files and 30,000.
  */
final class ManifestFileIndex(
    table: HPath,
    override val partitionSchema: StructType,
    /** (partition values in partitionSchema order, files with their
      * optional per-column stats) per leaf.
      */
    entries: Seq[(InternalRow, Seq[(FileStatus, Option[FileStats])])]) extends FileIndex {

  override def rootPaths: Seq[HPath] = Seq(table)
  override def refresh(): Unit = ()
  override lazy val sizeInBytes: Long =
    entries.iterator.flatMap(_._2).map(_._1.getLen).sum
  override def inputFiles: Array[String] =
    entries.flatMap(_._2.map(_._1.getPath.toString)).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // Spark resolves case-insensitively unless spark.sql.caseSensitive;
    // name binding here must agree or a differently-cased pushed filter
    // would miss (partition case) or silently no-op (stats case)
    val caseSensitive = SQLConf.get.caseSensitiveAnalysis
    def sameName(a: String, b: String): Boolean =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    val live =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) entries
      else {
        // bind the pushed filters to the partition-value row layout and
        // evaluate per leaf — interpreted, over a bounded leaf count
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val idx = partitionSchema.indexWhere(f => sameName(f.name, a.name))
            require(idx >= 0, s"partition filter over unknown column ${a.name}")
            BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        entries.filter { case (values, _) => pred.eval(values) }
      }
    // file-level data skipping: a file survives only if EVERY pushed
    // data filter may match its recorded bounds; files without stats
    // always survive (mayMatch is strictly conservative)
    val skippable = dataFilters.filter(_.deterministic)
    val out = live.map { case (values, files) =>
      val kept =
        if (skippable.isEmpty) files.map(_._1)
        else files.collect {
          case (st, None) => st
          case (st, Some(fstats)) if skippable.forall(f =>
            FileStats.mayMatch(f, fstats,
              name => fstats.cols.collectFirst {
                case (n, cs) if sameName(n, name) => cs
              })) => st
        }
      PartitionDirectory(values, kept.toArray)
    }.filter(_.files.nonEmpty)
    // observability: what this scan CONSIDERED (every file the version
    // manifests) vs what pruning+skipping left OPEN — surfaced per node
    // in run_results' adapter_response so skipping effectiveness is
    // visible, not just real. The JVM-global counters count every
    // PLANNING EVENT (run totals, exact); per-NODE attribution buckets
    // by the Spark job group the Runner sets per node — exact under
    // concurrent scheduling. Within (group, index instance) events are
    // reconciled by their pushed FILTER SET ([[ManifestFileIndex.record]]):
    // a strict-superset re-listing (a DPP refinement adds evaluated
    // dynamic filters on top of the static set) REPLACES the static
    // event it refines, while an equal-or-incomparable filter set is a
    // DISTINCT scan of the same index (a self-join's two sides) and
    // ACCUMULATES — so a self-join's considered files are the sum of
    // both scans, measured, not halved.
    val fc = entries.iterator.map(_._2.size).sum.toLong
    val bc = entries.iterator.flatMap(_._2).map(_._1.getLen).sum
    val fo = out.iterator.map(_.files.size).sum.toLong
    val bo = out.iterator.flatMap(_.files).map(_.getLen).sum
    ManifestFileIndex.filesConsidered.addAndGet(fc)
    ManifestFileIndex.bytesConsidered.addAndGet(bc)
    ManifestFileIndex.filesOpened.addAndGet(fo)
    ManifestFileIndex.bytesOpened.addAndGet(bo)
    // job-group local properties are inherited into Spark's planning
    // helper threads (SQLExecution captures them), so the group read
    // here is the node whose plan requested this listing
    val group = org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.sparkContext.getLocalProperty("spark.jobGroup.id")))
      .getOrElse("")
    val filterKey = (partitionFilters ++ dataFilters)
      .map(_.canonicalized.semanticHash()).toSet
    ManifestFileIndex.record(group, indexId, filterKey, fc, fo, bc, bo)
    out
  }

  private val indexId: Long = ManifestFileIndex.nextIndexId.incrementAndGet()
}

object ManifestFileIndex {

  /** JVM-cumulative scan-planning observability: across every
    * manifest-backed scan PLANNING EVENT, the data files the version
    * manifest listed ("considered") vs the files partition pruning +
    * data skipping left for the scan to open, and their bytes. The
    * Runner snapshots these around each node to report
    * per-materialization skipping effectiveness in run_results.
    * Attribution caveats: exact under single-threaded scheduling
    * (concurrent nodes may attribute a competitor's planning to each
    * other, never lose it), and a dynamically-pruned scan MAY plan
    * twice (static, then DPP-refined — measured once-refined on this
    * Spark version, but the static listing is planner-version
    * dependent) so these raw totals can carry both events; the
    * per-group attribution below reconciles that pair instead.
    */
  val filesConsidered = new java.util.concurrent.atomic.AtomicLong(0L)
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0L)
  val bytesConsidered = new java.util.concurrent.atomic.AtomicLong(0L)
  val bytesOpened = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (filesConsidered, filesOpened, bytesConsidered, bytesOpened) now. */
  def scanCounters(): (Long, Long, Long, Long) =
    (filesConsidered.get(), filesOpened.get(), bytesConsidered.get(), bytesOpened.get())

  private val nextIndexId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One recorded planning event: the pushed-filter fingerprint
    * (semantic hashes of the canonicalized partition + data filters)
    * and the (fc, fo, bc, bo) counts it produced.
    */
  private final case class PlanEvent(filters: Set[Int], counts: Array[Long])

  /** Per-job-group planning events, recorded ONLY for groups a Runner
    * announced via [[resetGroup]] (unannounced groups — bench sweeps,
    * ad-hoc reads — are covered by the global counters; recording them
    * per-index here would grow without bound over a long JVM). Keyed by
    * (group, index instance); events of one index reconcile by filter
    * set (see [[record]]).
    */
  private val groupEvents = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[Long, java.util.ArrayList[PlanEvent]]]()

  /** Record one planning event. Reconciliation within (group, index):
    * a listing whose filter set STRICTLY CONTAINS a previous event's is
    * a refinement of that same scan — DPP re-lists with the evaluated
    * dynamic filters appended to the static set — and REPLACES the most
    * recent such event (the refined set is what the scan actually
    * reads). Any other listing (equal filter set, or incomparable) is a
    * DISTINCT scan of the same index — the two sides of a self-join,
    * two actions of one node — and APPENDS, so the node's totals are
    * the sum over every scan it planned. Known degradation, accepted:
    * two genuinely distinct scans where one's filters strictly contain
    * the other's (x WHERE a=1 joined to x WHERE a=1 AND b=2) collapse
    * to the tighter scan; preferring that rare undercount keeps DPP
    * refinement from double-counting, which would poison every
    * partitioned-join report.
    */
  private[exec] def record(group: String, indexId: Long, filterKey: Set[Int],
      fc: Long, fo: Long, bc: Long, bo: Long): Unit = {
    val m = groupEvents.get(group)
    if (m == null) return
    val lst = m.computeIfAbsent(indexId, _ => new java.util.ArrayList[PlanEvent]())
    val ev = PlanEvent(filterKey, Array(fc, fo, bc, bo))
    lst.synchronized {
      var i = lst.size - 1
      var replaced = false
      while (i >= 0 && !replaced) {
        val prev = lst.get(i)
        if (prev.filters.size < filterKey.size && prev.filters.subsetOf(filterKey)) {
          lst.set(i, ev); replaced = true
        }
        i -= 1
      }
      if (!replaced) lst.add(ev)
    }
  }

  /** Open per-group attribution for a node: clears any stale events
    * (a retried node id) and registers the group for recording.
    */
  def resetGroup(group: String): Unit =
    groupEvents.put(group,
      new java.util.concurrent.ConcurrentHashMap[Long, java.util.ArrayList[PlanEvent]]())

  /** Drain a node's attributed planning events: reconciled events
    * summed across every scan of every input index. Empty ⇒ no
    * manifest-backed scan planned under this group.
    */
  def takeGroupStats(group: String): Map[String, Long] = {
    val m = groupEvents.remove(group)
    if (m == null || m.isEmpty) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val vs = m.values.asScala.toSeq.flatMap(l => l.synchronized {
        l.asScala.map(_.counts).toSeq
      })
      Map(
        "files_considered" -> vs.map(_(0)).sum,
        "files_opened" -> vs.map(_(1)).sum,
        "bytes_considered" -> vs.map(_(2)).sum,
        "bytes_opened" -> vs.map(_(3)).sum)
    }
  }

  /** Hive path-segment unescaping (%XX) — the inverse of the escaping
    * Spark's partitioned writer applies to partition values in paths.
    */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '%' && i + 2 < s.length) {
        val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb += code.toChar; i += 3 } else { sb += c; i += 1 }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** `col=value` segments of a relative file path, in path order —
    * the leaf-partition key a manifest entry belongs to (the segments
    * survive verbatim from the partitioned writer, so equality on the
    * joined string is equality on the partition tuple).
    */
  def leafKeyOf(relPath: String): String =
    relPath.split('/').filter(_.contains('=')).mkString("/")

  /** Parse a leaf key's values in `partitionBy` order, cast to the
    * stored column types (Catalyst internal values, ready for an
    * InternalRow).
    */
  def partitionValuesOf(leafKey: String, partitionBy: Seq[String],
      schema: StructType, zoneId: String): InternalRow = {
    val byName = leafKey.split('/').filter(_.contains('=')).map { seg =>
      val eq = seg.indexOf('=')
      unescapePathName(seg.take(eq)) -> unescapePathName(seg.drop(eq + 1))
    }.toMap
    InternalRow.fromSeq(partitionBy.map { name =>
      val raw = byName.getOrElse(name,
        throw new IllegalStateException(s"manifest entry missing partition $name: $leafKey"))
      if (raw == HiveDefaultPartition) null
      else Cast(Literal(UTF8String.fromString(raw), StringType),
        schema(name).dataType, Option(zoneId)).eval(null)
    })
  }

  /** Stats-less convenience overload (tests, simple callers). */
  def datasetFor(
      spark: SparkSession,
      table: HPath,
      storedSchema: StructType,
      partitionBy: Seq[String],
      filesByLeaf: Seq[(String, Seq[FileStatus])]): DataFrame =
    datasetWithStatsFor(spark, table, storedSchema, partitionBy,
      filesByLeaf.map { case (k, fs) => k -> fs.map(st => (st, None: Option[FileStats])) })

  /** Build the scan DataFrame for a manifest-listed version: data
    * columns from the parquet files, partition columns (possibly none)
    * from the manifest's typed values. `files` carry the manifest's
    * recorded sizes and column bounds — no filesystem metadata calls
    * on the read path. With `bucketSpec` the scan is bucketed: Spark
    * reads each file's bucket id from its name, so a join or
    * aggregate on the bucket keys needs no Exchange.
    */
  def datasetWithStatsFor(
      spark: SparkSession,
      table: HPath,
      storedSchema: StructType,
      partitionBy: Seq[String],
      filesByLeaf: Seq[(String, Seq[(FileStatus, Option[FileStats])])],
      bucketSpec: Option[BucketSpec] = None): DataFrame = {
    def nullable(st: StructType): StructType =
      StructType(st.map(f => f.copy(nullable = true)))
    val partitionSchema = nullable(StructType(partitionBy.map(n => storedSchema(n))))
    val dataSchema = nullable(StructType(
      storedSchema.filterNot(f => partitionBy.contains(f.name))))
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val entries = filesByLeaf.map { case (leafKey, files) =>
      (partitionValuesOf(leafKey, partitionBy, storedSchema, zone), files)
    }
    val index = new ManifestFileIndex(table, partitionSchema, entries)
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema,
      bucketSpec, new ParquetFileFormat(), Map.empty[String, String])(spark)
    org.apache.spark.sql.graft.Bridge.ofRows(spark,
      LogicalRelation(relation, isStreaming = false))
  }
}
