package graft.exec

import scala.collection.mutable

import graft.core._
import graft.parser.Template

/** Node compiler: template SQL → executable Spark SQL (reference
  * Compiler.compile_node, core/dbt/compilation.py:541-573, plus the
  * ephemeral-CTE prepend, compilation.py:306-410).
  *
  * Refs resolve to session temp-view names (the store registers every
  * materialized relation as a view named by its identifier); ephemeral
  * refs are recursively prepended as CTEs `__cte__<name>` — Catalyst
  * inlines them, so this is free at execution time.
  */
final class Compiler(
    manifest: Manifest,
    vars: Map[String, String],
    /** microbatch event-time window to push into refs/sources
      * (reference resolve_event_time_filter, providers.py:238-257).
      */
    eventTimeFilter: Option[(java.time.Instant, java.time.Instant)] = None,
    /** --empty: refs compile to LIMIT 0 (reference providers.py:234). */
    empty: Boolean = false,
    /** defer: ref targets missing locally resolve into this store's
      * schema (reference RuntimeRefResolver, providers.py:529-647).
      */
    deferResolver: Option[String => Option[String]] = None,
    localExists: String => Boolean = _ => true,
    /** Schema-aware relation naming (node, identifier) → SQL name; when
      * set it REPLACES the localExists/deferResolver logic (the Runner
      * wires per-node-schema stores through it; reference
      * generate_schema_name, components.py:133).
      */
    relResolver: Option[(Node, String) => String] = None,
    /** Schema-aware `{{ this }}` name (never deferred). */
    thisNameOf: Option[Node => String] = None,
    /** Run-context substitutions ({{ run_started_at }} etc.). */
    templateContext: Map[String, String] = Map.empty) {

  final case class Compiled(sql: String, ctes: Seq[(String, String)]) {
    /** Full executable text with ephemeral CTEs prepended (reference
      * inject_ctes_into_sql, compilation.py:574-640).
      */
    def executable: String =
      if (ctes.isEmpty) sql
      else {
        val withList = ctes.map { case (n, s) => s"$n AS (\n$s\n)" }.mkString("WITH ", ",\n", "\n")
        withList + sql
      }
  }

  // ref specs may carry package/version punctuation (`pkg/m@v2`) —
  // flatten to a legal SQL identifier
  private def cteName(name: String): String = "__cte__" + name.replaceAll("\\W", "_")

  /** Wrap a resolved relation with event-time filter / empty limit. */
  private def wrap(relName: String, eventTime: Option[String]): String = {
    val filtered = (eventTimeFilter, eventTime) match {
      // string literals (not TIMESTAMP '...') so the analyzer coerces to
      // the column's type — works for TIMESTAMP and TIMESTAMP_NTZ alike
      case (Some((start, end)), Some(et)) =>
        s"(SELECT * FROM $relName WHERE $et >= '${Timestamps.sql(start)}' AND $et < '${Timestamps.sql(end)}')"
      case _ => relName
    }
    if (empty) s"(SELECT * FROM $filtered AS __e LIMIT 0)" else filtered
  }

  /** Compile a model/snapshot/test body. `isIncremental` controls
    * `{% if is_incremental() %}` block rendering (true only when the
    * node's target relation already exists and no full refresh).
    */
  def compile(node: Node, rawCode: String, isIncremental: Boolean = false): Compiled = {
    val ctes = mutable.LinkedHashMap[String, String]()

    def resolveRef(name: String): String = {
      val target = manifest.resolveRefSpec(name, callerPkg = Some(node.packageName)).getOrElse(
        throw new IllegalArgumentException(
          s"${node.uniqueId} depends on a node named '$name' which was not found"))
      target match {
        case m: ModelNode if m.config.materialized == Materialized.Ephemeral =>
          val cn = cteName(name)
          if (!ctes.contains(cn)) {
            val inner = compile(m, m.rawCode)
            inner.ctes.foreach { case (n, s) => if (!ctes.contains(n)) ctes(n) = s }
            ctes(cn) = inner.sql
          }
          cn
        case other =>
          val ident = other.config.alias.getOrElse(other.name)
          val resolved = relResolver match {
            case Some(f) => f(other, ident)
            case None =>
              if (localExists(ident)) ident
              else deferResolver.flatMap(_(ident)).getOrElse(ident)
          }
          wrap(resolved, other.config.eventTime)
      }
    }

    def resolveSource(src: String, table: String): String = {
      val s = manifest.resolveSource(src, table).getOrElse(
        throw new IllegalArgumentException(s"source not found: $src.$table"))
      wrap(Sources.viewName(s), s.config.eventTime)
    }

    val body = Template.render(rawCode, resolveRef, resolveSource, vars,
      thisRelation = Some(thisNameOf.fold(node.config.alias.getOrElse(node.name))(_(node))),
      isIncremental = isIncremental,
      context = templateContext)
    Compiled(body, ctes.toSeq)
  }
}

object Timestamps {
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def sql(i: java.time.Instant): String = fmt.format(i)
}

object Sources {
  /** Session view name a source registers under. */
  def viewName(s: SourceNode): String = s"src__${s.sourceName}__${s.name}"

  /** Register every declared source as a temp view over its location
    * (path template `{dir}` expands from vars, e.g. the test-data dir).
    *
    * `format: csv|json|orc|parquet` reads external files natively
    * (reference SourceDefinition.external — warehouse "external
    * tables"). When the source declares typed columns, they become an
    * explicit read schema: no inference pass (CSV/JSON inference is a
    * full extra scan of the data — at 100 TB that matters), and
    * malformed rows surface as nulls under the declared types instead
    * of silently widening the column. Parquet sources take their schema
    * from the [[graft.sources.Tables]] metadata memo, so a build or tick
    * runs no footer-inference job for an unchanged source.
    */
  def registerAll(
      spark: org.apache.spark.sql.SparkSession,
      manifest: Manifest,
      vars: Map[String, String]): Unit =
    manifest.sources.values.foreach { s =>
      val loc = vars.foldLeft(s.location) { case (acc, (k, v)) => acc.replace(s"{$k}", v) }
      val fmt = s.format.getOrElse {
        val ext = loc.drop(loc.lastIndexOf('.') + 1)
        if (Seq("csv", "json", "orc").contains(ext)) ext else "parquet"
      }
      val declared = s.columns.filter(_.dataType.nonEmpty)
      val reader0 = spark.read.options(s.options)
      val reader =
        if (declared.nonEmpty && declared.size == s.columns.size && fmt != "parquet")
          reader0.schema(org.apache.spark.sql.types.StructType.fromDDL(
            declared.map(c => s"${c.name} ${c.dataType.get}").mkString(", ")))
        else reader0
      val df0 =
        if (!loc.contains("/") && fmt == "parquet" && !loc.endsWith(".parquet"))
          spark.table(loc)
        else fmt match {
          case "csv" => reader.csv(loc)
          case "json" => reader.json(loc)
          case "orc" => reader.orc(loc)
          case _ => graft.sources.Tables.parquet(spark, loc, s.options)
        }
      val df = s.filter.fold(df0)(df0.filter)
      df.createOrReplaceTempView(viewName(s))
    }
}
