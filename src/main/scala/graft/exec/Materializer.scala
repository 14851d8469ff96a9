package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._

/** Materialization strategies (reference §2.1: dbt-adapters
  * materialization macros; contracts in core/dbt/artifacts/resources/v1/
  * config.py:78-129, snapshot.py:11-77).
  *
  * Built on the copy-on-write RelationStore, so every strategy is
  * "compute new table contents as a DataFrame, commit a new version".
  * When `partition_by` is configured, incremental strategies commit
  * PARTITION-SCOPED: only the partitions the batch touches are
  * recomputed and rewritten; untouched partition directories are linked
  * into the new version unchanged ([[RelationStore.writePartitions]]).
  * That makes an hourly microbatch O(window), not O(table) — the
  * lakehouse `replaceWhere` shape. Unpartitioned tables fall back to a
  * full rewrite per commit (the strategy layer is format-agnostic by
  * design, the reference's adapter.dispatch seam, providers.py:119-170).
  */
final class Materializer(spark: SparkSession, store: RelationStore) {

  def relName(node: Node): String = node.config.alias.getOrElse(node.name)

  private val schemaStores = scala.collection.mutable.Map[String, RelationStore]()

  /** Store for a node's configured `schema:` (reference
    * generate_schema_name semantics, components.py:133: default custom
    * schema lands in `<target_schema>_<custom_schema>`). Non-default
    * stores qualify their session views so two same-named models in
    * different schemas address distinctly.
    */
  def storeFor(node: Node): RelationStore =
    node.config.schema.fold(store)(storeForSchema)

  def storeForSchema(customSchema: String): RelationStore = schemaStores.synchronized {
    schemaStores.getOrElseUpdate(customSchema,
      new RelationStore(spark, store.root, s"${store.schema}_$customSchema",
        qualifyViews = true, retainVersions = store.retainVersions))
  }

  /** The node's SQL-addressable relation name (schema-qualified alias). */
  def sqlName(node: Node): String = storeFor(node).sqlName(relName(node))

  /** CREATE OR REPLACE VIEW (default materialization). */
  def view(node: Node, sql: String): Unit =
    storeFor(node).writeView(relName(node), sql)

  /** Contract enforcement (reference components.py:82 Contract +
    * config.py:125-149): when enforced, the produced schema must match
    * the declared columns exactly — names and (where declared) types.
    */
  def enforceContract(node: Node, df: DataFrame): Unit = node match {
    case m: ModelNode if m.config.contractEnforced && m.columns.nonEmpty =>
      val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val declared = m.columns.map(_.name)
      val missing = declared.filterNot(actual.contains)
      val extra = df.schema.fieldNames.filterNot(declared.contains)
      val typeErrs = m.columns.flatMap { c =>
        c.dataType.flatMap { ddl =>
          val want = org.apache.spark.sql.types.DataType.fromDDL(ddl)
          actual.get(c.name).filterNot(got =>
            got.simpleString.replace("not null", "").trim ==
              want.simpleString.replace("not null", "").trim)
            .map(got => s"${c.name}: declared ${want.simpleString}, got ${got.simpleString}")
        }
      }
      if (missing.nonEmpty || extra.nonEmpty || typeErrs.nonEmpty)
        throw new IllegalStateException(
          s"contract violation for ${m.name}: " +
            (if (missing.nonEmpty) s"missing=$missing " else "") +
            (if (extra.nonEmpty) s"undeclared=${extra.toSeq} " else "") +
            typeErrs.mkString("; "))
    case _ => ()
  }

  private def constraintChecks(m: ModelNode): Seq[(String, String)] =
    if (!m.config.contractEnforced) Nil
    else m.columns.flatMap { c =>
      c.constraints.collect {
        case ("not_null", _) =>
          s"${c.name} not_null" -> s"count_if(${c.name} IS NULL)"
        case ("check", Some(expr)) =>
          s"${c.name} check($expr)" -> s"count_if(NOT ($expr))"
      }
    }

  /** Enforced column constraints (reference ColumnLevelConstraint,
    * components.py:39; adapter support matrix: not_null and check are
    * ENFORCED, unique/primary_key/foreign_key are metadata-only on
    * most warehouses — same here). All declared constraints are
    * evaluated in ONE aggregate pass (count_if per violation) over
    * `data` — for table materializations that is the WRITTEN parquet
    * (a column-pruned scan pre-commit, not a recompute of the model);
    * for incremental paths it is the already-cached batch.
    */
  private def validateConstraints(m: ModelNode, data: DataFrame): Unit = {
    val checks = constraintChecks(m)
    if (checks.nonEmpty) {
      val row = data.selectExpr(checks.map(_._2): _*).head()
      val bad = checks.zipWithIndex.collect {
        case ((label, _), i) if row.getLong(i) > 0 => s"$label (${row.getLong(i)} rows)"
      }
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"constraint violation for ${m.name}: ${bad.mkString(", ")}")
    }
  }

  /** Staged-validation hook for [[RelationStore.write]]. */
  private def constraintValidator(node: Node): Option[DataFrame => Unit] = node match {
    case m: ModelNode if constraintChecks(m).nonEmpty =>
      Some((written: DataFrame) => validateConstraints(m, written))
    case _ => None
  }

  /** Full rebuild (CTAS + atomic version swap). `bucket_by`+`buckets`
    * lays the table out bucketed (clustered) so downstream joins on the
    * bucket key are shuffle-free — see RelationStore.writeBucketed.
    * Either way the constraint pass runs over the staged files before
    * the commit.
    */
  def table(node: Node, df: DataFrame): Unit = {
    enforceContract(node, df)
    val validate = constraintValidator(node)
    if (node.config.bucketBy.nonEmpty && node.config.buckets > 0)
      storeFor(node).writeBucketed(df, relName(node), node.config.bucketBy,
        node.config.buckets, validate)
    else storeFor(node).write(df, relName(node), node.config.partitionBy, validate = validate)
  }

  /** materialized_view (reference §2.1 + on_configuration_change,
    * config.py): a table snapshot plus its RECORDED definition. Spark
    * has no native MV, so every run refreshes by re-executing the
    * stored definition — the contract a warehouse scheduler provides.
    * Redefinition follows on_configuration_change: apply (recreate,
    * default), continue (keep the existing definition, still refresh),
    * fail (error). Returns the status message for the run result.
    */
  def materializedView(
      node: Node, sql: String, run: String => DataFrame,
      fullRefresh: Boolean = false): String = {
    val st = storeFor(node)
    val name = relName(node)
    val prior = st.mvDefinition(name)
    val changed = prior.exists(_ != sql)
    // contract applies like any table-producing materialization, and the
    // definition is persisted only AFTER the refresh succeeds — a broken
    // redefinition must not be recorded over a working one
    def build(defSql: String): Unit = {
      val df = run(defSql)
      enforceContract(node, df)
      st.write(df, name, node.config.partitionBy, validate = constraintValidator(node))
      st.writeMvDefinition(name, defSql)
    }
    if (fullRefresh) {
      // --full-refresh replaces the MV regardless of
      // on_configuration_change (the reference's recovery path)
      build(sql)
      "RECREATE MATERIALIZED VIEW (full refresh)"
    } else (changed, node.config.onConfigurationChange) match {
      case (true, "fail") =>
        throw new IllegalStateException(
          s"materialized view ${node.name}: definition changed (on_configuration_change=fail)")
      case (true, "continue") =>
        build(prior.get)
        "REFRESH MATERIALIZED VIEW (definition change ignored: continue)"
      case (true, "apply") =>
        build(sql)
        "RECREATE MATERIALIZED VIEW"
      case (true, other) =>
        throw new IllegalArgumentException(s"unknown on_configuration_change: $other")
      case (false, _) =>
        build(sql)
        if (prior.isEmpty) "CREATE MATERIALIZED VIEW" else "REFRESH MATERIALIZED VIEW"
    }
  }

  /** Incremental dispatch (reference config.py:82 incremental_strategy;
    * microbatch handled by the Runner's batch loop calling
    * [[insertOverwriteWindow]] per batch).
    */
  def incremental(node: Node, df: DataFrame, fullRefresh: Boolean): Unit = {
    val name = relName(node)
    enforceContract(node, df)
    if (fullRefresh || !storeFor(node).exists(name)) { table(node, df); return }
    // the batch feeds several consumers (touched-partition discovery,
    // key extraction, the final write) — without a cache the model's
    // full SQL would recompute 2-3x per commit
    val cached = df.cache()
    try {
      node match { case m: ModelNode => validateConstraints(m, cached); case _ => () }
      val strategy = node.config.incrementalStrategy.getOrElse("append")
      strategy match {
        case "append" => append(node, cached)
        case "merge" => merge(node, cached)
        case "delete+insert" => deleteInsert(node, cached)
        case "insert_overwrite" => insertOverwrite(node, cached)
        case other => throw new IllegalArgumentException(s"unknown incremental_strategy: $other")
      }
    } finally df.unpersist()
  }

  /** Align new rows to the target schema per on_schema_change
    * (reference config.py:106 on_schema_change; values ignore /
    * append_new_columns / sync_all_columns / fail).
    */
  private def align(node: Node, target: DataFrame, src: DataFrame): (DataFrame, DataFrame) = {
    val tCols = target.columns.toSeq
    val sCols = src.columns.toSeq
    if (tCols == sCols) return (target, src)
    node.config.onSchemaChange match {
      case "fail" =>
        throw new IllegalStateException(
          s"schema changed for ${node.name}: target=$tCols source=$sCols (on_schema_change=fail)")
      case "ignore" =>
        // keep target schema; drop new cols, null-fill missing
        val s2 = src.select(tCols.map(c =>
          if (sCols.contains(c)) col(c) else lit(null).as(c)): _*)
        (target, s2)
      case "append_new_columns" =>
        val merged = tCols ++ sCols.filterNot(tCols.contains)
        val t2 = target.select(merged.map(c =>
          if (tCols.contains(c)) col(c) else lit(null).as(c)): _*)
        val s2 = src.select(merged.map(c =>
          if (sCols.contains(c)) col(c) else lit(null).as(c)): _*)
        (t2, s2)
      case "sync_all_columns" =>
        // adopt the source schema entirely (add + remove)
        val t2 = target.select(sCols.map(c =>
          if (tCols.contains(c)) col(c) else lit(null).as(c)): _*)
        (t2, src)
      case other => throw new IllegalArgumentException(s"unknown on_schema_change: $other")
    }
  }

  /** Partition-scoped commit when possible: `touched` is the full
    * replacement content of only the partitions the batch touches;
    * `full` the whole-table content. Partitioned + schema-stable →
    * commit only the touched partitions (untouched dirs are linked);
    * otherwise (unpartitioned table, or on_schema_change rewrote the
    * target schema) → full rewrite, which a schema change forces anyway.
    */
  private def commitIncremental(
      node: Node, name: String,
      touched: => (Array[org.apache.spark.sql.Row], DataFrame),
      full: => DataFrame): Unit = {
    val st = storeFor(node)
    val parts = node.config.partitionBy
    // partition-scoped only when the existing layout IS partitioned —
    // a table that predates a partition_by config change has no
    // partition dirs to link and must be re-laid-out by a full write
    if (parts.nonEmpty && st.isPartitionedLayout(name)) {
      val (pv, t) = touched
      if (st.schemaMatches(name, t.schema)) {
        st.writePartitions(t, name, parts, Some(pv)); return
      }
    }
    st.write(full, name, parts)
  }

  /** Distinct partition-value tuples of `df` — batch-scale METADATA (a
    * batch touches few partitions by construction), collected to build a
    * literal partition predicate exactly like a `replaceWhere` commit.
    * The literal predicate statically prunes the target scan, which a
    * join-based formulation wouldn't (and a target-derived join side
    * trips Spark's self-join attribute dedup into keeping everything).
    */
  private def partitionValues(df: DataFrame, parts: Seq[String]): Array[org.apache.spark.sql.Row] =
    df.select(parts.map(col): _*).distinct().collect()

  private def inPartitions(parts: Seq[String], vals: Array[org.apache.spark.sql.Row]): Column =
    if (vals.isEmpty) lit(false)
    else vals.toSeq.map(r =>
      parts.zipWithIndex.map { case (p, i) => col(p) <=> lit(r.get(i)) }.reduce(_ && _)
    ).reduce(_ || _)

  /** incremental/append: union new rows in. Partitioned: only the
    * partitions receiving rows are rewritten (their old rows ∪ batch).
    */
  def append(node: Node, df: DataFrame): Unit = {
    val name = relName(node)
    val parts = node.config.partitionBy
    val (target, src) = align(node, storeFor(node).read(name), df)
    commitIncremental(node, name,
      touched = {
        val pv = partitionValues(src, parts)
        (pv, target.filter(inPartitions(parts, pv)).unionByName(src))
      },
      full = target.unionByName(src))
  }

  private def keyCols(node: Node): Seq[String] = {
    val ks = node.config.uniqueKey
    if (ks.isEmpty)
      throw new IllegalArgumentException(s"${node.name}: strategy requires unique_key")
    ks
  }

  /** incremental/merge: upsert on unique_key — rows in the target whose
    * key appears in the source are replaced (WHEN MATCHED UPDATE SET *),
    * new keys inserted. Anti-join + union ≡ MERGE with update-all.
    */
  def merge(node: Node, df: DataFrame): Unit = {
    val name = relName(node)
    val ks = keyCols(node)
    val parts = node.config.partitionBy
    val (target, src) = align(node, storeFor(node).read(name), df)
    val srcKeys = src.select(ks.map(col): _*).distinct()
    // incremental_predicates (reference config.py): only target rows
    // matching every predicate are update-eligible — rows outside stay
    // untouched even when their key appears in the batch, and at scale
    // the predicate bounds the MERGE's target scan (e.g. a recency
    // window). null predicate values count as non-matching.
    val pred: Option[Column] = node.config.incrementalPredicates
      .map(p => coalesce(expr(p), lit(false))).reduceOption(_ && _)
    def updatable(t: DataFrame): DataFrame = pred.fold(t)(t.filter)
    def frozen(t: DataFrame): DataFrame =
      pred.fold(t.limit(0))(p => t.filter(!p))
    commitIncremental(node, name,
      touched = {
        // a merge must rewrite (a) partitions receiving new rows and
        // (b) partitions holding an update-eligible row whose key is in
        // the batch — the key may have moved partitions. Both sets are
        // batch-sized.
        val pv = (partitionValues(src, parts) ++
          partitionValues(updatable(target).join(srcKeys, ks, "left_semi"), parts)).distinct
        val tt = target.filter(inPartitions(parts, pv))
        (pv, updatable(tt).join(srcKeys, ks, "left_anti")
          .unionByName(frozen(tt))
          .unionByName(src))
      },
      full = updatable(target).join(srcKeys, ks, "left_anti")
        .unionByName(frozen(target))
        .unionByName(src))
  }

  /** incremental/delete+insert: same terminal state as merge for
    * whole-row sources; kept separate to mirror the reference contract.
    */
  def deleteInsert(node: Node, df: DataFrame): Unit = merge(node, df)

  /** incremental/insert_overwrite: replace exactly the partitions
    * present in the source (dynamic partition overwrite semantics).
    */
  def insertOverwrite(node: Node, df: DataFrame): Unit = {
    val name = relName(node)
    val parts = node.config.partitionBy
    if (parts.isEmpty)
      throw new IllegalArgumentException(s"${node.name}: insert_overwrite requires partition_by")
    val (target, src) = align(node, storeFor(node).read(name), df)
    // dynamic partition overwrite: the batch IS the replacement content
    // of exactly the partitions it covers — nothing else is read
    commitIncremental(node, name,
      touched = (partitionValues(src, parts), src),
      full = target.join(src.select(parts.map(col): _*).distinct(), parts, "left_anti")
        .unionByName(src))
  }

  /** Microbatch per-batch write: overwrite the [start, end) event-time
    * window with the batch's rows (the Spark analogue of a
    * `replaceWhere` write; reference run.py:483-563 batch loop).
    */
  def insertOverwriteWindow(
      node: Node,
      df: DataFrame,
      eventTime: String,
      start: java.time.Instant,
      end: java.time.Instant): Unit = {
    val name = relName(node)
    val parts = node.config.partitionBy
    val st = storeFor(node)
    if (!st.exists(name)) { st.write(df, name, parts); return }
    // the batch window feeds partition discovery + the final write
    val cached = df.cache()
    try insertOverwriteWindow0(node, cached, eventTime, start, end, name, parts, st)
    finally df.unpersist()
  }

  private def insertOverwriteWindow0(
      node: Node, df: DataFrame, eventTime: String,
      start: java.time.Instant, end: java.time.Instant,
      name: String, parts: Seq[String], st: RelationStore): Unit = {
    val (target, src) = align(node, st.read(name), df)
    // plain string literals: analyzer coerces to the event-time column's
    // type (TIMESTAMP or TIMESTAMP_NTZ)
    val s = lit(Timestamps.sql(start))
    val e = lit(Timestamps.sql(end))
    val inWindow = col(eventTime) >= s && col(eventTime) < e
    commitIncremental(node, name,
      touched = {
        // partitions holding window rows (to be cleared) ∪ partitions
        // receiving batch rows; inside them keep out-of-window old rows
        val pv = (partitionValues(target.filter(inWindow), parts) ++
          partitionValues(src, parts)).distinct
        (pv, target.filter(inPartitions(parts, pv))
          .filter(!inWindow)
          .unionByName(src))
      },
      full = target.filter(!inWindow).unionByName(src))
  }

  // ---- snapshots (SCD-2; reference snapshot.py:11-77 + task/snapshot.py) ----

  val ValidFrom = "dbt_valid_from"
  val ValidTo = "dbt_valid_to"
  val ScdId = "dbt_scd_id"
  val UpdatedAt = "dbt_updated_at"

  /** Snapshot a source query result. `strategy` = timestamp (compare
    * updated_at) or check (compare check_cols / all columns).
    */
  def snapshot(node: Node, df: DataFrame, now: java.time.Instant): Unit = {
    val name = relName(node)
    val ks = keyCols(node)
    val strategy = node.config.strategy.getOrElse("timestamp")
    val nowTs = lit(Timestamps.sql(now)).cast("timestamp")
    // reference snapshot.py:31: renamed meta columns + the
    // dbt_valid_to_current sentinel ("open rows carry 9999-12-31, not
    // NULL" — BI tools can BETWEEN-filter without IFNULL)
    val mn = node.config.snapshotMetaColumnNames
    val vFrom = mn.getOrElse("dbt_valid_from", ValidFrom)
    val vTo = mn.getOrElse("dbt_valid_to", ValidTo)
    val cScdId = mn.getOrElse("dbt_scd_id", ScdId)
    val cUpdAt = mn.getOrElse("dbt_updated_at", UpdatedAt)
    val metaCols = Seq(vFrom, vTo, cScdId, cUpdAt)
    require(metaCols.distinct.size == 4,
      s"${node.name}: snapshot meta column names must be distinct, got $metaCols")
    val clash = metaCols.filter(df.columns.contains)
    require(clash.isEmpty,
      s"${node.name}: snapshot meta column name(s) ${clash.mkString(", ")} collide with source columns")
    // parse eagerly: lit(bad).cast("timestamp") would silently become
    // NULL and quietly revert every open row to NULL semantics
    val sentinel: Option[Column] = node.config.dbtValidToCurrent.map { v =>
      lit(Timestamps.sql(graft.parser.ProjectLoader.parseInstant(v))).cast("timestamp")
    }
    val openValidTo: Column = sentinel.getOrElse(lit(null).cast("timestamp"))

    val updatedCol: Column = strategy match {
      case "timestamp" =>
        val ua = node.config.updatedAt.getOrElse(
          throw new IllegalArgumentException(s"${node.name}: timestamp strategy requires updated_at"))
        col(ua).cast("timestamp")
      case "check" => nowTs
      case other => throw new IllegalArgumentException(s"unknown snapshot strategy: $other")
    }

    def withMeta(src: DataFrame): DataFrame = {
      val scd = md5(concat_ws("|", (ks.map(col) :+ updatedCol.cast("string")): _*))
      src
        .withColumn(cScdId, scd)
        .withColumn(cUpdAt, updatedCol)
        .withColumn(vFrom, updatedCol)
        .withColumn(vTo, openValidTo)
    }

    val st = storeFor(node)
    if (!st.exists(name)) { st.write(withMeta(df), name, node.config.partitionBy); return }

    val target = st.read(name)
    val isOpen = sentinel
      .map(sn => col(vTo).isNull || col(vTo) === sn)
      .getOrElse(col(vTo).isNull)
    val open = target.filter(isOpen)
    val closed = target.filter(!isOpen)
    val srcCols = df.columns.toSeq

    // pair open rows with their source row by key
    val joined = open.alias("t").join(df.alias("s"), ks, "full_outer")

    val changeCond: Column = strategy match {
      case "timestamp" =>
        val ua = node.config.updatedAt.get
        col(s"s.$ua").cast("timestamp") > col(s"t.$cUpdAt")
      case "check" =>
        val cols = node.config.checkCols.getOrElse(srcCols.filterNot(ks.contains))
        cols.map(c => !(col(s"s.$c") <=> col(s"t.$c"))).reduce(_ || _)
    }

    val inSource = ks.map(k => col(s"s.$k").isNotNull).reduce(_ && _)
    val inTarget = col(s"t.$cScdId").isNotNull

    // 1. unchanged open rows stay open
    val unchanged = joined.filter(inTarget && inSource && !changeCond)
      .select(open.columns.map(c => col(s"t.$c").as(c)): _*)
    // 2. changed: close old row at the new row's valid_from
    val newValidFrom: Column = strategy match {
      case "timestamp" => col(s"s.${node.config.updatedAt.get}").cast("timestamp")
      case "check" => nowTs
    }
    val closedNow = joined.filter(inTarget && inSource && changeCond)
      .select(open.columns.map(c =>
        (if (c == vTo) newValidFrom else col(s"t.$c")).as(c)): _*)
    // 3. changed + brand-new keys: insert fresh open rows
    val inserts = withMeta(
      joined.filter(inSource && (!inTarget || changeCond))
        .select(srcCols.map(c => col(s"s.$c").as(c)): _*))
    // 4. hard deletes: open rows whose key vanished from the source
    val vanished = joined.filter(inTarget && !inSource)
      .select(open.columns.map(c =>
        (if (c == vTo && node.config.invalidateHardDeletes) nowTs else col(s"t.$c")).as(c)): _*)

    val next = closed
      .unionByName(unchanged)
      .unionByName(closedNow)
      .unionByName(inserts)
      .unionByName(vanished)
    st.write(next, name, node.config.partitionBy)
  }

  /** Seed: CSV → table with optional declared column types (reference
    * core/dbt/task/seed.py + seed config seed.py:15-18).
    */
  def seed(node: SeedNode): Unit = {
    var reader = spark.read
      .option("header", "true")
      .option("sep", node.delimiter)
      .option("inferSchema", node.columnTypes.isEmpty)
    val df0 = reader.csv(node.csvPath)
    val df =
      if (node.columnTypes.isEmpty) df0
      else df0.select(df0.columns.map(c =>
        node.columnTypes.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))): _*)
    storeFor(node).write(df, relName(node))
  }
}
