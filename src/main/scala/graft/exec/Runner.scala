package graft.exec

import java.time.Instant
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.artifacts.{Artifacts, RunResult}
import graft.core._
import graft.graph.{Digraph, GraphQueue, Linker, Selector}
import graft.parser.{ProjectLoader, Template}

/** reference dbt_common WarnErrorOptions (cli/option_types.py:46):
  * include/exclude/silence lists of warning-kind names; "all" or "*"
  * in include matches every kind.
  */
final case class WarnErrorOptions(
    include: Seq[String] = Nil,
    exclude: Seq[String] = Nil,
    silence: Seq[String] = Nil) {
  private def allIncluded = include.exists(i => i == "all" || i == "*")
  def silenced(kind: String): Boolean = silence.contains(kind)
  def escalates(kind: String): Boolean =
    !silenced(kind) && !exclude.contains(kind) &&
      (allIncluded || include.contains(kind))
}

object WarnErrorOptions {
  /** Parse the CLI's JSON/YAML-flow form:
    * `{"include": ["TestWarn"], "exclude": [...], "silence": [...]}`.
    */
  def parse(s: String): WarnErrorOptions = {
    def names(v: Any): Seq[String] = v match {
      case l: Seq[Any @unchecked] => l.map(_.toString)
      case other => Seq(other.toString)
    }
    graft.artifacts.Json.parse(s) match {
      case m: Map[String @unchecked, Any @unchecked] => WarnErrorOptions(
        include = m.get("include").map(names).getOrElse(Nil),
        exclude = m.get("exclude").map(names).getOrElse(Nil),
        silence = m.get("silence").map(names).getOrElse(Nil))
      case other => throw new IllegalArgumentException(
        s"--warn-error-options must be a JSON object, got: $other")
    }
  }
}

final case class RunOptions(
    cmd: String, // run | test | build | seed | snapshot | unit-test
    select: Seq[String] = Nil,
    exclude: Seq[String] = Nil,
    threads: Int = 4,
    fullRefresh: Boolean = false,
    empty: Boolean = false,
    vars: Map[String, String] = Map.empty,
    targetDir: String = "target",
    stateManifest: Option[graft.graph.StateView] = None,
    deferStore: Option[RelationStore] = None,
    eventTimeStart: Option[Instant] = None,
    eventTimeEnd: Option[Instant] = None,
    /** Stop scheduling new nodes after the first failure (reference
      * --fail-fast); in-flight nodes finish. */
    failFast: Boolean = false,
    /** Promote warn statuses to errors (reference --warn-error). */
    warnError: Boolean = false,
    /** Granular refinement (reference --warn-error-options, dbt_common
      * WarnErrorOptions): escalate only the `include`d warning kinds
      * ("all"/"*" = everything), never the `exclude`d ones, and
      * suppress `silence`d warnings entirely (status becomes pass).
      * Takes precedence over the blanket [[warnError]] when present.
      * Engine warning kinds: TestWarn (warn-severity data tests),
      * SourceFreshnessWarn (warn_after threshold).
      */
    warnErrorOptions: Option[WarnErrorOptions] = None,
    indirectSelection: String = "eager",
    previousStatuses: Map[String, String] = Map.empty,
    /** microbatch retry: node id → exact batch ids to (re)process,
      * overriding checkpoint-based window computation
      * (reference run.py:494-508 failed-batch rerun).
      */
    retryBatches: Map[String, Seq[String]] = Map.empty,
    /** `source_status:fresher` inputs (uniqueIds whose max_loaded_at
      * advanced vs the state artifacts; Artifacts.fresherSources).
      */
    fresherSources: Set[String] = Set.empty,
    now: Instant = Instant.now())

/** The execution core (reference GraphRunnableTask, core/dbt/task/
  * runnable.py:168-443 + ModelRunner run.py:441; scheduling queue.py).
  *
  * A pool of driver threads pulls ready nodes off the GraphQueue and
  * submits Spark jobs — Spark's scheduler interleaves their stages, so
  * DAG-level parallelism multiplies executor utilization exactly like
  * the reference's thread-per-connection model (FAIR pools optional).
  */
final class Runner(
    spark: SparkSession,
    project: ProjectLoader.Project,
    store: RelationStore,
    opts: RunOptions) {

  private val manifest = project.manifest
  private val vars = project.vars ++ opts.vars
  private val materializer = new Materializer(spark, store)
  private val auditStore = new RelationStore(spark, store.root, "dbt_test__audit")
  val invocationId: String = java.util.UUID.randomUUID().toString
  private val events = new EventLog(opts.targetDir, invocationId)

  /** Audit-column substitutions (reference base.py:590/:618). */
  private val runContext: Map[String, String] = Map(
    "run_started_at" -> Timestamps.sql(opts.now),
    "invocation_id" -> invocationId)

  private def compiler(
      eventWindow: Option[(Instant, Instant)] = None,
      withContext: Boolean = true) = new Compiler(
    manifest, vars,
    eventTimeFilter = eventWindow,
    empty = opts.empty,
    // per-node schema: resolve into the node's schema store. Defer
    // (reference RuntimeRefResolver, providers.py:529-647): a ref whose
    // relation is missing locally resolves to the defer warehouse's
    // matching schema namespace, addressed by storage (path for tables,
    // inline subquery for views) — it lives in another store, so
    // session views won't do
    relResolver = Some { (n: Node, ident: String) =>
      val st = materializer.storeFor(n)
      if (st.exists(ident)) st.sqlName(ident)
      else opts.deferStore.flatMap { d =>
        val ds = if (n.config.schema.isEmpty) d
          else new RelationStore(spark, d.root, st.schema, st.qualifyViews)
        ds.addressable(ident)
      }.getOrElse(st.sqlName(ident))
    },
    thisNameOf = Some((n: Node) => materializer.sqlName(n)),
    // audit-column context (reference base.py:590 run_started_at /
    // :618 invocation_id): users quote these in SQL themselves
    templateContext = if (withContext) runContext else Map.empty)

  lazy val graph: Digraph = {
    val g = Linker.link(manifest)
    if (opts.cmd == "build") Linker.addTestEdges(g, manifest) else g
  }

  /** Which node types each command executes (reference task classes:
    * run.py, seed.py, snapshot.py, test.py, build.py).
    */
  private def typesFor(cmd: String): Set[NodeType] = cmd match {
    case "run" => Set(NodeType.Model)
    case "seed" => Set(NodeType.Seed)
    case "snapshot" => Set(NodeType.Snapshot)
    case "test" => Set(NodeType.Test, NodeType.UnitTest)
    case "build" => Set(NodeType.Model, NodeType.Seed, NodeType.Snapshot, NodeType.Test, NodeType.UnitTest)
    case other => throw new IllegalArgumentException(s"unknown command: $other")
  }

  def selectedIds(): Set[String] = {
    val base = Selector.select(manifest, graph, opts.select, opts.exclude,
      opts.stateManifest, opts.previousStatuses, opts.indirectSelection,
      opts.fresherSources)
    base.filter(id => manifest.get(id).exists(n =>
      typesFor(opts.cmd).contains(n.resourceType) && n.config.enabled))
  }

  def execute(): Seq[RunResult] = {
    val t0 = System.nanoTime()
    events.mainReportVersion(opts.cmd)
    Sources.registerAll(spark, manifest, vars)
    store.attach()
    // custom-schema namespaces re-attach too (fresh-session refs)
    manifest.nodes.values.flatMap(_.config.schema).toSet
      .foreach((cs: String) => materializer.storeForSchema(cs).attach())
    val selected = selectedIds()
    val results = new ConcurrentLinkedQueue[RunResult]()

    // a failing on-run-start hook is an error result; under
    // skip_nodes_if_on_run_start_fails (ProjectFlags, runnable.py:517)
    // it additionally short-circuits every selected node to "skipped",
    // otherwise the nodes still execute
    val startResults = safeRunHooks(manifest.onRunStart)
    startResults.foreach(results.add)
    val skipAll = startResults.nonEmpty && manifest.flag("skip_nodes_if_on_run_start_fails")
    if (skipAll)
      selected.toSeq.sorted.foreach { id =>
        events.nodeFinished(RunResult(id, "skipped", 0.0, "on-run-start hook failed"))
        results.add(RunResult(id, "skipped", 0.0, "on-run-start hook failed"))
      }

    val queue = new GraphQueue(graph, if (skipAll) Set.empty else selected)
    val pool = Executors.newFixedThreadPool(opts.threads)
    val latch = new CountDownLatch(opts.threads)
    (1 to opts.threads).foreach { workerId =>
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            // one FAIR pool per worker: concurrent DAG nodes share the
            // cluster fairly (reference: per-thread connections,
            // runnable.py:403; Spark analogue is scheduler pools)
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-$workerId")
            var next = queue.awaitReady()
            while (next.isDefined) {
              val id = next.get
              events.nodeStart(id)
              val r0 = runNode(id)
              // --warn-error / --warn-error-options (reference flags.py
              // WARN_ERROR + WarnErrorOptions): a warning is promoted
              // to a real failure (skipping descendants), excluded, or
              // silenced — per warning kind when options are given
              val r = if (r0.status == "warn") applyWarnPolicy(r0, warnKindOf(id)) else r0
              events.nodeFinished(r)
              results.add(r)
              if (r.status == "error" || r.status == "fail") {
                val skipped = queue.markFailed(id)
                skipped.foreach(s => results.add(RunResult(s, "skipped", 0.0,
                  s"depends on failed $id")))
                if (opts.failFast)
                  queue.abort().foreach(s => results.add(RunResult(s, "skipped", 0.0,
                    s"fail-fast: aborted after $id failed")))
              } else queue.markDone(id)
              next = queue.awaitReady()
            }
          } finally latch.countDown()
        }
      })
    }
    latch.await(24, TimeUnit.HOURS)
    pool.shutdown()

    safeRunHooks(manifest.onRunEnd).foreach(results.add)

    val elapsed = (System.nanoTime() - t0) / 1e9
    val out = results.toArray(Array.empty[RunResult]).toSeq
    Artifacts.writeRunResults(opts.targetDir, out, elapsed, invocationId)
    Artifacts.writeManifest(opts.targetDir, manifest)
    events.commandCompleted(opts.cmd,
      !out.exists(r => Set("error", "fail").contains(r.status)), elapsed)
    out
  }

  /** Run project hooks in order (reference safe_run_hooks, run.py:605-716).
    * A failing hook is recorded as an error result, never a crash out
    * of the task, and every hook after it is recorded as skipped without
    * running: a side-effecting hook must not run after its predecessor
    * failed. Returns the error and skipped results (empty ⇒ all passed).
    */
  private def safeRunHooks(hooks: Seq[HookNode]): Seq[RunResult] = {
    var failed = false
    hooks.flatMap { h =>
      if (failed) Some(RunResult(h.uniqueId, "skipped", 0.0, "previous hook failed"))
      else try { spark.sql(renderHook(h.rawCode)); None }
      catch {
        case e: Exception =>
          failed = true
          Some(RunResult(h.uniqueId, "error", 0.0, Option(e.getMessage).getOrElse("").take(300)))
      }
    }
  }

  private def warnKindOf(id: String): String = manifest.get(id) match {
    case Some(_: TestNode) => "TestWarn"
    case _ => "NodeWarn"
  }

  /** Escalate / pass-through / silence one warn-status result. The
    * granular options take precedence over the blanket --warn-error;
    * with neither, the warning stands.
    */
  private def applyWarnPolicy(r: RunResult, kind: String): RunResult =
    opts.warnErrorOptions match {
      case Some(weo) if weo.silenced(kind) =>
        r.copy(status = "pass", message = s"warn silenced ($kind): ${r.message}")
      case Some(weo) if weo.escalates(kind) =>
        r.copy(status = "error", message = s"warn escalated ($kind): ${r.message}")
      case Some(_) => r
      case None if opts.warnError =>
        r.copy(status = "error", message = s"warn escalated: ${r.message}")
      case None => r
    }

  private def renderHook(sql: String): String =
    Template.render(sql,
      r => manifest.resolveRef(r).map(materializer.sqlName).getOrElse(r),
      (s, t) => manifest.resolveSource(s, t).map(Sources.viewName).getOrElse(s"$s.$t"),
      vars, context = runContext)

  /** The audit header per node (reference query_comment,
    * config/project.py:205): a custom project `query-comment` (with
    * `{{ node_id }}` / `{{ invocation_id }}` interpolation) or the
    * default `graft|<cmd>|<invocation_id>|<node_id>`.
    */
  private def queryCommentFor(id: String): String =
    project.queryComment match {
      case Some(tpl) =>
        Template.substitute(tpl, Map("node_id" -> id, "invocation_id" -> invocationId))
      case None => s"graft|${opts.cmd}|$invocationId|$id"
    }

  def runNode(id: String): RunResult = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val node = manifest.get(id).get
    // per-node Spark job attribution (query_comment analogue): every
    // job this node submits carries the node's unique_id as its job
    // group and the rendered comment as its description — the Spark UI
    // / event log shows exactly which model each job belongs to, and a
    // stuck node's jobs are cancelable by group. Thread-local, so
    // concurrent workers don't clobber each other.
    spark.sparkContext.setJobGroup(id, queryCommentFor(id), interruptOnCancel = false)
    // per-node skipping effectiveness (files/bytes considered vs
    // opened): planning events are bucketed by the job group set above,
    // so the numbers are EXACT under concurrent workers — a competitor
    // node's planning lands in its own bucket, a DPP-refined scan's
    // re-plan collapses to the refined set, and two distinct scans of
    // one table (a self-join) both count ([[ManifestFileIndex.record]]).
    graft.exec.ManifestFileIndex.resetGroup(id)
    def scanStats(): Map[String, Long] =
      graft.exec.ManifestFileIndex.takeGroupStats(id)
    try {
      val r = node match {
        case m: ModelNode => runModel(m)
        case s: SeedNode =>
          hooksAround(s)(materializer.seed(s)); RunResult(id, "success", elapsed, "SEED")
        case s: SnapshotNode => runSnapshot(s)
        case t: TestNode => runTest(t)
        case u: UnitTestNode => runUnitTest(u)
        case other => RunResult(id, "success", elapsed, s"noop ${other.resourceType.name}")
      }
      r.copy(adapterResponse = r.adapterResponse ++ scanStats())
    } catch {
      case e: Exception =>
        RunResult(id, "error", elapsed, Option(e.getMessage).getOrElse(e.toString).take(500))
    } finally {
      spark.sparkContext.clearJobGroup()
      // error paths never drained the group — drop it (no-op after a
      // successful drain) so failed nodes don't leak attribution state
      graft.exec.ManifestFileIndex.takeGroupStats(id)
    }
  }

  private def hooksAround[A](node: Node)(body: => A): A = {
    node.config.preHook.foreach(h => spark.sql(renderHook(h)))
    val r = body
    node.config.postHook.foreach(h => spark.sql(renderHook(h)))
    // grants apply AFTER the relation exists, full desired state each
    // run — UNCONDITIONALLY, so removing the config revokes recorded
    // privileges (reference: standardize_grants_dict + apply_grants
    // diff; in a single-engine deployment the ACL store is the
    // warehouse dir, and the Spark-cluster analogue dispatches to the
    // catalog's GRANT/REVOKE — the recorded state is the same either way)
    node match {
      case m: graft.core.ModelNode if m.config.materialized == Materialized.Ephemeral =>
        () // ephemeral models have no relation to grant on
      case _: graft.core.ModelNode | _: graft.core.SeedNode | _: graft.core.SnapshotNode =>
        materializer.storeFor(node).writeGrants(materializer.relName(node), node.config.grants)
        // persist_docs (reference config.py:86): relation/column
        // comments written as relation metadata, full desired state
        // each run — disabling the config clears persisted comments
        val relDoc = if (node.config.persistRelationDocs && node.description.nonEmpty)
          Some(node.description) else None
        val colDocs = if (node.config.persistColumnDocs)
          node.declaredColumns.collect {
            case c if c.description.nonEmpty => c.name -> c.description
          }.toMap
        else Map.empty[String, String]
        materializer.storeFor(node).writeComments(materializer.relName(node), relDoc, colDocs)
      case _ => ()
    }
    r
  }

  private def runModel(m: ModelNode): RunResult = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (m.config.meta.get("language").contains("python"))
      return hooksAround(m)(runPythonModel(m, elapsed))
    hooksAround(m) {
      customMaterialization(m, elapsed).getOrElse {
      m.config.materialized match {
        case Materialized.Ephemeral =>
          RunResult(m.uniqueId, "success", elapsed, "EPHEMERAL (inlined downstream)")
        case Materialized.View =>
          val sql = compiler().compile(m, m.rawCode).executable
          materializer.view(m, sql)
          RunResult(m.uniqueId, "success", elapsed, "CREATE VIEW")
        case Materialized.Table =>
          val sql = compiler().compile(m, m.rawCode).executable
          materializer.table(m, spark.sql(sql))
          RunResult(m.uniqueId, "success", elapsed, "CREATE TABLE")
        case Materialized.MaterializedView =>
          // the PERSISTED definition must be mode-independent: no run
          // context (a {{ invocation_id }} would read as redefinition),
          // no defer (would bake in GC-able state-warehouse paths), no
          // --empty LIMIT 0. Context substitutes at execution time only.
          val defCompiler = new Compiler(manifest, vars,
            relResolver = Some((n: Node, ident: String) =>
              materializer.storeFor(n).sqlName(ident)),
            thisNameOf = Some((n: Node) => materializer.sqlName(n)))
          val defSql = defCompiler.compile(m, m.rawCode).executable
          val msg = materializer.materializedView(m, defSql,
            s2 => spark.sql(Template.substitute(s2, runContext)),
            fullRefresh = opts.fullRefresh || m.config.fullRefresh.contains(true))
          RunResult(m.uniqueId, "success", elapsed, msg)
        case Materialized.Incremental if m.config.incrementalStrategy.contains("microbatch") =>
          runMicrobatch(m)
        case Materialized.Incremental =>
          val fullRefresh = opts.fullRefresh || m.config.fullRefresh.contains(true)
          val isIncremental = materializer.storeFor(m).exists(materializer.relName(m)) && !fullRefresh
          val sql = compiler().compile(m, m.rawCode, isIncremental).executable
          materializer.incremental(m, spark.sql(sql), fullRefresh)
          RunResult(m.uniqueId, "success", elapsed,
            s"INCREMENTAL ${m.config.incrementalStrategy.getOrElse("append")}" +
              (if (isIncremental) "" else " (first build)"))
        case other =>
          throw new IllegalStateException(s"model ${m.name} has materialization $other")
      }
      }
    }
  }

  /** Materialization-override dispatch (reference manifest.py:1015-1036
    * find_materialization_macro_by_name): a root-project
    * `{% materialization %}` override always wins; an imported
    * package's override of a builtin materialization dispatches only
    * under legacy behavior — with
    * require_explicit_package_overrides_for_builtin_materializations
    * false, the override runs and a deprecation fires
    * (package-materialization-override); with the flag true (the
    * reference's default) the override is IGNORED and the builtin runs.
    * The override body is the text-level reduction documented on
    * [[graft.core.MatOverride]]: `{{ sql }}`/`{{ this }}` bind, the
    * rendered text is the SELECT the relation is built from.
    */
  private def customMaterialization(m: ModelNode, elapsed: => Double): Option[RunResult] =
    manifest.matOverrides.get(m.config.materialized.name).flatMap { ov =>
      val explicitEra =
        manifest.flag("require_explicit_package_overrides_for_builtin_materializations")
      if (!ov.fromRoot && explicitEra) None // package override of a builtin: ignored
      else {
        if (!ov.fromRoot)
          System.err.println(
            s"[graft] WARNING: deprecated package-materialization-override: package " +
              s"'${ov.packageName}' overrides builtin materialization '${ov.name}' — " +
              "behavior kept because require_explicit_package_overrides_for_builtin_" +
              "materializations is false")
        val inner = compiler().compile(m, m.rawCode).executable
        val q = java.util.regex.Matcher.quoteReplacement _
        val rendered = ov.body
          .replaceAll(raw"\{\{\s*sql\s*\}\}", q(s"(\n$inner\n)"))
          .replaceAll(raw"\{\{\s*this\s*\}\}", q(materializer.sqlName(m)))
        materializer.table(m, spark.sql(rendered))
        Some(RunResult(m.uniqueId, "success", elapsed,
          s"CUSTOM MATERIALIZATION ${ov.name} (" +
            (if (ov.fromRoot) "root project" else s"package ${ov.packageName}") + ")"))
      }
    }

  /** Python model execution (reference ModelRunner → submit_python_job,
    * providers.py:1513): the declared refs/sources become the inputs
    * map, the registered JVM implementation stands in for the Python
    * job submission, and the result materializes like any model.
    */
  private def runPythonModel(m: ModelNode, elapsed: => Double): RunResult = {
    // dispatch: an explicitly registered JVM impl wins; a model
    // configured submission_method="subprocess" executes its real .py
    // source under local python3 (PythonSubprocess); otherwise the
    // seam reports itself
    val subprocess =
      m.config.meta.get("submission_method").contains("subprocess") &&
        PythonModels.get(m.name).isEmpty
    // graft_op: the operator-library surface — the model's declared
    // inputs flow into a named library operator (GraftOps), so native
    // operators (k-means drift, codegen'd kernels) are model-callable
    // without per-project registration
    val libraryOp: Option[PythonModels.Impl] =
      m.config.meta.get("graft_op").map(op =>
        GraftOps.impl(op.toString, m.uniqueId).getOrElse(
          throw new IllegalArgumentException(
            s"python model ${m.name}: unknown graft_op '$op'")))
    val impl: PythonModels.Impl =
      PythonModels.get(m.name).orElse(libraryOp).getOrElse {
        if (subprocess)
          (sp, ins) => PythonSubprocess.run(sp, m.name, m.rawCode, ins)
        else throw new IllegalStateException(
          s"python model ${m.name}: no in-process Python runtime — register a JVM " +
            s"""implementation via PythonModels.register("${m.name}")(...) """ +
            """or set dbt.config(submission_method="subprocess") """ +
            "(on a cluster this seam submits the .py source as a batch job)")
      }
    val inputs: Map[String, DataFrame] =
      m.refs.map { r =>
        val target = manifest.resolveRefSpec(r).getOrElse(
          throw new IllegalArgumentException(s"python model ${m.name}: ref not found: $r"))
        r -> spark.table(materializer.sqlName(target))
      }.toMap ++
      m.sources.map { case (a, b) =>
        val sn = manifest.resolveSource(a, b).getOrElse(
          throw new IllegalArgumentException(s"python model ${m.name}: source not found: $a.$b"))
        s"$a.$b" -> spark.table(Sources.viewName(sn))
      }
    val df = impl(spark, inputs)
    m.config.materialized match {
      case Materialized.Incremental =>
        materializer.incremental(m, df,
          opts.fullRefresh || m.config.fullRefresh.contains(true))
      case _ => materializer.table(m, df)
    }
    RunResult(m.uniqueId, "success", elapsed, s"PYTHON ${m.config.materialized.name.toUpperCase}")
  }

  /** Microbatch loop (reference run.py:483-563): window arithmetic from
    * [[Microbatch]], per-batch recompilation with the event-time filter
    * pushed into refs/sources, per-batch window overwrite, per-batch
    * result capture for retry.
    */
  private def runMicrobatch(m: ModelNode): RunResult = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val et = m.config.eventTime.getOrElse(
      throw new IllegalArgumentException(s"${m.name}: microbatch requires event_time"))
    val bs = m.config.batchSize.getOrElse(
      throw new IllegalArgumentException(s"${m.name}: microbatch requires batch_size"))
    val name = materializer.relName(m)
    val mStore = materializer.storeFor(m)
    val isIncremental = mStore.exists(name) && !opts.fullRefresh
    // checkpoint = max event time already in the target (reference
    // microbatch checkpoint semantics, §2.7)
    val checkpoint: Option[Instant] =
      if (!isIncremental) None
      else {
        val r = mStore.read(name).agg(max(col(et))).first()
        if (r.isNullAt(0)) None else Some(instantOf(r.get(0)))
      }
    val batches = opts.retryBatches.get(m.uniqueId) match {
      case Some(ids) =>
        // retry mode: rebuild exactly the recorded failed windows,
        // bypassing checkpoint arithmetic (they're older than it)
        ids.map { id =>
          val s = ProjectLoader.parseInstant(id)
          (Microbatch.truncate(s, bs), Microbatch.offset(s, bs, 1))
        }
      case None =>
        val start = Microbatch.buildStartTime(checkpoint, isIncremental, m.config.begin, bs,
          m.config.lookback, opts.eventTimeStart)
        val end = Microbatch.buildEndTime(opts.eventTimeEnd, opts.now)
        Microbatch.buildBatches(start, end, bs)
    }
    val ok = scala.collection.mutable.ListBuffer[String]()
    val bad = scala.collection.mutable.ListBuffer[String]()
    for ((bStart, bEnd) <- batches) {
      val bid = Microbatch.formatBatchStart(bStart, bs)
      try {
        val sql = compiler(Some((bStart, bEnd))).compile(m, m.rawCode).executable
        materializer.insertOverwriteWindow(m, spark.sql(sql), et, bStart, bEnd)
        ok += bid
      } catch {
        case e: Exception =>
          bad += bid
          System.err.println(s"[microbatch] ${m.name} batch $bid failed: ${e.getMessage}")
      }
    }
    val status = if (bad.isEmpty) "success" else "error"
    RunResult(m.uniqueId, status, elapsed,
      s"MICROBATCH ${ok.size}/${batches.size} batches", None, ok.toSeq, bad.toSeq)
  }

  private def runSnapshot(s: SnapshotNode): RunResult = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    hooksAround(s) {
      val sql = compiler().compile(s, s.rawCode).executable
      materializer.snapshot(s, spark.sql(sql), opts.now)
      RunResult(s.uniqueId, "success", elapsed, "SNAPSHOT")
    }
  }

  /** Data-test execution + threshold evaluation (reference
    * TestRunner.execute_data_test test.py:143-198 and
    * build_test_run_result :294-330).
    */
  private def runTest(t: TestNode): RunResult = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val sql = compiler().compile(t, t.rawCode).executable
    // limit applies BEFORE fail_calc (the reference wraps the test SQL
    // in LIMIT n, so fail counts and warn/error thresholds cap at the
    // limit); cached so count + store_failures run the body once
    val failing0 = spark.sql(sql)
    val failing = t.config.limit.fold(failing0)(failing0.limit).cache()
    try {
      val r = failing.agg(expr(s"CAST(${t.config.failCalc} AS BIGINT)")).first()
      val n: Long = if (r.isNullAt(0)) 0L else r.getLong(0)
      if (t.config.storeFailures && n > 0)
        auditStore.write(failing, t.name)
      val isError = t.config.severity == "error" && evalCond(n, t.config.errorIf)
      val isWarn = evalCond(n, t.config.warnIf)
      val status = if (isError) "fail" else if (isWarn) "warn" else "pass"
      RunResult(t.uniqueId, status, elapsed,
        if (n == 0) "PASS" else s"got $n results", Some(n))
    } finally failing.unpersist()
  }

  /** Timestamp cell → Instant: TIMESTAMP yields java.sql.Timestamp,
    * TIMESTAMP_NTZ yields java.time.LocalDateTime (treated as UTC).
    */
  private def instantOf(v: Any): Instant = v match {
    case t: java.sql.Timestamp => Instant.ofEpochMilli(t.getTime)
    case d: java.time.LocalDateTime => d.toInstant(java.time.ZoneOffset.UTC)
    case i: Instant => i
    case other => throw new IllegalStateException(s"not a timestamp: $other")
  }

  /** Threshold conditions like "!= 0", "> 5" (reference config.py:177). */
  private def evalCond(n: Long, cond: String): Boolean = {
    val c = cond.trim
    val m = raw"(!=|>=|<=|>|<|=)\s*(-?\d+)".r.findFirstMatchIn(c).getOrElse(
      throw new IllegalArgumentException(s"cannot parse condition: $cond"))
    val v = m.group(2).toLong
    m.group(1) match {
      case "!=" => n != v
      case ">" => n > v
      case ">=" => n >= v
      case "<" => n < v
      case "<=" => n <= v
      case "=" => n == v
    }
  }

  /** Unit-test execution (reference execute_unit_test, test.py:199-283):
    * fixture rows become temp views; the model SQL runs against them;
    * actual vs expected diffed with exceptAll both ways.
    */
  private def runUnitTest(u: UnitTestNode): RunResult = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val model = manifest.resolveRef(u.model).getOrElse(
      throw new IllegalArgumentException(s"unit test ${u.name}: model ${u.model} not found"))
      .asInstanceOf[ModelNode]

    val refOverrides = scala.collection.mutable.Map[String, String]()
    val srcOverrides = scala.collection.mutable.Map[(String, String), String]()
    // dict/csv fixtures are literal rows; sql fixtures (format: sql,
    // reference UnitTestFormat.SQL) evaluate a SELECT at run time
    val fixtures: Seq[(String, DataFrame)] =
      u.givens.toSeq.map { case (in, rows) => in -> fixtureDf(rows) } ++
        u.givenSql.toSeq.map { case (in, sql) => in -> spark.sql(sql) }
    for (((input, df), i) <- fixtures.zipWithIndex) {
      val viewName = s"__fixture__${u.name}_$i"
      df.createOrReplaceTempView(viewName)
      val refPat = raw"""ref\s*\(\s*['"]([^'"]+)['"]\s*\)""".r
      val srcPat = raw"""source\s*\(\s*['"]([^'"]+)['"]\s*,\s*['"]([^'"]+)['"]\s*\)""".r
      input.trim match {
        case refPat(r) => refOverrides(r) = viewName
        case srcPat(s, t) => srcOverrides((s, t)) = viewName
        case other => refOverrides(other) = viewName
      }
    }
    // per-test overrides (reference UnitTestOverrides): macro/var
    // overrides arrive pre-baked in overrideCode (macros expand at
    // parse time), vars shadow project vars at render, env_vars shadow
    // the process environment for this render only
    val sql = Template.render(u.overrideCode.getOrElse(model.rawCode),
      r => refOverrides.getOrElse(r,
        manifest.resolveRef(r).map(materializer.sqlName).getOrElse(r)),
      (s, t) => srcOverrides.getOrElse((s, t),
        manifest.resolveSource(s, t).map(Sources.viewName).getOrElse(s"$s.$t")),
      vars ++ u.overrideVars,
      env = sys.env ++ u.overrideEnv)
    val actual = spark.sql(sql)
    val expected = u.expectSql.map(spark.sql).getOrElse(fixtureDf(u.expect))
    // compare on expected's columns, everything as strings (the
    // reference diffs rendered tables — daff — which is also textual)
    val cols = expected.columns.toSeq.sorted
    def canon(df: DataFrame) =
      df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val a = canon(actual)
    val e = canon(expected)
    val extra = a.exceptAll(e).count()
    val missing = e.exceptAll(a).count()
    if (extra == 0 && missing == 0)
      RunResult(u.uniqueId, "pass", elapsed, "PASS")
    else
      RunResult(u.uniqueId, "fail", elapsed,
        s"actual vs expected differ: $extra unexpected rows, $missing missing rows",
        Some(extra + missing))
  }

  /** Literal fixture rows → DataFrame (schema inferred per column from
    * the first non-null value; reference get_fixture_sql builds literal
    * CTEs the same way).
    */
  private def fixtureDf(rows: Seq[Map[String, Any]]): DataFrame = {
    val cols: Seq[String] = rows.flatMap(_.keys).distinct
    def typeOf(v: Any): DataType = v match {
      case _: Long | _: Int => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case _ => StringType
    }
    val schema = StructType(cols.map { c =>
      val v = rows.flatMap(_.get(c)).find(_ != null)
      StructField(c, v.map(typeOf).getOrElse(StringType), nullable = true)
    })
    val data: java.util.List[Row] = new java.util.ArrayList[Row]()
    rows.foreach { r =>
      val vals = cols.map { c =>
        val v = r.getOrElse(c, null)
        (v, schema(c).dataType) match {
          case (null, _) => null
          case (x: Int, LongType) => x.toLong
          case (x: Long, LongType) => x
          case (x: Long, DoubleType) => x.toDouble
          case (x: Double, DoubleType) => x
          case (x, StringType) => String.valueOf(x)
          case (x, _) => x
        }
      }
      data.add(Row(vals: _*))
    }
    spark.createDataFrame(data, schema)
  }

  /** Source freshness (reference FreshnessTask, core/dbt/task/
    * freshness.py:36-166): max(loaded_at_field) vs now against
    * warn_after/error_after thresholds.
    */
  def sourceFreshness(): Seq[RunResult] = {
    Sources.registerAll(spark, manifest, vars)
    // project hooks around freshness only under the behavior flag
    // (reference freshness.py:253-259 get_hooks_by_type — without
    // source_freshness_run_project_hooks the hooks are SKIPPED with a
    // deprecation warning)
    val runHooks = manifest.flag("source_freshness_run_project_hooks")
    val startResults = if (runHooks) safeRunHooks(manifest.onRunStart) else Nil
    if (!runHooks && (manifest.onRunStart.nonEmpty || manifest.onRunEnd.nonEmpty))
      System.err.println("[graft] WARNING: project hooks are not run during " +
        "source freshness; set flags.source_freshness_run_project_hooks to opt in")
    val rows = manifest.sources.values.toSeq
      .filter(s => s.loadedAtField.nonEmpty ||
        s.freshnessWarnAfter.nonEmpty || s.freshnessErrorAfter.nonEmpty)
      .map { s =>
        val t0 = System.nanoTime()
        try {
          val loadedAt: Option[Instant] = s.loadedAtField match {
            case Some(f) =>
              val df = spark.table(Sources.viewName(s))
              val r = df.agg(max(col(f).cast("timestamp"))).first()
              if (r.isNullAt(0)) None
              else Some(Instant.ofEpochMilli(r.getTimestamp(0).getTime))
            // no loaded_at_field → metadata freshness (reference
            // freshness.py:125-166, Capability.TableLastModifiedMetadata):
            // the storage layer's last-modified time, a pure metadata
            // read with no data scan — at 100 TB the difference between
            // a listing call and a full-column max matters
            case None => metadataLoadedAt(s)
          }
          val age = loadedAt.map(l => java.time.Duration.between(l, opts.now))
          val status = (age, s.freshnessErrorAfter, s.freshnessWarnAfter) match {
            case (None, _, _) => "error"
            case (Some(a), Some(err), _) if a.compareTo(err) > 0 => "error"
            case (Some(a), _, Some(warn)) if a.compareTo(warn) > 0 => "warn"
            case _ => "pass"
          }
          (loadedAt, RunResult(s.uniqueId, status, (System.nanoTime() - t0) / 1e9,
            s"age=${age.map(_.toString).getOrElse("unknown")}"))
        } catch {
          case e: Exception =>
            (None, RunResult(s.uniqueId, "error", (System.nanoTime() - t0) / 1e9,
              Option(e.getMessage).getOrElse("").take(300)))
        }
      }
    val endResults = if (runHooks) safeRunHooks(manifest.onRunEnd) else Nil
    // persist sources.json — the input to `source_status:fresher`
    Artifacts.writeSources(opts.targetDir,
      rows.map { case (loadedAt, r) => (r.uniqueId, loadedAt, r.status) })
    startResults ++ endResults ++ rows.map(_._2).map(r =>
      if (r.status == "warn") applyWarnPolicy(r, "SourceFreshnessWarn") else r)
  }

  /** Storage-metadata freshness for sources without a
    * `loaded_at_field`: newest last-modified time across the source's
    * files, through the Hadoop FileSystem API so any supported scheme
    * (file://, hdfs://, s3a://…) answers from its listing metadata.
    */
  private def metadataLoadedAt(s: SourceNode): Option[Instant] = {
    val loc = vars.foldLeft(s.location) { case (acc, (k, v)) => acc.replace(s"{$k}", v) }
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      var maxT = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getModificationTime > maxT) maxT = f.getModificationTime
      }
      Some(Instant.ofEpochMilli(
        if (maxT > 0L) maxT else fs.getFileStatus(p).getModificationTime))
    }
  }
}
