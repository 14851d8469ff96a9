package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.artifacts.{Artifacts, RunResult}
import graft.core.{Materialized, ModelNode}
import graft.exec.{Compiler, RelationStore, Runner, RunOptions}
import graft.parser.{PartialParse, ProjectLoader}
import graft.tools.ScaleGen

/** `project`: a generated dbt project over the sf0.1 [[Corpus]] tables.
  * Every operation starts as the CLI does, with the partial-parse gate
  * (`PartialParse.loadCachedDetailed`). Phase A is one full parse plus a
  * full `build` on an empty warehouse. Phase B is a series of ticks: each
  * lands one seeded slice of events as a new parquet file (untimed), then
  * reloads the cached parse and builds the incremental models and the
  * snapshot (`tag:ticking`, no tests); every `CompactEvery` ticks it
  * compacts the incremental targets, as `graft optimize` would.
  */
object ProjectWorkload {
  /** A third of the ticks compact, so the median tick is one that does
    * not: with half of them compacting, the median would fall in the gap
    * between the two kinds and jump between them from run to run. */
  private val CompactEvery = 3
  /** Ticks per run at least. A traced run takes two more, so that it
    * holds traced and untraced ticks that neither compact nor come first
    * (see `tracing` below). */
  private val MinTicks = 3
  private val SliceRows = 2000
  /** Generated events end here; tick k lands the hour after T0 + k h. */
  private val T0 = Instant.parse("2024-01-31T00:00:00Z")
  private val Ticking = Seq("tag:ticking")
  private val Ok = Set("success", "pass")

  private def hourEnd(k: Int): Instant = T0.plusSeconds(3600L * (k + 1))

  /** {relative path -> size} of every file under `root`. */
  private def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  private def writeListing(to: Path, l: Map[String, Long]): Unit =
    Files.writeString(to, l.toSeq.sorted.map { case (p, n) => s"$p\t$n" }.mkString("\n"))

  private def materialization(n: graft.core.Node): String = n match {
    case m: ModelNode if m.config.materialized == Materialized.Incremental &&
      m.config.incrementalStrategy.contains("microbatch") => "microbatch"
    case m: ModelNode => m.config.materialized.name
    case x => x.resourceType.name
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val data = c.work.resolve("data")
    Seq("orders", "lineitem", "customer", "part", "events")
      .foreach(t => Corpus.copy(c, t, data.resolve(s"$t.parquet")))
    val projectDir = c.inputs("project").toString
    val project = ProjectLoader.resolveRefs(ProjectLoader.load(projectDir))
    val manifest = project.manifest
    /** The CLI's parse step: a full parse, or the cached project. */
    def parse(target: Path): (ProjectLoader.Project, String) = {
      val (p, outcome) = c.tracer.span("parser.partial")(
        PartialParse.loadCachedDetailed(projectDir, Map.empty, target.toString))
      (p, outcome match {
        case PartialParse.Full => "full"
        case PartialParse.Hit => "hit"
        case PartialParse.Partial(_) => "partial"
      })
    }
    def opts(cmd: String, target: String, end: Instant, select: Seq[String] = Nil,
        fullRefresh: Boolean = false) =
      RunOptions(cmd = cmd, select = select, threads = c.cpus, targetDir = target,
        fullRefresh = fullRefresh, eventTimeEnd = Some(end), indirectSelection = "empty")
    def requireOk(rs: Seq[RunResult]): Seq[RunResult] = {
      val bad = rs.filterNot(r => Ok(r.status))
      if (bad.nonEmpty) throw new IllegalStateException(
        s"${bad.size} nodes failed, e.g. ${bad.head.uniqueId}: ${bad.head.status} ${bad.head.message.take(200)}")
      rs
    }
    def build(root: Path): (RelationStore, Runner, Seq[RunResult]) = {
      val target = root.resolve("target")
      val (p, _) = parse(target)
      val store = new RelationStore(spark, root.resolve("warehouse").toString)
      val runner = new Runner(spark, p, store, opts("build", target.toString, T0))
      (store, runner, c.tracer.span("exec.runner")(runner.execute()))
    }

    // one warm build and one warm tick (no new data) in a throwaway
    // warehouse, inside set-up, so phase A and the first tick run warm
    c.warm(1) { _ =>
      val root = c.work.resolve("warm")
      val (st, _, rs) = build(root)
      requireOk(rs)
      requireOk(new Runner(spark, parse(root.resolve("target"))._1, st,
        opts("build", root.resolve("target").toString, T0, Ticking)).execute())
      Corpus.deleteTree(root)
    }

    // phase A
    val main = c.work.resolve("main")
    var phaseA: (RelationStore, Runner, Seq[RunResult]) = null
    c.tracing(true)
    c.op("build") {
      phaseA = build(main)
      requireOk(phaseA._3)
      Map("nodes" -> phaseA._3.size)
    }
    c.tracing(false)
    if (phaseA == null) throw new IllegalStateException(s"phase A failed: ${c.ops.last("err")}")
    val (store, runner, results) = phaseA
    c.extra("build_results") = results.map { r =>
      Map("id" -> r.uniqueId, "status" -> r.status, "s" -> r.executionTime,
        "mat" -> manifest.get(r.uniqueId).map(materialization).getOrElse("other"))
    }
    val ids = results.map(_.uniqueId).toSet
    c.extra("build_edges") = runner.graph.edges.toSeq.collect { case (a, b) if ids(a) && ids(b) => Seq(a, b) }
    c.check("project.build.nodes", results.size == c.lines("expect_nodes.txt").head.toInt,
      s"${results.size} results")
    if (c.traced) layerPasses(c, project, runner, results)

    // phase B
    val eventsDir = data.resolve("events.parquet")
    val wh = main.resolve("warehouse")
    val ticking = c.lines("ticking.txt") // the incremental models
    Files.createDirectories(c.work.resolve("listings"))
    val compacted0 = store.compactedBytes.get()
    val end = c.deadline()
    var k = 0
    var landed = 0L
    while (k < MinTicks + (if (c.traced) 2 else 0) || System.nanoTime() < end) {
      val before = listing(eventsDir)
      land(c, eventsDir, k)
      landed += listing(eventsDir).collect { case (p, n) if !before.contains(p) && p.endsWith(".parquet") => n }.sum
      val whBefore = listing(wh)
      // a traced run alternates untraced and traced ticks; for the tracing
      // overhead run.py compares the ones that neither compact nor come
      // first (the first tick after phase A runs slower): with 5 ticks,
      // ticks 1 and 3 against tick 4
      c.tracing(k % 2 == 1)
      val tick = k
      c.op("tick", Map("tick" -> tick)) {
        val target = main.resolve("target")
        val (p, outcome) = parse(target)
        val rs = requireOk(c.tracer.span("exec.runner")(new Runner(spark, p, store,
          opts("build", target.toString, hourEnd(tick), Ticking)).execute()))
        val compacts = (tick + 1) % CompactEvery == 0
        val t0 = System.nanoTime()
        if (compacts) ticking.foreach(n => c.tracer.span("store.compact")(store.compact(n)))
        Map("compacts" -> compacts, "compact_ns" -> (System.nanoTime() - t0),
          "files_considered" -> rs.map(_.adapterResponse.getOrElse("files_considered", 0L)).sum,
          "files_opened" -> rs.map(_.adapterResponse.getOrElse("files_opened", 0L)).sum,
          "nodes" -> rs.size, "parse" -> outcome)
      }
      c.tracing(false)
      writeListing(c.work.resolve(s"listings/before_$k.tsv"), whBefore)
      writeListing(c.work.resolve(s"listings/after_$k.tsv"), listing(wh))
      k += 1
    }
    c.extra("retained_heap_mb") = Machine.retainedHeapMb()
    val tables = store.list().filterNot(store.isView)
    c.extra("landed_bytes") = landed
    c.extra("disk_bytes") = listing(wh).values.sum
    c.extra("live_bytes") = tables.map(t => store.health(t)("live_bytes").asInstanceOf[Long]).sum
    c.extra("versions") = tables.map(t => store.versions(t).size).sum
    c.extra("bytes_rewritten") = store.compactedBytes.get() - compacted0

    // each incremental target equals a full-refresh rebuild over every slice
    val fresh = new RelationStore(spark, c.work.resolve("check/warehouse").toString)
    val rebuilt = new Runner(spark, project, fresh, opts("run", c.work.resolve("check/target").toString,
      hourEnd(k - 1), Seq("+tag:ticking"), fullRefresh = true)).execute()
    c.check("project.rebuild.statuses", rebuilt.forall(r => Ok(r.status)),
      rebuilt.filterNot(r => Ok(r.status)).map(r => s"${r.uniqueId}: ${r.message.take(100)}").mkString("; "))
    ticking.foreach { n =>
      val (a, b) = (contentHash(store.read(n)), contentHash(fresh.read(n)))
      c.check(s"project.$n.matches_full_refresh", a == b, s"$a vs $b")
    }
  }

  /** Order-independent (row hash sum, row count) of a relation. */
  private def contentHash(df: DataFrame): (String, Long) = {
    val r = df.selectExpr("sum(cast(xxhash64(*) as decimal(38,0)))", "count(*)").head()
    (String.valueOf(r.get(0)), r.getLong(1))
  }

  /** Seeded slice of `SliceRows` events in the hour after T0 + k h, with
    * ids above every generated event, appended as one parquet file.
    */
  private def land(c: Ctx, eventsDir: Path, k: Int): Unit = {
    val spark = c.spark
    val s = c.seed
    val first = 10000000L + k.toLong * SliceRows
    val hourUs = 3600L * 1000000L
    val t0Us = T0.getEpochSecond * 1000000L + k * hourUs
    spark.sparkContext.setJobGroup("land", "land")
    try spark.range(first, first + SliceRows, 1, 1).selectExpr(
      "id as event_id",
      s"cast(timestamp_micros($t0Us + pmod(xxhash64($s, id, 1), $hourUs)) as timestamp_ntz) as ts",
      s"pmod(xxhash64($s, id, 2), ${ScaleGen.nUsers(Corpus.Sf)}) as user_id",
      s"element_at(array('click', 'error', 'purchase', 'signup', 'view'), cast(pmod(xxhash64($s, id, 3), 5) + 1 as int)) as event_type",
      s"cast(pmod(xxhash64($s, id, 4), 20000) / 100.0 as double) as value",
      s"concat('{\"k\": ', pmod(xxhash64($s, id, 5), 100), '}') as props")
      .write.mode(SaveMode.Append).parquet(eventsDir.toString)
    finally spark.sparkContext.clearJobGroup()
  }

  /** Traced run only, outside the timed operations: the layers the
    * Runner calls internally, timed around their public entry points.
    */
  private def layerPasses(c: Ctx, project: ProjectLoader.Project, runner: Runner,
      results: Seq[RunResult]): Unit = {
    val side = c.work.resolve("side").toString
    c.tracing(true)
    val loaded = c.tracer.span("parser.load")(ProjectLoader.load(project.dir))
    c.tracer.span("parser.resolve")(ProjectLoader.resolveRefs(loaded))
    c.tracer.span("graph.link")(graft.graph.Linker.link(project.manifest))
    c.tracer.span("graph.select")(new Runner(c.spark, project,
      new RelationStore(c.spark, c.work.resolve("side/warehouse").toString),
      RunOptions(cmd = "build", threads = c.cpus, targetDir = side)).selectedIds())
    val compiler = new Compiler(project.manifest, project.vars)
    project.manifest.nodes.values.collect { case m: ModelNode => m }.foreach { m =>
      try c.tracer.span("compiler.compile")(compiler.compile(m, m.rawCode))
      catch { case _: Exception => () }
    }
    c.tracer.span("artifacts.run_results")(
      Artifacts.writeRunResults(side, results, results.map(_.executionTime).sum, runner.invocationId))
    c.tracer.span("artifacts.manifest")(Artifacts.writeManifest(side, project.manifest))
    c.tracing(false)
    c.extra("artifacts_bytes") =
      Seq("run_results.json", "manifest.json").map(f => Files.size(Paths.get(side, f))).sum
  }
}
