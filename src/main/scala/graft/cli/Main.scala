package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.artifacts.{Artifacts, Json, RunResult}
import graft.core._
import graft.exec.{Compiler, Materializer, RelationStore, Runner, RunOptions, Sources}
import graft.graph.Linker
import graft.parser.ProjectLoader

/** CLI verbs (reference core/dbt/cli/main.py commands §2.8):
  * parse, list, compile, run, seed, snapshot, test, build, show,
  * docs-generate, docs-serve, source-freshness, clone, retry,
  * run-operation, optimize, vacuum, export, clean, init, debug, deps,
  * index (ANN index maintenance autopilot), recall (LSH banding recall
  * evaluation — sampled ground truth by default, --full opt-in).
  *
  * Usage:
  *   graft <cmd> --project-dir DIR [--select "..."] [--exclude "..."]
  *     [--threads N] [--vars k=v,k2=v2] [--full-refresh] [--empty]
  *     [--state PATH] [--defer] [--warehouse DIR] [--target-dir DIR]
  *     [--inline SQL] [--inline-direct SQL] [--indirect-selection MODE]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val (cmd, flags) = parseArgs(args)
    val projectDir = flags.getOrElse("project-dir", ".")
    val warehouse = flags.getOrElse("warehouse", s"$projectDir/warehouse")
    val targetDir = flags.getOrElse("target-dir", s"$projectDir/target")
    val cliVars = flags.get("vars").map(_.split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toMap).getOrElse(Map.empty)

    val spark = GraftSession.local(flags.getOrElse("cpus",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).toInt)
    try {
      val exit = dispatch(cmd, flags, projectDir, warehouse, targetDir, cliVars, spark)
      spark.stop()
      if (exit != 0) sys.exit(exit)
    } catch {
      case e: Exception =>
        System.err.println(s"error: ${e.getMessage}")
        spark.stop()
        sys.exit(2)
    }
  }

  def dispatch(
      cmd: String,
      flags: Map[String, String],
      projectDir: String,
      warehouse: String,
      targetDir: String,
      cliVars0: Map[String, String],
      spark: SparkSession): Int = {
    if (cmd == "init") return initProject(projectDir)
    if (cmd == "deps") {
      // reference task/deps.py run(): lock when missing/stale/--upgrade,
      // then install from the lock; --lock stops after the lock write
      val lockOnly = flags.contains("lock")
      val roots = graft.parser.ProjectLoader.deps(
        Paths.get(projectDir), upgrade = flags.contains("upgrade"), lockOnly = lockOnly)
      if (lockOnly) println(s"wrote $projectDir/package-lock.yml")
      else if (roots.isEmpty) println("no packages found")
      else roots.foreach(r => println(s"installed ${r.getFileName}"))
      return 0
    }
    if (cmd == "index") {
      // ANN index maintenance autopilot (no project needed): one command
      // drives a dirty persisted IVF layout (crashed-writer staging,
      // orphan dirs, empty centroids, fragmented or oversized cells) to
      // a clean fsck report — `graft index --path <dir> [--fsck-only]
      // [--split-factor N] [--max-files-per-cell N]`
      val idxPath = flags.getOrElse("path", throw new IllegalArgumentException(
        "index requires --path <index dir> (a persistIvfIndex or " +
          "persistIvfPqIndex layout)"))
      // layout auto-detection: the raw-vector layout keeps `cells/`,
      // the PQ serving layout keeps `codes/` (+ codebook)
      val hfs = new org.apache.hadoop.fs.Path(idxPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val isPq = hfs.exists(new org.apache.hadoop.fs.Path(idxPath, "codes"))
      if (flags.contains("fsck-only")) {
        val v = (if (isPq) graft.operators.SimilarityOps.checkIvfPqIndex(spark, idxPath)
          else graft.operators.SimilarityOps.checkIvfIndex(spark, idxPath)).first()
        v.schema.fieldNames.foreach(f => println(f"$f%-18s ${v.get(v.fieldIndex(f))}"))
        return if (v.getLong(v.fieldIndex("consistent")) == 1L) 0 else 1
      }
      val maxFiles = flags.get("max-files-per-cell").map(_.toInt).getOrElse(8)
      val report =
        (if (isPq) graft.operators.SimilarityOps.maintainIvfPqIndex(spark, idxPath,
          maxFilesPerCell = maxFiles)
        else graft.operators.SimilarityOps.maintainIvfIndex(spark, idxPath,
          splitFactor = flags.get("split-factor").map(_.toLong).getOrElse(2L),
          maxFilesPerCell = maxFiles))
        .collect()
      report.foreach(r => println(f"${r.getString(0)}%-24s ${r.getLong(1)}"))
      val ok = report.exists(r => r.getString(0) == "consistent" && r.getLong(1) == 1L)
      println(if (ok) "index maintain: CONSISTENT" else "index maintain: STILL INCONSISTENT")
      // staleness monitor: `--drift <parquet of (vec_id, embedding)>`
      // scores the given arrivals against the persisted centroids and
      // prints per-cell coverage drift + load ratio — the rebalance
      // trigger, from the same command that performs the rebalance
      flags.get("drift").foreach { newPath =>
        if (isPq)
          println("index drift: PQ layouts store codes only — drift needs " +
            "the raw-vector (cells/) layout")
        else {
          val drift = graft.operators.SimilarityOps
            .indexDriftReport(spark, idxPath, spark.read.parquet(newPath))
            .orderBy(org.apache.spark.sql.functions.col("cos_drift_ppm").desc)
            .collect()
          println(f"${"cell"}%-8s${"n_old"}%-8s${"n_new"}%-8s" +
            f"${"avg_old_ppm"}%-13s${"avg_new_ppm"}%-13s${"drift_ppm"}%-11s${"load_ppm"}%-10s")
          drift.foreach(r => println(
            f"${r.getLong(0)}%-8d${r.getLong(1)}%-8d${r.getLong(2)}%-8d" +
              f"${r.getLong(3)}%-13d${r.getLong(4)}%-13d${r.getLong(5)}%-11d${r.getLong(6)}%-10d"))
          val hot = drift.count(_.getLong(6) > 2000000L)
          println(s"index drift: ${drift.length} cell(s), $hot hot (load > 2x share)")
        }
      }
      return if (ok) 0 else 1
    }
    if (cmd == "recall") {
      // LSH banding-design recall evaluation over a documents table (no
      // project needed). FIXED-SIZE SAMPLED by default — the scale-safe
      // spelling: exact ground truth only over a seeded md5 document
      // sample CAPPED IN COUNT (default 2000 docs), so the one
      // deliberately-unguarded shingle self-join costs a constant at
      // any corpus size, unbiased for pair recall. `--pct N` opts into
      // a fraction sample (still grows with the corpus); `--full` opts
      // into the exact all-pairs ground truth for small corpora.
      val data = flags.getOrElse("data", throw new IllegalArgumentException(
        "recall requires --data <dir containing documents.parquet> " +
          "[--sample N, default 2000] [--pct N] [--seed N] [--full]"))
      val seed = flags.get("seed").map(_.toInt).getOrElse(42)
      val df =
        if (flags.contains("full")) {
          System.err.println("[graft] recall --full computes the EXACT all-pairs " +
            "ground truth (quadratic in per-shingle document frequency) — for " +
            "small corpora only; the default sampled evaluation is unbiased for " +
            "pair recall at any scale")
          graft.operators.DedupOps.dedupRecallEval(spark, data)
        } else if (flags.contains("pct"))
          graft.operators.DedupOps.dedupRecallEvalSampled(spark, data,
            pct = flags("pct").toInt, seed = seed)
        else graft.operators.DedupOps.dedupRecallEvalSampledN(spark, data,
          targetDocs = flags.get("sample").map(_.toLong).getOrElse(2000L),
          seed = seed)
      val rows = df.orderBy(org.apache.spark.sql.functions.col("bucket")).collect()
      println(f"${"bucket"}%-8s${"n_truth"}%-10s${"n_caught"}%-10s" +
        f"${"recall_ppm"}%-12s${"theory_ppm"}%-12s")
      rows.foreach(r => println(
        f"${r.getLong(0)}%-8d${r.getLong(1)}%-10d${r.getLong(2)}%-10d" +
          f"${r.getLong(3)}%-12d${r.getLong(4)}%-12d"))
      val mode = if (flags.contains("full")) "full ground truth"
        else if (flags.contains("pct")) s"sampled pct=${flags("pct")} seed=$seed"
        else s"sampled n=${flags.getOrElse("sample", "2000")} seed=$seed"
      println(s"recall: ${rows.length} decile bucket(s), $mode")
      return 0
    }
    // profiles.yml target resolution (reference config/profile.py):
    // --target overrides the profile's default; the resolved target
    // feeds `target.name`/`target.schema`/`target.threads` in the
    // template context (via dotted var keys), the scheduler thread
    // default, and the store's base schema namespace
    val profileTarget = graft.parser.Profiles.resolve(
      projectDir, flags.get("target"), flags.get("profiles-dir"))
    // an explicit --target that no profiles.yml can resolve must not be
    // silently dropped (the reference errors on a missing profile/target;
    // the engine runs profile-less by design, so: honor the name for
    // {{ target.name }} and say so, instead of rendering 'dev')
    if (flags.contains("target") && profileTarget.isEmpty)
      System.err.println(s"[graft] warning: --target '${flags("target")}' has no " +
        "matching profiles.yml target; using the name without profile settings")
    val profileVars: Map[String, String] = profileTarget.map { t =>
      Map("target" -> t.name) ++
        t.schema.map("target.schema" -> _) ++
        t.threads.map(th => "target.threads" -> th.toString)
    }.getOrElse(flags.get("target").map("target" -> _).toMap)
    // `flags` context member (reference base.py:655) as dotted vars;
    // explicit --vars still win over profile- and flag-derived context
    val flagVars = Map(
      "flags.WHICH" -> cmd,
      "flags.FULL_REFRESH" -> flags.contains("full-refresh").toString,
      "flags.EMPTY" -> flags.contains("empty").toString)
    val cliVars = profileVars ++ flagVars ++ cliVars0
    val (project, parseOutcome) =
      if (flags.contains("no-partial-parse"))
        (ProjectLoader.resolveRefs(ProjectLoader.load(projectDir, cliVars)),
          graft.parser.PartialParse.Full)
      else graft.parser.PartialParse.loadCachedDetailed(projectDir, cliVars, targetDir)
    parseOutcome match {
      case graft.parser.PartialParse.Hit =>
        println("[partial-parse] manifest loaded from cache")
      case graft.parser.PartialParse.Partial(fs) =>
        println(s"[partial-parse] re-parsed ${fs.size} changed file(s): ${fs.mkString(", ")}")
      case graft.parser.PartialParse.Full =>
    }
    // profile schema = the base namespace materializations land in
    // (reference credentials.schema); custom per-node schemas become
    // `<schema>_<custom>` siblings via Materializer.storeFor
    val store = profileTarget.flatMap(_.schema) match {
      case Some(sc) => new RelationStore(spark, warehouse, sc)
      case None => new RelationStore(spark, warehouse)
    }
    // schema-aware relation addressing for the ad-hoc (non-Runner)
    // paths: compile/show/run-operation/docs-generate must resolve
    // custom-schema models to their qualified session views
    val materializer = new Materializer(spark, store)
    def adHocCompiler() = new Compiler(project.manifest, project.vars ++ cliVars,
      relResolver = Some((n: graft.core.Node, ident: String) =>
        materializer.storeFor(n).sqlName(ident)),
      thisNameOf = Some((n: graft.core.Node) => materializer.sqlName(n)),
      templateContext = Map(
        "run_started_at" -> graft.exec.Timestamps.sql(java.time.Instant.now()),
        "invocation_id" -> java.util.UUID.randomUUID().toString))
    /** Every store the project writes (default + custom schemas), in a
      * stable order — shared by attach / docs-generate / optimize / vacuum.
      */
    def projectStores(): Seq[graft.exec.RelationStore] =
      store +: project.manifest.nodes.values
        .flatMap(_.config.schema).toSet.toSeq.sorted
        .map((cs: String) => materializer.storeForSchema(cs))
    def attachAll(): Unit = projectStores().foreach(_.attach())
    // --state points at a previous run's manifest.json; comparison is
    // doc-level (StateView) so config/description/contract drift is
    // visible even though the old run's NodeConfig is not reconstructed
    val stateManifest = flags.get("state").map(graft.graph.StateView.read)

    def mkOpts(c: String) = RunOptions(
      cmd = c,
      // --selector NAME resolves a named selector from selectors.yml
      // (reference core/dbt/graph/cli.py); --select wins if both given
      select = flags.get("select").map(_.split(" ").toSeq.filter(_.nonEmpty)).getOrElse(
        flags.get("selector").map { n =>
          project.selectors.getOrElse(n,
            throw new IllegalArgumentException(s"unknown selector: $n"))
            .split(" ").toSeq.filter(_.nonEmpty)
        }.getOrElse(Nil)),
      exclude = flags.get("exclude").map(_.split(" ").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      // --threads > profile target's threads > engine default
      threads = flags.get("threads").map(_.toInt)
        .orElse(profileTarget.flatMap(_.threads)).getOrElse(4),
      fullRefresh = flags.contains("full-refresh"),
      empty = flags.contains("empty"),
      vars = cliVars,
      targetDir = targetDir,
      stateManifest = stateManifest,
      deferStore = if (flags.contains("defer"))
        flags.get("defer-warehouse").map(w => new RelationStore(spark, w)) else None,
      eventTimeStart = flags.get("event-time-start").map(ProjectLoader.parseInstant),
      eventTimeEnd = flags.get("event-time-end").map(ProjectLoader.parseInstant),
      failFast = flags.contains("fail-fast"),
      warnError = {
        // the reference asserts WARN_ERROR and WARN_ERROR_OPTIONS
        // mutually exclusive (cli/flags.py _assert_mutually_exclusive)
        // — silent precedence would let a blanket --warn-error drop
        // escalation for kinds outside the options' include list
        if (flags.contains("warn-error") && flags.contains("warn-error-options"))
          throw new IllegalArgumentException(
            "--warn-error cannot be combined with --warn-error-options")
        flags.contains("warn-error")
      },
      warnErrorOptions = flags.get("warn-error-options")
        .map(graft.exec.WarnErrorOptions.parse),
      indirectSelection = flags.getOrElse("indirect-selection", "eager"),
      previousStatuses = Artifacts.readRunResultStatuses(targetDir),
      // source_status:fresher compares this run's sources.json with the
      // state dir's (both written by `source-freshness`)
      fresherSources = flags.get("state")
        .map(st => Artifacts.fresherSources(targetDir,
          java.nio.file.Paths.get(st).getParent match {
            case null => st
            case p => p.toString
          }))
        .getOrElse(Set.empty))

    def report(results: Seq[RunResult]): Int = {
      results.sortBy(_.uniqueId).foreach { r =>
        println(f"${r.status.toUpperCase}%-8s ${r.uniqueId}%-60s ${r.executionTime}%6.2fs  ${r.message}")
      }
      val bad = results.count(r => r.status == "error" || r.status == "fail")
      println(s"Done. PASS=${results.count(r => Set("success", "pass").contains(r.status))} " +
        s"WARN=${results.count(_.status == "warn")} ERROR=$bad " +
        s"SKIP=${results.count(_.status == "skipped")} TOTAL=${results.size}")
      if (bad > 0) 1 else 0
    }

    cmd match {
      case "parse" =>
        Artifacts.writeManifest(targetDir, project.manifest)
        println(s"parsed ${project.manifest.nodes.size} nodes, " +
          s"${project.manifest.sources.size} sources, " +
          s"${project.manifest.unitTests.size} unit tests -> $targetDir/manifest.json")
        0
      case "list" =>
        val runner = new Runner(spark, project, store, mkOpts("build"))
        val sel = graft.graph.Selector.select(project.manifest, runner.graph,
          mkOpts("build").select, mkOpts("build").exclude, stateManifest,
          Map.empty, flags.getOrElse("indirect-selection", "eager"))
        val ids = sel.toSeq.sorted
        // --output name|selector|path|json (reference task/list.py
        // generate_names/selectors/paths/json); default = unique ids,
        // the engine's historical behavior (a superset of `name`)
        val byId = project.manifest.all
        def pathOf(n: graft.core.Node): String = n match {
          case m: graft.core.ModelNode => m.path
          case sd: graft.core.SeedNode => sd.csvPath
          case t: graft.core.TestNode => t.path
          case a: graft.core.AnalysisNode => a.path
          case s: graft.core.SourceNode => s.path
          case _ => ""
        }
        val lines: Seq[String] = flags.getOrElse("output", "unique_id") match {
          case "unique_id" => ids
          case "name" => ids.flatMap(byId.get).map {
            case s: graft.core.SourceNode => s"${s.sourceName}.${s.name}"
            case n => n.name
          }
          case "selector" => ids.flatMap(byId.get).map {
            case s: graft.core.SourceNode =>
              s"source:${s.packageName}.${s.sourceName}.${s.name}"
            case u: graft.core.UnitTestNode => s"unit_test:${u.packageName}.${u.name}"
            case n => s"${n.packageName}.${n.name}"
          }
          case "path" => ids.flatMap(byId.get).map(pathOf)
          case "json" =>
            // ALLOWED_KEYS subset (task/list.py), restrictable by
            // --output-keys k1,k2
            val keys = flags.get("output-keys").map(_.split(",").toSeq)
              .getOrElse(Seq("name", "package_name", "depends_on", "tags",
                "config", "resource_type", "original_file_path", "unique_id"))
            def arr(xs: Seq[String]) = xs.map(Json.quote).mkString("[", ",", "]")
            ids.flatMap(byId.get).map { n =>
              val fields: Seq[(String, String)] = Seq(
                "name" -> Json.quote(n.name),
                "package_name" -> Json.quote(n.packageName),
                "depends_on" -> s"""{"nodes":${arr(n.dependsOn)}}""",
                "tags" -> arr(n.tags),
                "config" -> s"""{"materialized":${Json.quote(n.config.materialized.toString)},"enabled":${n.config.enabled}}""",
                "resource_type" -> Json.quote(n.resourceType.toString),
                "original_file_path" -> Json.quote(pathOf(n)),
                "unique_id" -> Json.quote(n.uniqueId))
              fields.filter(f => keys.contains(f._1))
                .map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
            }
          case other =>
            throw new IllegalArgumentException(s"invalid --output: $other")
        }
        lines.foreach(println)
        0
      case "compile" =>
        val compiler = adHocCompiler()
        val outDir = Paths.get(targetDir, "compiled")
        Files.createDirectories(outDir)
        // --inline SQL: compile one ad-hoc query with the project context
        // (refs/sources/macros resolve) and print it — the reference adds
        // an "inline_query" node to the manifest (task/compile.py:103)
        // and reports only its compiled SQL
        flags.get("inline") match {
          case Some(inline) =>
            // the reference errors on combining node selection with an
            // inline query (task/compile.py "cannot be used with") —
            // silently ignoring --select would hand back only the
            // inline output with no hint the narrowing was dropped
            val conflicting = Seq("select", "exclude", "selector").filter(flags.contains)
            if (conflicting.nonEmpty)
              throw new IllegalArgumentException(
                s"--inline cannot be combined with --${conflicting.mkString("/--")}")
            val fake = ModelNode("inline_query", project.name, inline,
              NodeConfig(), Nil, Nil, Nil)
            val compiled = compiler.compile(fake, inline).executable
            Files.writeString(outDir.resolve("inline_query.sql"), compiled)
            println(compiled)
          case None =>
            // --select narrows compilation like every other verb
            // (reference compile.py via GraphRunnableTask selection)
            val compileSel: Option[Set[String]] =
              if (flags.contains("select") || flags.contains("selector")) Some {
                val r = new Runner(spark, project, store, mkOpts("build"))
                graft.graph.Selector.select(project.manifest, r.graph,
                  mkOpts("build").select, mkOpts("build").exclude, stateManifest,
                  Map.empty, flags.getOrElse("indirect-selection", "eager")).toSet
              } else None
            project.manifest.nodes.values
              .filter(n => compileSel.forall(_.contains(n.uniqueId))).foreach {
              case m: ModelNode =>
                val sql = compiler.compile(m, m.rawCode).executable
                Files.writeString(outDir.resolve(s"${m.name}.sql"), sql)
              case a: AnalysisNode =>
                // compiled but never executed (reference analysis.py:20
                // get_compiled_path → target/compiled/.../analysis/)
                val sql = compiler.compile(a, a.rawCode).executable
                Files.writeString(outDir.resolve(s"analysis_${a.name}.sql"), sql)
              case _ =>
            }
            println(s"compiled -> $outDir")
        }
        0
      case "run" | "seed" | "snapshot" | "test" | "build" =>
        report(new Runner(spark, project, store, mkOpts(cmd)).execute())
      case "retry" =>
        // reference task/retry.py:72-174 — rerun error/fail/skipped;
        // microbatch nodes rerun only their recorded failed batches
        val prev = Artifacts.readRunResultStatuses(targetDir)
        val failedIds = prev.collect {
          case (id, st) if Set("error", "fail", "skipped")(st) => id
        }.toSeq
        if (failedIds.isEmpty) { println("nothing to retry"); 0 }
        else {
          val failedBatches = Artifacts.readFailedBatches(targetDir)
          report(new Runner(spark, project, store,
            mkOpts("build").copy(select = failedIds,
              retryBatches = failedBatches)).execute())
        }
      case "show" =>
        // --inline SQL or --select <model> (reference show:347 supports both);
        // --inline-direct runs the SQL VERBATIM with no templating and no
        // manifest compile (reference main.py:374 ShowTaskDirect)
        Sources.registerAll(spark, project.manifest, project.vars ++ cliVars)
        attachAll()
        val limitN = flags.getOrElse("limit", "5").toInt
        val previewDf: org.apache.spark.sql.DataFrame = flags.get("as-of") match {
          case Some(tsRaw) =>
            // timestamp time travel: preview the relation's SNAPSHOT as
            // of a wall-clock instant, straight from the versioned
            // store (compiled SQL reads the registered head view, which
            // has no history)
            val name = flags.getOrElse("select",
              throw new IllegalArgumentException(
                "show --as-of requires --select <relation>"))
            val rel = project.manifest.resolveRef(name)
              .map(n => n.config.alias.getOrElse(n.name)).getOrElse(name)
            val st = projectStores().find(s => s.exists(rel) && !s.isView(rel))
              .getOrElse(throw new IllegalArgumentException(
                s"no stored (non-view) relation named $rel — --as-of " +
                  "addresses versioned store snapshots"))
            st.readAsOf(rel, parseAsOf(tsRaw))
          case None =>
            val compiler = adHocCompiler()
            val sql = flags.get("inline-direct") match {
              case Some(direct) => direct
              case None => flags.get("inline") match {
                case Some(inline) =>
                  val fake = ModelNode("__inline__", project.name, inline, NodeConfig(), Nil, Nil, Nil)
                  compiler.compile(fake, inline).executable
                case None =>
                  val name = flags.getOrElse("select",
                    throw new IllegalArgumentException("show requires --inline SQL or --select model"))
                  val node = project.manifest.resolveRef(name).getOrElse(
                    throw new IllegalArgumentException(s"model not found: $name"))
                  node match {
                    case m: ModelNode => compiler.compile(m, m.rawCode).executable
                    case other => s"SELECT * FROM ${other.config.alias.getOrElse(other.name)}"
                  }
              }
            }
            spark.sql(sql)
        }
        // --output json emits one JSON object per row (reference
        // task/show.py: preview as JSON for programmatic consumers);
        // default stays the tabular preview
        val preview = previewDf.limit(limitN)
        if (flags.get("output").contains("json"))
          preview.toJSON.collect().foreach(println)
        else preview.show(limitN, truncate = false)
        0
      case "docs-generate" =>
        Sources.registerAll(spark, project.manifest, project.vars ++ cliVars)
        attachAll()
        val rels = projectStores().flatMap(st =>
          st.list().map { n =>
            val (relC, colC) = st.comments(n)
            // per-relation store health (versions, live vs pool bytes,
            // delta backlog) into the catalog's stats field — the
            // OPTIMIZE/VACUUM visibility a warehouse catalog carries
            (st.sqlName(n), st.read(n), relC, colC, st.health(n))
          })
        Artifacts.writeCatalogWithStats(targetDir, rels)
        Artifacts.writeManifest(targetDir, project.manifest)
        println(s"catalog with ${rels.size} relations -> $targetDir/catalog.json")
        0
      case "docs-serve" =>
        // reference cli/main.py:292 docs serve — localhost-only static
        // server over target/ (catalog.json + manifest.json)
        val srv = serveDocs(targetDir, flags.getOrElse("port", "8080").toInt)
        println(s"serving $targetDir on http://127.0.0.1:${srv.getAddress.getPort} (ctrl-c to stop)")
        while (true) Thread.sleep(60000)
        0
      case "source-freshness" =>
        report(new Runner(spark, project, store, mkOpts("run")).sourceFreshness())
      case "clone" =>
        // reference task/clone.py — bring state relations into this warehouse
        val fromW = flags.getOrElse("clone-from",
          throw new IllegalArgumentException("clone requires --clone-from WAREHOUSE"))
        val from = new RelationStore(spark, fromW)
        val names = flags.get("select")
          .map(_.split(" ").toSeq.filter(_.nonEmpty))
          .getOrElse(from.list())
        names.foreach(n => store.clone(from, n))
        println(s"cloned ${names.size} relations from $fromW")
        0
      case "export" =>
        // the write side of the external-source surface: land relations
        // as csv / json / orc / parquet for downstream consumers.
        // Distributed writers — each format writes partition files in
        // parallel; --partition-by lays out a pruned directory tree.
        val outRoot = flags.getOrElse("out",
          throw new IllegalArgumentException("export requires --out DIR"))
        val format = flags.getOrElse("format", "parquet")
        require(Set("csv", "json", "orc", "parquet").contains(format),
          s"unsupported export format: $format")
        attachAll()
        val names = flags.get("select")
          .map(_.split("[ ,]").toSeq.filter(_.nonEmpty))
          .getOrElse(projectStores().flatMap(_.list()))
        var n = 0
        for (st <- projectStores(); rel <- st.list() if names.contains(rel)) {
          // --as-of exports the timestamp-resolved SNAPSHOT (views have
          // no history and keep exporting their current definition)
          val df = flags.get("as-of") match {
            case Some(ts) if !st.isView(rel) => st.readAsOf(rel, parseAsOf(ts))
            case _ => st.read(rel)
          }
          var w = df.write.mode("overwrite").format(format)
          if (format == "csv") w = w.option("header", "true")
          flags.get("partition-by").foreach(cols =>
            w = w.partitionBy(cols.split(","). map(_.trim): _*))
          w.save(s"$outRoot/${st.sqlName(rel)}")
          n += 1
        }
        println(s"exported $n relation(s) as $format -> $outRoot")
        0
      case "clean" =>
        // reference cli/main.py clean:210 — remove build artifacts
        def rmrf(p: java.nio.file.Path): Unit = {
          if (Files.isDirectory(p)) {
            val it = Files.list(p).iterator()
            while (it.hasNext) rmrf(it.next())
          }
          Files.deleteIfExists(p)
        }
        rmrf(Paths.get(targetDir))
        println(s"cleaned $targetDir")
        0
      case "optimize" =>
        // warehouse maintenance: selective small-file compaction over
        // the versioned store (see RelationStore.compact). `--select`
        // names specific relations; default is every table in every
        // schema the project writes. `--target-file-mb` tunes the goal.
        // `--zorder c1,c2` Morton-interleaves the rewrite by two
        // columns (the OPTIMIZE ZORDER BY shape) so file-level
        // skipping stays selective on BOTH predicate dimensions —
        // requires --select (clustering columns are per-table).
        val targetBytes =
          flags.get("target-file-mb").map(_.toLong << 20).getOrElse(128L << 20)
        val zorderCols = flags.get("zorder")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        if (zorderCols.nonEmpty && !flags.contains("select"))
          throw new IllegalArgumentException(
            "--zorder names per-table columns; pair it with --select <relation>")
        val stores = projectStores()
        val wanted = flags.get("select").map(_.split(",").toSet)
        var rewritten = 0
        for (st <- stores; rel <- st.list()
            if !st.isView(rel) && !st.isBucketed(rel)
            if wanted.forall(_.contains(rel))) {
          val n = st.compact(rel, targetBytes, zorderCols)
          if (n > 0) println(s"optimize ${st.schema}.$rel: rewrote $n partition(s)" +
            (if (zorderCols.nonEmpty) s" (zorder requested: ${zorderCols.mkString(",")})" else ""))
          rewritten += n
        }
        println(s"optimize complete: $rewritten partition(s) rewritten")
        0
      case "vacuum" =>
        // warehouse retention: reclaim old immutable version dirs
        // (time-travel history) beyond --keep-last (default 2); the
        // current version always survives. Mirrors lakehouse VACUUM.
        val keepLast = flags.get("keep-last").map(_.toInt).getOrElse(2)
        val stores = projectStores()
        val wanted = flags.get("select").map(_.split(",").toSet)
        var reclaimed = 0
        for (st <- stores; rel <- st.list()
            if !st.isView(rel)
            if wanted.forall(_.contains(rel))) {
          val n = st.vacuum(rel, keepLast)
          if (n > 0) println(s"vacuum ${st.schema}.$rel: reclaimed $n version(s)")
          reclaimed += n
        }
        println(s"vacuum complete: $reclaimed version(s) reclaimed")
        0
      case "run-operation" =>
        // reference task/run_operation.py — execute a project macro (the
        // primary form: `run-operation my_macro --args k=v,...`) or an
        // ad-hoc statement (--inline) with the project context attached
        val sql = flags.get("inline").getOrElse {
          val macroName = flags.getOrElse("macro",
            throw new IllegalArgumentException(
              "run-operation requires --macro NAME [--args k=v,...] or --inline SQL"))
          val args = flags.get("args")
            .map(_.split(",").toSeq.filter(_.nonEmpty).mkString(", ")).getOrElse("")
          val call = s"{{ $macroName($args) }}"
          val expanded = graft.parser.Macros.expand(call, project.macros)
          if (expanded == call)
            throw new IllegalArgumentException(s"macro not found: $macroName")
          expanded
        }
        Sources.registerAll(spark, project.manifest, project.vars ++ cliVars)
        attachAll()
        val compiler = adHocCompiler()
        val fake = ModelNode("__op__", project.name, sql, NodeConfig(), Nil, Nil, Nil)
        spark.sql(compiler.compile(fake, sql).executable).collect()
        println("operation complete")
        0
      case "debug" =>
        // reference cli/main.py debug:396 — sanity-check the environment
        println(s"project-dir: $projectDir (exists=${Files.exists(Paths.get(projectDir))})")
        println(s"warehouse:   $warehouse")
        println(s"spark:       ${spark.version}, master=${spark.sparkContext.master}")
        println(s"nodes:       ${project.manifest.nodes.size}, sources: ${project.manifest.sources.size}")
        val probe = spark.range(1).count()
        println(s"spark probe: SELECT count from range(1) = $probe")
        0
      case other =>
        System.err.println(s"unknown command: $other")
        2
    }
  }

  /** `init` — scaffold a starter project (reference cli/main.py init:461). */
  /** `--as-of` instant: epoch millis, an ISO-8601 instant
    * (`2026-08-16T07:00:00Z`), or a UTC `yyyy-MM-dd[ HH:mm[:ss]]`
    * timestamp / bare date.
    */
  private def parseAsOf(raw: String): Long = {
    val t = raw.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else {
      val base = if (t.contains("T")) t else if (t.contains(" ")) t.replace(" ", "T") else s"${t}T00:00:00"
      val withSec = if (base.count(_ == ':') == 1) base + ":00" else base
      val zoned =
        if (withSec.endsWith("Z") || withSec.matches(".*[+-]\\d\\d:\\d\\d$")) withSec
        else withSec + "Z"
      try java.time.Instant.parse(zoned).toEpochMilli
      catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"--as-of '$raw' is not epoch millis, an ISO-8601 instant, or " +
              "a UTC yyyy-MM-dd[ HH:mm[:ss]] timestamp", e)
      }
    }
  }

  private def initProject(projectDir: String): Int = {
    val dir = Paths.get(projectDir)
    if (Files.exists(dir.resolve("dbt_project.yml"))) {
      System.err.println(s"$projectDir already contains dbt_project.yml")
      return 2
    }
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("seeds"))
    Files.createDirectories(dir.resolve("tests"))
    Files.createDirectories(dir.resolve("snapshots"))
    Files.writeString(dir.resolve("dbt_project.yml"),
      s"""name: my_project
         |vars:
         |  data_dir: /root/testdata/sf0.001
         |""".stripMargin)
    Files.writeString(dir.resolve("models/sources.yml"),
      """version: 2
        |sources:
        |  - name: tpch
        |    tables:
        |      - name: orders
        |        location: "{data_dir}/orders.parquet"
        |""".stripMargin)
    Files.writeString(dir.resolve("models/my_first_model.sql"),
      """{{ config(materialized='table') }}
        |SELECT o_orderkey, o_totalprice FROM {{ source('tpch', 'orders') }}
        |""".stripMargin)
    println(s"initialized project in $projectDir")
    0
  }

  /** Rebuild a Manifest skeleton from a state manifest.json (only what
    * state:modified compares: checksums + configs).
    */
  /** Static file server over the artifacts dir (docs serve). JDK
    * built-in httpserver — zero dependencies, binds loopback only;
    * port 0 picks an ephemeral port (tests). Caller stops it.
    */
  def serveDocs(targetDir: String, port: Int): com.sun.net.httpserver.HttpServer = {
    val root = java.nio.file.Paths.get(targetDir).toAbsolutePath.normalize
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val rel = ex.getRequestURI.getPath.stripPrefix("/") match {
          case "" => "manifest.json"
          case p => p
        }
        val f = root.resolve(rel).normalize
        if (!f.startsWith(root) || !java.nio.file.Files.isRegularFile(f)) {
          val msg = "not found".getBytes("UTF-8")
          ex.sendResponseHeaders(404, msg.length)
          ex.getResponseBody.write(msg)
        } else {
          val bytes = java.nio.file.Files.readAllBytes(f)
          ex.getResponseHeaders.set("Content-Type",
            if (rel.endsWith(".json")) "application/json" else "text/plain")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        }
        ex.close()
      }
    })
    server.start()
    server
  }

  def parseArgs(args: Array[String]): (String, Map[String, String]) = {
    if (args.isEmpty) throw new IllegalArgumentException("usage: graft <cmd> [flags]")
    val cmd = args(0)
    val flags = scala.collection.mutable.Map[String, String]()
    var i = 1
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val key = a.stripPrefix("--")
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          flags(key) = args(i + 1); i += 2
        } else { flags(key) = "true"; i += 1 }
      } else i += 1
    }
    (cmd, flags.toMap)
  }
}
