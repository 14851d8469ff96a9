package graft.parser

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import graft.core._

/** Project parser: dbt_project.yml + models/seeds/snapshots/tests dirs →
  * Manifest (reference ManifestLoader.load, core/dbt/parser/manifest.py:327,
  * with the per-type parsers of manifest.py:400-433).
  */
object ProjectLoader {
  final case class Project(
      name: String,
      dir: String,
      vars: Map[String, String],
      manifest: Manifest,
      /** Named selectors from selectors.yml (reference
        * core/dbt/graph/cli.py): name → definition token string.
        */
      selectors: Map[String, String] = Map.empty,
      /** The project's (global) macro table — exposed for
        * `run-operation <macro>` (reference task/run_operation.py).
        */
      macros: Map[String, Macros.MacroDef] = Map.empty,
      /** Packages whose dbt_project.yml sets `restrict-access: true`:
        * their protected models may only be ref'd from inside the same
        * package (reference project.py restrict_access +
        * manifest.py is_invalid_protected_ref).
        */
      restrictAccess: Set[String] = Set.empty,
      /** query-comment (reference config/project.py:205
        * _query_comment_from_cfg): the audit header dbt prepends to
        * every warehouse statement. Engine analogue: the Spark job
        * description/group set per node execution, so the Spark UI and
        * event-log consumers attribute every job to its model.
        * `{{ node_id }}` / `{{ invocation_id }}` interpolate.
        */
      queryComment: Option[String] = None)

  def load(projectDir: String, cliVars: Map[String, String] = Map.empty): Project =
    load0(projectDir, cliVars, inheritedMacros = None)

  /** `inheritedMacros`: when loading a dependency package, the root
    * project's (global) macro namespace — dbt macros are project-global
    * across packages (reference core/dbt/deps/local.py + macro
    * resolution jinja.py).
    */
  private def load0(
      projectDir: String,
      cliVars: Map[String, String],
      inheritedMacros: Option[Map[String, Macros.MacroDef]]): Project = {
    val dir = Paths.get(projectDir)
    val header = readHeader(dir, cliVars)
    val Header(proj, name, vars, modelDefaults, flags) = header

    def files(sub: String, ext: String): Seq[Path] = filesUnder(dir.resolve(sub), ext)

    val nodes = scala.collection.mutable.LinkedHashMap[String, Node]()
    val sources = scala.collection.mutable.LinkedHashMap[String, SourceNode]()
    val unitTests = scala.collection.mutable.LinkedHashMap[String, UnitTestNode]()
    var onRunStart = Seq.empty[HookNode]
    var onRunEnd = Seq.empty[HookNode]

    // on-run-start / on-run-end hooks (reference RunHookType); bodies
    // are macro-expanded like model SQL — called after macroTable below
    def hooks(key: String, macroTable: Map[String, Macros.MacroDef]): Seq[HookNode] = {
      def mk(sql: String, i: Int) =
        HookNode(s"$name-$key-$i", name, Macros.expand(sql, macroTable), i,
          checksum = FileHash.of(sql))
      proj.get(key) match {
        case Some(l: List[Any @unchecked]) =>
          l.zipWithIndex.map { case (sql, i) => mk(String.valueOf(sql), i) }
        case Some(s: String) => Seq(mk(s, 0))
        case _ => Nil
      }
    }

    // ---- local dependency packages (packages.yml `- local: path`;
    // reference core/dbt/deps/local.py LocalPackage — registry/git/
    // tarball types need egress and stay out of scope) ----
    val localPkgDirs: Seq[Path] = localPackageDirs(dir)

    // ---- user macros (macros/*.sql; reference core/dbt/parser/
    // macros.py:27 MacroParser). Parsed first: model/snapshot/test SQL
    // is macro-expanded BEFORE ref/source scanning so dependencies
    // introduced by macro bodies land in the DAG. The namespace is
    // GLOBAL across packages: the root project assembles its own plus
    // every dependency's macros and hands the table down.
    val macroTable: Map[String, Macros.MacroDef] = inheritedMacros.getOrElse {
      (files("macros", ".sql") ++
        localPkgDirs.flatMap(pd => filesUnder(pd.resolve("macros"), ".sql")))
        .flatMap(f => Macros.parse(Files.readString(f)))
        .map(m => m.name -> m).toMap
    }
    onRunStart = hooks("on-run-start", macroTable)
    onRunEnd = hooks("on-run-end", macroTable)

    // ---- materialization override blocks ({% materialization %} in
    // macros files) with LOCALITY provenance (reference manifest.py:
    // 976-1036): root-project overrides always dispatch; an imported
    // package's override of a builtin materialization is gated by the
    // require_explicit_package_overrides_for_builtin_materializations
    // behavior flag at dispatch time (Runner). Root parses last so it
    // wins name collisions, like the reference's locality ordering.
    val matOverrides: Map[String, graft.core.MatOverride] =
      if (inheritedMacros.isDefined) Map.empty // assembled once, at the root
      else {
        val fromPkgs = localPkgDirs.flatMap { pd =>
          filesUnder(pd.resolve("macros"), ".sql").flatMap(f =>
            Macros.parseMaterializations(Files.readString(f)).map { case (n, b) =>
              n -> graft.core.MatOverride(n, b, pd.getFileName.toString, fromRoot = false)
            })
        }
        val fromRoot = files("macros", ".sql").flatMap(f =>
          Macros.parseMaterializations(Files.readString(f)).map { case (n, b) =>
            n -> graft.core.MatOverride(n, b, name, fromRoot = true)
          })
        (fromPkgs ++ fromRoot).toMap
      }

    // ---- SQL files: models, snapshots, analyses, singular tests ----
    val macroDeps = scala.collection.mutable.Map[String, Seq[String]]()
    val varsUsed = scala.collection.mutable.Map[String, Map[String, String]]()
    val unrenderedCfgs = scala.collection.mutable.Map[String, Map[String, String]]()
    val sqlParser = new SqlFileParser(dir, header, macroTable)
    for (sub <- SqlDirs; f <- files(sub, ".sql")) {
      val b = sqlParser.parse(f)
      val uid = b.node.uniqueId
      nodes(uid) = b.node
      if (b.macroDeps.nonEmpty) macroDeps(uid) = b.macroDeps
      if (b.varsUsed.nonEmpty) varsUsed(uid) = b.varsUsed
      if (b.unrenderedConfig.nonEmpty) unrenderedCfgs(uid) = b.unrenderedConfig
    }

    // ---- python models (models/*.py; reference parser
    // core/dbt/parser/models.py:31-173 PythonParser — static extraction
    // of dbt.ref/dbt.source/dbt.config, no Python execution at parse
    // time there either). Execution goes through exec.PythonModels.
    for (f <- files("models", ".py")) {
      val raw = Files.readString(f)
      val pyRef =
        raw"""dbt\.ref\(\s*['"]([^'"]+)['"](?:\s*,\s*['"]([^'"]+)['"])?\s*\)""".r
      val pySrc =
        raw"""dbt\.source\(\s*['"]([^'"]+)['"]\s*,\s*['"]([^'"]+)['"]\s*\)""".r
      val pyCfg = raw"""(?s)dbt\.config\((.*?)\)""".r
      // dbt.ref('pkg','model') → the canonical pkg/model spec
      val refs = pyRef.findAllMatchIn(raw).map { m =>
        Option(m.group(2)).map(x => s"${m.group(1)}/$x").getOrElse(m.group(1))
      }.toSeq.distinct
      val srcs = pySrc.findAllMatchIn(raw).map(m => (m.group(1), m.group(2))).toSeq.distinct
      val cfgMap = pyCfg.findFirstMatchIn(raw)
        .map(m => Template.parseKwargs(m.group(1))).getOrElse(Map.empty[String, Any])
      val mname = f.getFileName.toString.stripSuffix(".py")
      val cfg0 = configFrom(modelDefaults ++ cfgMap)
      val cfg = cfg0.copy(
        meta = cfg0.meta + ("language" -> "python") ++
          // submission_method (reference python-model config, e.g.
          // dataproc cluster/serverless): "subprocess" selects the
          // local python3 executor seam (exec.PythonSubprocess)
          cfgMap.get("submission_method").map(v => "submission_method" -> v.toString) ++
          // graft_op: route the model's declared inputs into a named
          // operator-library implementation (exec.GraftOps)
          cfgMap.get("graft_op").map(v => "graft_op" -> v.toString),
        // python models default to table (view is invalid for them in
        // the reference, parser/models.py)
        materialized =
          if (cfgMap.contains("materialized")) cfg0.materialized else Materialized.Table)
      val deps = refs.map(r => refId(r, name)) ++
        srcs.map { case (a, b) => s"source.$name.$a.$b" }
      val node = ModelNode(
        name = mname, packageName = name, rawCode = raw, config = cfg,
        dependsOn = deps, refs = refs, sources = srcs,
        path = dir.relativize(f).toString, checksum = FileHash.of(raw))
      nodes(node.uniqueId) = node
    }

    // ---- seeds ----
    for (f <- files("seeds", ".csv")) {
      val sname = f.getFileName.toString.stripSuffix(".csv")
      val node = SeedNode(sname, name, f.toString,
        NodeConfig(materialized = Materialized.SeedMat),
        checksum = FileHash.of(Files.readString(f)))
      nodes(node.uniqueId) = node
    }

    // ---- schema YAML: sources, model columns/tests, seeds, unit tests ----
    for (f <- schemaYmlFiles(dir)) {
      val doc = MiniYaml.parseMap(Files.readString(f))
      // sources
      doc.get("sources") match {
        case Some(ss: List[Any @unchecked]) =>
          for (s0 <- ss) {
            val s = s0.asInstanceOf[Map[String, Any]]
            val srcName = s("name").toString
            val tables = s.getOrElse("tables", Nil).asInstanceOf[List[Any]]
            for (t0 <- tables) {
              val t = t0.asInstanceOf[Map[String, Any]]
              val (warnAfter, errorAfter) = t.get("freshness") match {
                case Some(fr: Map[String @unchecked, Any @unchecked]) =>
                  (parsePeriod(fr.get("warn_after")), parsePeriod(fr.get("error_after")))
                case _ => (None, None)
              }
              val src = SourceNode(
                sourceName = srcName,
                name = t("name").toString,
                packageName = name,
                location = t.getOrElse("location", "").toString,
                loadedAtField = t.get("loaded_at_field").map(_.toString),
                freshnessWarnAfter = warnAfter,
                freshnessErrorAfter = errorAfter,
                filter = t.get("filter").map(_.toString),
                config = NodeConfig(eventTime = t.get("event_time").map(_.toString)),
                columns = declaredColumnsOf(t),
                format = t.get("format").map(_.toString),
                options = t.get("options") match {
                  case Some(om: Map[String @unchecked, Any @unchecked]) =>
                    om.map { case (k, v) => k -> String.valueOf(v) }
                  case _ => Map.empty
                },
                checksum = FileHash.of(t.toString),
                path = dir.relativize(f).toString)
              sources(src.uniqueId) = src
              // generic tests on source columns
              for (tn <- columnTests(t, name, s"{{ source('$srcName', '${t("name")}') }}",
                  s"source_${srcName}_${t("name")}", Seq(src.uniqueId), macroTable,
                  dir.relativize(f).toString))
                nodes(tn.uniqueId) = tn
            }
          }
        case _ =>
      }
      // model entries: columns + tests + per-model config (incl. contract)
      doc.get("models") match {
        case Some(ms: List[Any @unchecked]) =>
          for (m0 <- ms) {
            val m = m0.asInstanceOf[Map[String, Any]]
            val mname = m("name").toString
            val modelId = s"model.$name.$mname"
            for (tn <- columnTests(m, name, s"{{ ref('$mname') }}", mname,
                Seq(modelId), macroTable, dir.relativize(f).toString))
              nodes(tn.uniqueId) = tn
            nodes.get(modelId) match {
              case Some(mn: ModelNode) => nodes(modelId) = applyModelYmlEntry(mn, m)
              case _ =>
            }
          }
        case _ =>
      }
      // seed configs (reference seed.py:15-18: column_types, delimiter)
      doc.get("seeds") match {
        case Some(ss: List[Any @unchecked]) =>
          for (s0 <- ss) {
            val sm = s0.asInstanceOf[Map[String, Any]]
            val sid = s"seed.$name.${sm("name")}"
            val cfg = sm.get("config") match {
              case Some(c: Map[String @unchecked, Any @unchecked]) => c
              case _ => Map.empty[String, Any]
            }
            nodes.get(sid) match {
              case Some(sn: SeedNode) =>
                val colTypes = cfg.get("column_types") match {
                  case Some(ct: Map[String @unchecked, Any @unchecked]) =>
                    ct.map { case (k, v) => k -> v.toString }
                  case _ => Map.empty[String, String]
                }
                nodes(sid) = sn.copy(
                  columnTypes = colTypes,
                  delimiter = cfg.get("delimiter").map(_.toString).getOrElse(sn.delimiter))
              case _ =>
            }
          }
        case _ =>
      }
      // YAML-defined snapshots (reference schemas.py:268
      // _add_yaml_snapshot_nodes_to_manifest): an entry carrying a
      // `relation:` synthesizes `select * from {{ relation }}` with the
      // entry's config; entries without one are patches for SQL-block
      // snapshots and are left to the block definition.
      doc.get("snapshots") match {
        case Some(ss: List[Any @unchecked]) =>
          for (s0 <- ss) {
            val sm = s0.asInstanceOf[Map[String, Any]]
            sm.get("relation").map(_.toString) match {
              case Some(relation) =>
                val sname = sm.getOrElse("name",
                  throw new IllegalArgumentException(
                    "A snapshot must define the 'name' property.")).toString
                val cfgMap = sm.get("config") match {
                  case Some(c: Map[String @unchecked, Any @unchecked]) => c
                  case _ => Map.empty[String, Any]
                }
                val raw = s"select * from {{ $relation }}"
                val scan = Template.scan(raw)
                val deps = scan.refs.map(r => refId(r, name)) ++
                  scan.sources.map { case (s, t) => s"source.$name.$s.$t" }
                val node = SnapshotNode(sname, name, raw,
                  configFrom(cfgMap).copy(materialized = Materialized.SnapshotMat),
                  deps, scan.refs, scan.sources, checksum = FileHash.of(sm.toString))
                nodes(node.uniqueId) = node
              case None =>
            }
          }
        case _ =>
      }
      // exposures (reference nodes.py:1334) — graph members, never run
      doc.get("exposures") match {
        case Some(es: List[Any @unchecked]) =>
          for (e0 <- es) {
            val e = e0.asInstanceOf[Map[String, Any]]
            val deps = e.getOrElse("depends_on", Nil).asInstanceOf[List[Any]].map { d =>
              val ds = d.toString
              Template.scan(s"{{ $ds }}") match {
                case sc if sc.refs.nonEmpty => s"__ref__.$name.${sc.refs.head}"
                case sc if sc.sources.nonEmpty =>
                  val (a, b) = sc.sources.head; s"source.$name.$a.$b"
                case _ => ds
              }
            }
            val node = ExposureNode(e("name").toString, name,
              e.getOrElse("type", "dashboard").toString,
              e.getOrElse("owner", "").toString, deps,
              checksum = FileHash.of(e.toString))
            nodes(node.uniqueId) = node
          }
        case _ =>
      }
      // metrics (reference nodes.py:1404)
      doc.get("metrics") match {
        case Some(ms: List[Any @unchecked]) =>
          for (m0 <- ms) {
            val m = m0.asInstanceOf[Map[String, Any]]
            val model = m.getOrElse("model", "").toString
            val modelRef = Template.scan(s"{{ $model }}").refs.headOption.getOrElse(model)
            val node = MetricNode(m("name").toString, name,
              m.getOrElse("calculation", "count(*)").toString,
              modelRef, Seq(s"__ref__.$name.$modelRef"),
              checksum = FileHash.of(m.toString))
            nodes(node.uniqueId) = node
          }
        case _ =>
      }
      // semantic models (reference nodes.py SemanticModel) — metadata
      // over a base model, selectable, never executed
      doc.get("semantic_models") match {
        case Some(ss: List[Any @unchecked]) =>
          for (s0 <- ss) {
            val sm = s0.asInstanceOf[Map[String, Any]]
            val model = sm.getOrElse("model", "").toString
            val modelRef = Template.scan(s"{{ $model }}").refs.headOption.getOrElse(model)
            val node = SemanticModelNode(sm("name").toString, name,
              modelRef, Seq(s"__ref__.$name.$modelRef"),
              checksum = FileHash.of(sm.toString))
            nodes(node.uniqueId) = node
          }
        case _ =>
      }
      // saved queries (reference nodes.py SavedQuery) — depend on
      // semantic models / metrics by name
      doc.get("saved_queries") match {
        case Some(qs: List[Any @unchecked]) =>
          for (q0 <- qs) {
            val q = q0.asInstanceOf[Map[String, Any]]
            val deps = q.getOrElse("depends_on", Nil).asInstanceOf[List[Any]]
              .map(_.toString)
            val node = SavedQueryNode(q("name").toString, name, deps,
              checksum = FileHash.of(q.toString))
            nodes(node.uniqueId) = node
          }
        case _ =>
      }
      // unit tests (reference parser/unit_tests.py; fixture formats
      // dict | csv (inline or tests/fixtures/<name>.csv) | sql —
      // UnitTestFormat, artifacts unit_test_definition.py:25-55)
      doc.get("unit_tests") match {
        case Some(us: List[Any @unchecked]) =>
          // one fixture spec → Left(sql) or Right(rows)
          def fixtureOf(f: Map[String, Any]): Either[String, Seq[Map[String, Any]]] =
            f.getOrElse("format", "dict").toString match {
              case "sql" => Left(f.getOrElse("rows", "").toString)
              case "csv" =>
                val text = f.get("fixture") match {
                  case Some(fx) =>
                    Files.readString(dir.resolve(s"tests/fixtures/$fx.csv"))
                  case None => f.getOrElse("rows", "").toString
                }
                Right(parseCsvRows(text))
              case _ => Right(f.getOrElse("rows", Nil).asInstanceOf[List[Any]]
                .map(_.asInstanceOf[Map[String, Any]]))
            }
          for (u0 <- us) {
            val u = u0.asInstanceOf[Map[String, Any]]
            val uname = u("name").toString
            val model = u("model").toString
            val givenFixtures: Seq[(String, Either[String, Seq[Map[String, Any]]])] =
              u.get("given") match {
                case Some(gs: List[Any @unchecked]) =>
                  gs.map { g0 =>
                    val g = g0.asInstanceOf[Map[String, Any]]
                    g("input").toString -> fixtureOf(g)
                  }
                case _ => Nil
              }
            val expectFixture: Either[String, Seq[Map[String, Any]]] =
              u.get("expect") match {
                case Some(e: Map[String @unchecked, Any @unchecked]) => fixtureOf(e)
                case _ => Right(Nil)
              }
            // per-test overrides (reference UnitTestOverrides,
            // unit_test_definition.py:40-44; functional coverage
            // tests/functional/unit_testing/). macros: the body is the
            // override VALUE — a zero-param MacroDef whose expansion
            // ignores call args, exactly Jinja's behavior when a macro
            // is shadowed by a constant
            val ov = u.get("overrides") match {
              case Some(o: Map[String @unchecked, Any @unchecked]) => o
              case _ => Map.empty[String, Any]
            }
            def ovMap(key: String): Map[String, String] = ov.get(key) match {
              case Some(m: Map[String @unchecked, Any @unchecked]) =>
                m.map { case (k, v) => k -> String.valueOf(v) }
              case _ => Map.empty
            }
            val oMacros = ovMap("macros")
            val oVars = ovMap("vars")
            val oEnv = ovMap("env_vars")
            // macro/var overrides change parse-time expansion → bake a
            // per-test copy of the model body from its PRE-expansion
            // file text
            val overrideCode: Option[String] =
              if (oMacros.isEmpty && oVars.isEmpty) None
              else nodes.get(s"model.$name.$model").collect {
                case mn: ModelNode if mn.path.endsWith(".sql") =>
                  val orig = Files.readString(dir.resolve(mn.path))
                  val t2 = macroTable ++ oMacros.map { case (n, v) =>
                    n -> Macros.MacroDef(n, Nil, v) }
                  val v2 = vars ++ oVars
                  ControlFlow.render(Macros.expand(orig, t2), v2,
                    v2.getOrElse("target", "dev"))
              }
            val node = UnitTestNode(uname, name, model,
              givens = givenFixtures.collect { case (in, Right(rows)) => in -> rows }.toMap,
              expect = expectFixture.getOrElse(Nil),
              givenSql = givenFixtures.collect { case (in, Left(sql)) => in -> sql }.toMap,
              expectSql = expectFixture.left.toOption,
              overrideVars = oVars,
              overrideEnv = oEnv,
              overrideCode = overrideCode,
              checksum = FileHash.of(u.toString))
            unitTests(node.uniqueId) = node
          }
        case _ =>
      }
    }

    // merge dependency packages: their nodes carry their own
    // packageName, so uniqueIds can't collide with the root's; root
    // vars override package defaults (reference var precedence)
    val subs = localPkgDirs.map(pd => load0(pd.toString, cliVars, Some(macroTable)))
    val mergedVars = subs.foldLeft(Map.empty[String, String])(_ ++ _.vars) ++ vars
    // named selectors (selectors.yml; the string-definition form)
    val selectors: Map[String, String] = {
      val sf = dir.resolve("selectors.yml")
      if (!Files.exists(sf)) Map.empty
      else MiniYaml.parseMap(Files.readString(sf)).get("selectors") match {
        case Some(l: List[Any @unchecked]) => l.collect {
          case m: Map[String @unchecked, Any @unchecked]
            if m.contains("name") && m.contains("definition") =>
            m("name").toString -> m("definition").toString
        }.toMap
        case _ => Map.empty
      }
    }
    // resource names with spaces (reference manifest.py:607
    // check_for_spaces_in_resource_names): deprecation warning by
    // default; a hard error under require_resource_names_without_spaces
    locally {
      val spaced = nodes.values.collect {
        case n if n.name.contains(" ") => n.uniqueId
      }.toSeq.sorted
      if (spaced.nonEmpty) {
        if (flags.get("require_resource_names_without_spaces").exists(_.equalsIgnoreCase("true")))
          throw new IllegalArgumentException(
            s"Resource names cannot contain spaces: ${spaced.mkString(", ")}")
        else System.err.println(
          s"[graft] WARNING: resource names with spaces are deprecated: ${spaced.mkString(", ")}")
      }
    }

    Project(name, projectDir, mergedVars,
      Manifest(
        subs.foldLeft(nodes.toMap)((acc, sp) => acc ++ sp.manifest.nodes),
        subs.foldLeft(sources.toMap)((acc, sp) => acc ++ sp.manifest.sources),
        subs.foldLeft(unitTests.toMap)((acc, sp) => acc ++ sp.manifest.unitTests),
        onRunStart, onRunEnd, name,
        macroDeps = subs.foldLeft(macroDeps.toMap)((acc, sp) => acc ++ sp.manifest.macroDeps),
        macroSums = macroTable.map { case (k, d) =>
          k -> FileHash.of(d.params.mkString(",") + "|" + d.body).checksum },
        flags = flags,
        varsUsed = subs.foldLeft(varsUsed.toMap)((acc, sp) => acc ++ sp.manifest.varsUsed),
        matOverrides = matOverrides,
        unrenderedConfigs = subs.foldLeft(unrenderedCfgs.toMap)(
          (acc, sp) => acc ++ sp.manifest.unrenderedConfigs)),
      selectors, macroTable,
      restrictAccess =
        subs.foldLeft(Set.empty[String])(_ ++ _.restrictAccess) ++
          (if (proj.get("restrict-access").exists(v => String.valueOf(v).toBoolean)) Set(name)
           else Set.empty[String]),
      // reference _query_comment_from_cfg: bare string or {comment: …}
      queryComment = proj.get("query-comment") match {
        case Some(m: Map[String @unchecked, Any @unchecked]) =>
          m.get("comment").map(_.toString)
        case Some(s) => Some(s.toString)
        case None => None
      })
  }

  /** Schema-yml patch for one model entry: declared columns, contract,
    * governance, grants (reference schemas.py patch_node_properties).
    * Shared by the full parse and [[reparseFile]] so both paths
    * produce identical nodes.
    */
  private def applyModelYmlEntry(mn: ModelNode, m: Map[String, Any]): ModelNode = {
    // declared columns (for docs + contract enforcement,
    // reference components.py:59 ColumnInfo + Contract)
    val declared = declaredColumnsOf(m)
    val contractEnforced = m.get("config") match {
      case Some(cm: Map[String @unchecked, Any @unchecked]) =>
        cm.get("contract") match {
          case Some(ct: Map[String @unchecked, Any @unchecked]) =>
            ct.get("enforced").contains(true)
          case _ => false
        }
      case _ => false
    }
    // yml-config grants merge UNDER any SQL-file config()
    // (reference precedence: in-model config > schema yml)
    val ymlGrants: Map[String, Seq[String]] = m.get("config") match {
      case Some(cm: Map[String @unchecked, Any @unchecked]) =>
        cm.get("grants") match {
          case Some(gm: Map[String @unchecked, Any @unchecked]) => gm.map {
            case (k, v: Seq[Any @unchecked]) => k.toString -> v.map(_.toString)
            case (k, v) => k.toString -> Seq(v.toString)
          }
          case _ => Map.empty
        }
      case _ => Map.empty
    }
    // yml-config persist_docs, same precedence as grants
    val ymlPersistDocs: Map[String, Boolean] = m.get("config") match {
      case Some(cm: Map[String @unchecked, Any @unchecked]) =>
        cm.get("persist_docs") match {
          case Some(pm: Map[String @unchecked, Any @unchecked]) =>
            pm.map { case (k, v) => k.toString -> (v == true || v == "true") }
          case _ => Map.empty
        }
      case _ => Map.empty
    }
    mn.copy(columns = declared,
      description = m.getOrElse("description", mn.description).toString,
      config = mn.config.copy(
        contractEnforced = mn.config.contractEnforced || contractEnforced,
        group = m.get("group").map(_.toString).orElse(mn.config.group),
        access = m.get("access").map(_.toString).orElse(mn.config.access),
        version = m.get("latest_version").map(_.toString).orElse(mn.config.version),
        grants = if (mn.config.grants.nonEmpty) mn.config.grants else ymlGrants,
        persistDocs =
          if (mn.config.persistDocs.nonEmpty) mn.config.persistDocs else ymlPersistDocs))
  }

  /** The `dbt_project.yml` header every parse reads first: the project
    * name, vars (cli vars override the file's), the `+` model config
    * defaults (flat subset of the reference's config hierarchy,
    * config.py merge rules) and the behavior flags (reference
    * ProjectFlags legacy behaviors, core/dbt/contracts/project.py:
    * 318-346 — the `flags:` block). `yml` is the whole parsed file,
    * for the keys only a full parse reads (hooks, query-comment, ...).
    */
  private final case class Header(
      yml: Map[String, Any],
      name: String,
      vars: Map[String, String],
      modelDefaults: Map[String, Any],
      flags: Map[String, String])

  private def readHeader(dir: Path, cliVars: Map[String, String]): Header = {
    val projFile = dir.resolve("dbt_project.yml")
    val yml: Map[String, Any] =
      if (Files.exists(projFile)) MiniYaml.parseMap(Files.readString(projFile))
      else Map("name" -> "graft")
    def strings(key: String): Map[String, String] = yml.get(key) match {
      case Some(m: Map[String @unchecked, Any @unchecked]) =>
        m.map { case (k, v) => k -> String.valueOf(v) }
      case _ => Map.empty
    }
    val modelDefaults: Map[String, Any] = yml.get("models") match {
      case Some(m: Map[String @unchecked, Any @unchecked]) =>
        m.collect { case (k, v) if k.startsWith("+") => k.stripPrefix("+") -> v }
      case _ => Map.empty
    }
    Header(yml, yml.getOrElse("name", "graft").toString, strings("vars") ++ cliVars,
      modelDefaults, strings("flags"))
  }

  /** Per-node macro dependencies (reference depends_on.macros,
    * manifest.py build_macro_edges): given a macro table, the function
    * from a node's PRE-expansion text to the macros it calls directly,
    * transitively closed through macro bodies so an edit to a helper a
    * macro calls still selects its users via state:modified.macros.
    */
  private def macroClosure(macroTable: Map[String, Macros.MacroDef]): String => Seq[String] = {
    val callRes: Map[String, Regex] =
      macroTable.keys.map(k => k -> raw"(?<![\w])${Regex.quote(k)}\s*\(".r).toMap
    def direct(text: String): Set[String] =
      callRes.collect { case (k, re) if re.findFirstIn(text).isDefined => k }.toSet
    val directOf = macroTable.map { case (k, d) => k -> direct(d.body) }
    def close(seen: Set[String]): Set[String] = {
      val next = seen ++ seen.flatMap(directOf.getOrElse(_, Set.empty))
      if (next == seen) seen else close(next)
    }
    val closed = macroTable.keys.map(k => k -> close(Set(k))).toMap
    text => direct(text).flatMap(closed).toSeq.sorted
  }

  // var('name') / var('name', default): group 2 is the default literal
  private val VarRefRe =
    raw"""(?<![\w])var\(\s*['"]([^'"]+)['"](?:\s*\)|\s*,\s*([^()]*)\))?""".r

  /** Per-node var() references, resolved to their CURRENT values — the
    * comparison basis for `state_modified_compare_vars` (node checksums
    * cover the macro-expanded but var-UNRENDERED text, so a var-value
    * change flips state:modified only under the flag, matching the
    * reference's raw_code-based same_body + the 1.9 behavior flag).
    * Scanned over the EXPANDED text so var() calls a macro body
    * introduces are captured too. An UNSET var resolves to its
    * default, so the recorded value must too (the reference compares
    * resolved values, defaults included).
    */
  private def varsUsedIn(expanded: String, vars: Map[String, String]): Map[String, String] = {
    def stripQuotes(s: String): String =
      if (s.length >= 2 && ((s.head == '\'' && s.last == '\'') ||
        (s.head == '"' && s.last == '"'))) s.substring(1, s.length - 1)
      else s
    // cheap pre-check: most nodes reference no vars, and the regex scan
    // over every node's expanded text is the dominant cost of a large
    // parse — skip it outright when no var( appears
    if (!expanded.contains("var(")) Map.empty
    else VarRefRe.findAllMatchIn(expanded)
      .map(m => (m.group(1), Option(m.group(2)).map(d => stripQuotes(d.trim)))).toSeq
      .groupBy(_._1).map { case (n, os) =>
        n -> vars.getOrElse(n, os.flatMap(_._2).headOption.getOrElse(""))
      }
  }

  /** The directories whose `.sql` files [[SqlFileParser]] turns into
    * nodes: models, snapshots, analyses (either spelling; reference
    * parser/analysis.py:9) and singular tests (reference
    * singular_test.py).
    */
  private val SqlDirs = Seq("models", "snapshots", "analyses", "analysis", "tests")

  /** One parsed SQL file: its node and the node's entries in the
    * manifest's per-node maps (`macroDeps`, `varsUsed`,
    * `unrenderedConfigs`); an empty value means no entry.
    */
  private final case class SqlFile(
      node: Node,
      macroDeps: Seq[String],
      varsUsed: Map[String, String],
      unrenderedConfig: Map[String, String])

  /** The one builder of SQL-file nodes, for a full parse and for a
    * partial re-parse alike (reference partial.py hands changed files
    * back to the same per-type parsers a full parse runs). The file's
    * first directory under the project picks the node type (see
    * [[SqlDirs]]).
    */
  private final class SqlFileParser(
      dir: Path, header: Header, macroTable: Map[String, Macros.MacroDef]) {
    private val macroDepsOf = macroClosure(macroTable)
    import header.{name, vars}

    def parse(f: Path): SqlFile = {
      val rel = dir.relativize(f)
      val orig = Files.readString(f)
      // macro expansion, then parse-time control flow ({% if %}/
      // {% for %}; reference get_rendered — refs inside untaken branches
      // never reach the DAG, exactly like rendered Jinja)
      val expanded = Macros.expand(orig, macroTable)
      val raw = ControlFlow.render(expanded, vars, vars.getOrElse("target", "dev"))
      val scan = Template.scan(raw)
      val base = f.getFileName.toString.stripSuffix(".sql")
      val deps =
        scan.refs.map(r => refId(r, name)) ++
        scan.sources.map { case (s, t) => s"source.$name.$s.$t" }
      // checksum covers the EXPANDED (but var-unrendered) text: a
      // macro-body edit changes every caller's compiled SQL and must
      // register as state:modified (the reference tracks this via
      // depends_on.macros), while a var-VALUE change only registers
      // under state_modified_compare_vars (via the varsUsed facet)
      val checksum = FileHash.of(expanded)
      // node + its UNRENDERED config defaults (reference
      // unrendered_config, parser/base.py:377-388), where the type has
      // them: yml-layer defaults plus the file's config() call scanned
      // from the macro-expanded but var/control-flow-UNRENDERED text —
      // the comparison basis for
      // `state_modified_compare_more_unrendered_values`
      val (node, unrenderedDefaults): (Node, Option[Map[String, Any]]) =
        rel.getName(0).toString match {
          case "models" =>
            (ModelNode(
              name = base, packageName = name, rawCode = raw,
              config = configFrom(header.modelDefaults ++ scan.config),
              dependsOn = deps, refs = scan.refs, sources = scan.sources,
              path = rel.toString, checksum = checksum),
              Some(header.modelDefaults))
          case "snapshots" =>
            (SnapshotNode(base, name, raw,
              configFrom(scan.config).copy(materialized = Materialized.SnapshotMat),
              deps, scan.refs, scan.sources, checksum = checksum),
              Some(Map.empty))
          case "analyses" | "analysis" =>
            (AnalysisNode(base, name, raw, configFrom(scan.config), deps,
              scan.refs, scan.sources, checksum = checksum, path = rel.toString),
              None)
          case "tests" =>
            (TestNode(base, name, raw,
              configFrom(scan.config).copy(materialized = Materialized.View),
              deps, scan.refs, checksum = checksum, path = rel.toString),
              None)
          case _ => throw new IllegalArgumentException(s"not a SQL node file: $rel")
        }
      SqlFile(node, macroDepsOf(orig), varsUsedIn(expanded, vars),
        unrenderedDefaults.fold(Map.empty[String, String]) { defaults =>
          (defaults ++ Template.scan(expanded).config).map { case (k, v) => k -> String.valueOf(v) }
        })
    }
  }

  /** The schema yml files a parse reads, in application order. */
  private def schemaYmlFiles(dir: Path): Seq[Path] =
    filesUnder(dir.resolve("models"), ".yml") ++ filesUnder(dir.resolve("models"), ".yaml") ++
      filesUnder(dir.resolve("seeds"), ".yml") ++ filesUnder(dir.resolve("snapshots"), ".yml")

  /** Fine-grained re-parse of ONE changed root-project file into an
    * already-loaded project (reference core/dbt/parser/partial.py:68 —
    * the "schedule only changed files" half; [[PartialParse]] owns the
    * eligibility gate that falls back to a full parse for files with
    * cross-file effects). A seed .csv refreshes its checksum; a SQL
    * file goes through the full parse's [[SqlFileParser]] with the
    * project's (unchanged) macro table, a model gets its schema-yml
    * patches re-applied, and the node's entries in the four per-node
    * manifest maps are replaced. Refs are then re-resolved
    * (resolveRefs is idempotent: resolved dependsOn ids pass through).
    */
  def reparseFile(
      p: Project,
      projectDir: String,
      cliVars: Map[String, String],
      rel: String): Project = {
    val dir = Paths.get(projectDir)
    if (rel.startsWith("seeds/") && rel.endsWith(".csv")) reparseSeedFile(p, dir, rel)
    else {
      val b = new SqlFileParser(dir, readHeader(dir, cliVars), p.macros).parse(dir.resolve(rel))
      // schema-yml patches (yml files are unchanged under PartialParse's
      // eligibility contract)
      val node = b.node match {
        case mn: ModelNode =>
          schemaYmlFiles(dir).foldLeft(mn) { (n, yf) =>
            MiniYaml.parseMap(Files.readString(yf)).get("models") match {
              case Some(ms: List[Any @unchecked]) =>
                ms.map(_.asInstanceOf[Map[String, Any]])
                  .filter(_("name").toString == mn.name).foldLeft(n)(applyModelYmlEntry)
              case _ => n
            }
          }
        case n => n
      }
      val uid = node.uniqueId
      def entry[V <: Iterable[_]](m: Map[String, V], v: V): Map[String, V] =
        if (v.nonEmpty) m + (uid -> v) else m - uid
      val m = p.manifest
      resolveRefs(p.copy(manifest = m.copy(
        nodes = m.nodes + (uid -> node),
        macroDeps = entry(m.macroDeps, b.macroDeps),
        varsUsed = entry(m.varsUsed, b.varsUsed),
        unrenderedConfigs = entry(m.unrenderedConfigs, b.unrenderedConfig))))
    }
  }

  /** Seed .csv content edit: the node's identity/config come from the
    * file NAME and schema yml (both unchanged under the eligibility
    * contract) — only the checksum tracks content, and it must, or
    * `state:modified` misses seed data changes (the reference hashes
    * seed file content into the manifest the same way).
    */
  private def reparseSeedFile(p: Project, dir: Path, rel: String): Project = {
    val f = dir.resolve(rel)
    val sname = f.getFileName.toString.stripSuffix(".csv")
    val uid = s"seed.${p.name}.$sname"
    p.manifest.nodes.get(uid) match {
      case Some(n: graft.core.SeedNode) =>
        p.copy(manifest = p.manifest.copy(nodes = p.manifest.nodes +
          (uid -> n.copy(checksum = FileHash.of(Files.readString(f))))))
      case _ => throw new IllegalStateException(s"no seed node for $rel")
    }
  }

  /** packages.yml `- local:` entries resolved against `dir` — shared
    * with the partial-parse cache so package edits invalidate it.
    */
  def localPackageDirs(dir: Path): Seq[Path] = {
    // lock-respecting install (reference task/deps.py:206-218 run():
    // a lock generated from the CURRENT spec pins hub versions until
    // `deps --upgrade`; a stale lock — spec edited since — is ignored
    // and the fresh spec resolves, exactly the reference's re-lock
    // trigger condition)
    val spec = packagesSpec(dir)
    val entries = lockEntries(dir) match {
      case Some((locked, hash)) if hash == specHash(spec) => locked
      case _ => spec
    }
    entries.flatMap(resolvePackageEntry(dir, _)).map(_._1)
  }

  /** packages.yml entries as raw maps (empty when absent). */
  def packagesSpec(dir: Path): Seq[Map[String, Any]] = {
    val pf = dir.resolve("packages.yml")
    if (!Files.exists(pf)) Nil
    else MiniYaml.parseMap(Files.readString(pf)).get("packages") match {
      case Some(l: List[Any @unchecked]) => l.collect {
        case m: Map[String @unchecked, Any @unchecked] => m
      }
      case _ => Nil
    }
  }

  /** SHA-1 of the canonical spec (reference _create_sha1_hash,
    * task/deps.py:42): decides whether an existing lock still
    * corresponds to packages.yml.
    */
  def specHash(spec: Seq[Map[String, Any]]): String = {
    val canon = spec.map(m => m.toSeq.map { case (k, v) => s"$k=$v" }.sorted.mkString("{", ",", "}"))
      .mkString("[", ";", "]")
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Parsed package-lock.yml: (locked entries, recorded spec hash). */
  def lockEntries(dir: Path): Option[(Seq[Map[String, Any]], String)] = {
    val lf = dir.resolve("package-lock.yml")
    if (!Files.exists(lf)) None
    else {
      val m = MiniYaml.parseMap(Files.readString(lf))
      val entries = m.get("packages") match {
        case Some(l: List[Any @unchecked]) => l.collect {
          case e: Map[String @unchecked, Any @unchecked] => e
        }
        case _ => Nil
      }
      Some((entries, m.getOrElse("sha1_hash", "").toString))
    }
  }

  /** Resolve ONE packages.yml/lock entry → (package root, pinned
    * entry). The pinned entry echoes the input for local/tarball (they
    * are already reproducible addresses) and pins hub entries to the
    * exact version the range resolved to — what the lock records.
    */
  private def resolvePackageEntry(
      dir: Path, m: Map[String, Any]): Option[(Path, Map[String, Any])] =
    if (m.contains("local"))
      Some((dir.resolve(m("local").toString).normalize, m))
    else if (m.contains("tarball"))
      Some((untarPackage(dir, m("tarball").toString,
        m.getOrElse("name", "package").toString), m))
    else if (m.contains("package")) {
      val (p, pinned) = hubPackage(dir, m("package").toString, m.get("version"),
        m.get("hub").map(_.toString))
      Some((p, m + ("version" -> pinned)))
    }
    else if (m.contains("git")) {
      val (p, sha) = gitPackage(dir, m("git").toString,
        m.get("revision").map(_.toString), m.get("subdirectory").map(_.toString))
      Some((p, m + ("revision" -> sha)))
    } else None

  /** packages.yml `- git: URL` + `revision:`/`subdirectory:` entries
    * (reference GitPackage, core/dbt/deps/git.py). Zero-egress subset:
    * only LOCAL repositories resolve (`file://` URLs or plain paths —
    * the git transport the sandbox can actually serve); remote schemes
    * error with the reason. Semantics match the reference: clone (or
    * fetch an existing checkout), check out the requested revision
    * (branch / tag / sha; default = the remote HEAD), and PIN the lock
    * entry to the exact commit sha the revision resolved to — a later
    * install from the lock reproduces the same tree even if the source
    * repository has moved on (the reference's warn-unpinned/pin flow).
    */
  private def gitPackage(dir: Path, url: String, revision: Option[String],
      subdirectory: Option[String]): (Path, String) = {
    def git(args: String*): String = {
      val pb = new ProcessBuilder(("git" +: args): _*)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      if (p.waitFor() != 0) throw new IllegalStateException(
        s"git ${args.mkString(" ")} failed:\n$out")
      out.trim
    }
    val raw = url.stripPrefix("file://")
    if (raw.matches("^[a-z+]+://.*") || raw.contains("@"))
      throw new IllegalArgumentException(
        s"git package '$url': only local repositories (file:// or a path) " +
          "resolve in this zero-egress environment")
    val srcPath = dir.resolve(raw).normalize
    require(Files.exists(srcPath), s"git package: repository $srcPath not found")
    val name = srcPath.getFileName.toString.stripSuffix(".git")
    val dest = dir.resolve("dbt_packages").resolve(s"${name}_git")
    Files.createDirectories(dest.getParent)
    if (!Files.exists(dest.resolve(".git")))
      git("clone", "--quiet", srcPath.toString, dest.toString)
    else
      git("-C", dest.toString, "fetch", "--quiet", "--tags", "origin")
    // detached checkout: branch names resolve through origin/* so a
    // fetch actually moves them; tags and shas resolve directly
    val target = revision.getOrElse("origin/HEAD")
    val resolved =
      try git("-C", dest.toString, "rev-parse", "--verify", s"$target^{commit}")
      catch { case _: IllegalStateException =>
        git("-C", dest.toString, "rev-parse", "--verify", s"origin/$target^{commit}")
      }
    git("-C", dest.toString, "checkout", "--quiet", "--detach", resolved)
    val root = subdirectory.map(dest.resolve).getOrElse(dest)
    require(Files.exists(root.resolve("dbt_project.yml")),
      s"git package '$url': no dbt_project.yml at ${subdirectory.getOrElse("repo root")}")
    (root, resolved)
  }

  /** `deps` (reference task/deps.py:202-260 run()): write/refresh
    * package-lock.yml when absent, `upgrade` is set, or packages.yml
    * changed since the lock; then resolve every entry from the lock
    * (no-op install: resolution IS materialization here — hub/tarball
    * entries land under dbt_packages/). `lockOnly` stops after the
    * lock write (reference --lock).
    * Returns the resolved package roots.
    */
  def deps(dir: Path, upgrade: Boolean = false, lockOnly: Boolean = false): Seq[Path] = {
    val spec = packagesSpec(dir)
    val lf = dir.resolve("package-lock.yml")
    val hash = specHash(spec)
    val needLock = upgrade || (lockEntries(dir) match {
      case Some((_, recorded)) => recorded != hash
      case None => true
    })
    if (needLock) {
      // ONE resolution pass yields both the pins for the lock AND the
      // materialized package roots — re-resolving from the just-written
      // lock would repeat every tarball/hub untar for nothing
      val resolved = spec.flatMap(resolvePackageEntry(dir, _))
      val yaml = new StringBuilder("packages:\n")
      resolved.map(_._2).foreach { e =>
        val keys = e.toSeq.sortBy(_._1)
        yaml ++= s"  - ${keys.head._1}: ${keys.head._2}\n"
        keys.tail.foreach { case (k, v) => yaml ++= s"    $k: $v\n" }
      }
      yaml ++= s"sha1_hash: $hash\n"
      Files.writeString(lf, yaml.toString)
      if (lockOnly) Nil else resolved.map(_._1)
    } else if (lockOnly) Nil
    else lockEntries(dir).map(_._1).getOrElse(Nil)
      .flatMap(resolvePackageEntry(dir, _)).map(_._1)
  }

  /** packages.yml `- package: org/name` + `version:` entries — the hub
    * registry protocol (reference RegistryPinnedPackage,
    * core/dbt/deps/registry.py) against a LOCAL index: the sandbox has
    * zero egress, so the index base comes from the entry's `hub:` key
    * or the reference's `DBT_PACKAGE_HUB_URL` env var and must be a
    * `file://` (or plain) path. Index layout mirrors the registry's
    * org/name/version addressing:
    *
    *   <index>/<org>/<name>/<version>/        an unpacked package root
    *   <index>/<org>/<name>/<version>.tar.gz  or a pinned tarball
    *
    * `version` may be an exact string or a list of range clauses
    * (">=1.0.0", "<2.0.0") — the resolver picks the HIGHEST available
    * version satisfying every clause (reference resolve_ranges), and
    * errors listing the available versions when none does.
    */
  private def hubPackage(
      dir: Path, spec: String, version: Option[Any], hub: Option[String]): (Path, String) = {
    val base0 = hub.orElse(sys.env.get("DBT_PACKAGE_HUB_URL")).getOrElse(
      throw new IllegalArgumentException(
        s"hub package '$spec': no registry reachable in this environment — " +
          "set `hub: file://<index-dir>` on the entry or DBT_PACKAGE_HUB_URL"))
    val raw = base0.stripPrefix("file://")
    if (raw.matches("^[a-z+]+://.*"))
      throw new IllegalArgumentException(
        s"hub package '$spec': only file:// indexes resolve here (got $base0)")
    val pkgDir = dir.resolve(raw).resolve(spec).normalize
    require(Files.exists(pkgDir),
      s"hub package '$spec': not in the index at $pkgDir")
    // available versions: unpacked dirs and/or tarballs
    val tarRe = raw"(.+)\.(?:tar\.gz|tgz)".r
    val avail: Seq[(String, Path)] = listDir(pkgDir)
      .flatMap { p =>
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) Some(n -> p)
        else n match { case tarRe(v) => Some(v -> p); case _ => None }
      }.sortBy { case (v, _) => semver(v) }(semverOrd)
    require(avail.nonEmpty, s"hub package '$spec': no versions in index $pkgDir")
    // dbt accepts both the list form and a comma-separated range string
    // (">=1.0.0,<2.0.0") — split either into individual clauses
    val clauses: Seq[String] = (version match {
      case None => Nil
      case Some(l: Seq[Any @unchecked]) => l.map(_.toString)
      case Some(v) => Seq(v.toString)
    }).flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    avail.reverseIterator.find { case (v, _) => clauses.forall(satisfies(v, _)) } match {
      case Some((v, p)) =>
        (if (Files.isDirectory(p)) p
         else untarPackage(dir, dir.relativize(p).toString,
           spec.replace('/', '_') + "_" + v),
          v)
      case None => throw new IllegalArgumentException(
        s"hub package '$spec': no version matching ${clauses.mkString(", ")} " +
          s"(available: ${avail.map(_._1).mkString(", ")})")
    }
  }

  /** Dotted-numeric version key. Pre-release tails sort BELOW the bare
    * release (semver: 1.2.0-rc1 < 1.2.0), so the empty tail maps to a
    * sentinel above any printable tail text.
    */
  private def semver(v: String): (Seq[Int], String) = {
    val core = v.stripPrefix("v").takeWhile(c => c.isDigit || c == '.')
    val tail = v.drop(core.length + (if (v.startsWith("v")) 1 else 0))
    (core.split('.').toSeq.filter(_.nonEmpty).map(_.toInt).padTo(3, 0),
      if (tail.isEmpty) "\uffff" else tail)
  }

  private val semverOrd: Ordering[(Seq[Int], String)] = {
    import Ordering.Implicits._
    Ordering.Tuple2(implicitly[Ordering[Seq[Int]]], Ordering.String)
  }

  private def satisfies(v: String, clause: String): Boolean = {
    val c = clause.trim
    val (op, bound) = c.span(ch => ch == '>' || ch == '<' || ch == '=' || ch == '!')
    val cmp = semverOrd.compare(semver(v), semver(bound.trim))
    op match {
      case ">=" => cmp >= 0
      case "<=" => cmp <= 0
      case ">" => cmp > 0
      case "<" => cmp < 0
      case "!=" => cmp != 0
      case "" | "=" | "==" => cmp == 0
      case other => throw new IllegalArgumentException(
        s"bad version clause '$clause' (operator '$other')")
    }
  }

  /** packages.yml `- tarball:` entries (reference TarballPinnedPackage,
    * core/dbt/deps/tarball.py:30-90): the archive is extracted into
    * `dbt_packages/<name>_untarred` and must contain exactly one
    * top-level folder — that folder is the package root (reference
    * structure check, tarball.py:63-70). Only `file://` / plain-path
    * archives resolve here; http(s) needs egress (hub/git likewise)
    * and stays out of scope. Extraction is cached on the archive's
    * mtime so repeated parses don't re-untar.
    */
  private def untarPackage(dir: Path, tarball: String, name: String): Path = {
    val raw = tarball.stripPrefix("file://")
    if (raw.matches("^[a-z+]+://.*"))
      throw new IllegalArgumentException(
        s"tarball package '$name': only file:// archives resolve in this " +
          s"environment (got $tarball)")
    val tarPath = dir.resolve(raw).normalize
    require(Files.exists(tarPath), s"tarball package '$name': $tarPath not found")
    val untarred = dir.resolve("dbt_packages").resolve(s"${name}_untarred")
    val fresh = Files.exists(untarred) &&
      Files.getLastModifiedTime(untarred).compareTo(Files.getLastModifiedTime(tarPath)) >= 0
    if (!fresh) {
      if (Files.exists(untarred))
        Files.walk(untarred).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      Files.createDirectories(untarred)
      val base = Files.newInputStream(tarPath)
      val in = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
        if (raw.endsWith(".gz") || raw.endsWith(".tgz"))
          new org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream(base)
        else base)
      try {
        var e = in.getNextEntry
        while (e != null) {
          val out = untarred.resolve(e.getName).normalize
          // zip-slip guard: an entry must not escape the package dir
          require(out.startsWith(untarred), s"tar entry escapes package dir: ${e.getName}")
          if (e.isDirectory) Files.createDirectories(out)
          else {
            Files.createDirectories(out.getParent)
            Files.copy(in, out, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
          e = in.getNextEntry
        }
      } finally in.close()
      Files.setLastModifiedTime(untarred, Files.getLastModifiedTime(tarPath))
    }
    val children = listDir(untarred).filter(Files.isDirectory(_))
    require(children.size == 1,
      s"tarball package '$name': the archive must contain exactly one " +
        s"top-level folder (found ${children.size})")
    children.head
  }

  /** Files.list with the stream CLOSED (an unclosed stream leaks the
    * directory fd until GC).
    */
  private def listDir(d: Path): Seq[Path] = {
    val st = Files.list(d)
    try st.iterator().asScala.toSeq finally st.close()
  }

  private def filesUnder(d: Path, ext: String): Seq[Path] =
    if (!Files.exists(d)) Nil
    else Files.walk(d).iterator().asScala
      .filter(p => p.toString.endsWith(ext) && Files.isRegularFile(p))
      .toSeq.sortBy(_.toString)

  /** Inline/file CSV fixture rows (reference UnitTestFormat.CSV): first
    * line is the header; empty cells read as null, like the reference's
    * agate load.
    */
  private def parseCsvRows(text: String): Seq[Map[String, Any]] = {
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    if (lines.length < 2) return Nil
    val header = lines.head.split(",", -1).map(_.trim)
    lines.tail.toSeq.map { line =>
      header.zip(line.split(",", -1).map(_.trim)).collect {
        case (h, v) if v.nonEmpty => h -> (v: Any)
      }.toMap
    }
  }

  /** Declared columns of a model/source YAML entry: name, description,
    * data_type, constraints (reference components.py:59 ColumnInfo +
    * :39 ColumnLevelConstraint — `- not_null` shorthand or
    * `{type: check, expression: …}` maps).
    */
  private def declaredColumnsOf(m: Map[String, Any]): Seq[ColumnInfo] =
    m.getOrElse("columns", Nil).asInstanceOf[List[Any]].map { c0 =>
      val c = c0.asInstanceOf[Map[String, Any]]
      val cons = c.getOrElse("constraints", Nil).asInstanceOf[List[Any]].map {
        case cm: Map[String @unchecked, Any @unchecked] =>
          (cm.getOrElse("type", "").toString, cm.get("expression").map(_.toString))
        case s => (String.valueOf(s), None)
      }
      ColumnInfo(c("name").toString,
        c.getOrElse("description", "").toString,
        c.get("data_type").map(_.toString),
        constraints = cons)
    }

  private def refId(ref: String, pkg: String): String = {
    // seed/snapshot refs share the ref() namespace; resolved later — at
    // parse time guess model, fixed in a resolution pass below
    s"__ref__.$pkg.$ref"
  }

  /** Freshness period: {count: N, period: minute|hour|day}
    * (reference components.py:97-130 Time).
    */
  private def parsePeriod(v: Option[Any]): Option[java.time.Duration] = v match {
    case Some(m: Map[String @unchecked, Any @unchecked]) =>
      val count = m.getOrElse("count", 0).toString.toLong
      val unit = m.getOrElse("period", "hour").toString match {
        case "minute" => java.time.Duration.ofMinutes(count)
        case "hour" => java.time.Duration.ofHours(count)
        case "day" => java.time.Duration.ofDays(count)
        case other => throw new IllegalArgumentException(s"bad period: $other")
      }
      Some(unit)
    case _ => None
  }

  /** Generic-test synthesis from `columns: [{name, tests: [...]}]`
    * (reference TestBuilder, generic_test_builders.py:69-378).
    */
  private def columnTests(
      entity: Map[String, Any],
      pkg: String,
      modelRef: String,
      attachedName: String,
      deps: Seq[String],
      macros: Map[String, Macros.MacroDef],
      path: String = ""): Seq[TestNode] = {
    val cols = entity.getOrElse("columns", Nil).asInstanceOf[List[Any]]
    cols.flatMap { c0 =>
      val c = c0.asInstanceOf[Map[String, Any]]
      val colName = c("name").toString
      val tests = c.getOrElse("tests", c.getOrElse("data_tests", Nil)).asInstanceOf[List[Any]]
      tests.map { t =>
        val (testName, kwargs) = t match {
          case s: String => (s, Map.empty[String, Any])
          case m: Map[String @unchecked, Any @unchecked] =>
            val (k, v) = m.head
            (k, v.asInstanceOf[Map[String, Any]])
          case other => throw new IllegalArgumentException(s"bad test spec: $other")
        }
        TestBuilder.build(testName, modelRef, colName, kwargs, attachedName, pkg,
          deps, macros, path)
      }
    }
  }

  def configFrom(cfg: Map[String, Any]): NodeConfig = {
    def str(k: String): Option[String] = cfg.get(k).map(_.toString)
    def strSeq(k: String): Seq[String] = cfg.get(k) match {
      case Some(s: String) => Seq(s)
      case Some(l: Seq[Any @unchecked]) => l.map(_.toString)
      case _ => Nil
    }
    NodeConfig(
      enabled = cfg.get("enabled").forall(_ == true),
      materialized = str("materialized").map(Materialized.parse).getOrElse(Materialized.View),
      incrementalStrategy = str("incremental_strategy"),
      uniqueKey = strSeq("unique_key"),
      incrementalPredicates = strSeq("incremental_predicates"),
      onSchemaChange = str("on_schema_change").getOrElse("ignore"),
      onConfigurationChange = str("on_configuration_change").getOrElse("apply"),
      fullRefresh = cfg.get("full_refresh").map(_ == true),
      eventTime = str("event_time"),
      batchSize = str("batch_size").map(BatchSize.parse),
      lookback = str("lookback").map(_.toInt).getOrElse(1),
      begin = str("begin").map(parseInstant),
      strategy = str("strategy"),
      updatedAt = str("updated_at"),
      checkCols = cfg.get("check_cols") match {
        case Some("all") => None
        case Some(l: Seq[Any @unchecked]) => Some(l.map(_.toString))
        case Some(s: String) => Some(Seq(s))
        case _ => None
      },
      invalidateHardDeletes = cfg.get("invalidate_hard_deletes").contains(true),
      dbtValidToCurrent = str("dbt_valid_to_current"),
      snapshotMetaColumnNames = cfg.get("snapshot_meta_column_names") match {
        case Some(m: Map[String @unchecked, Any @unchecked]) =>
          val renames = m.map { case (k, v) => k.toString -> v.toString }
          val known = Set("dbt_valid_from", "dbt_valid_to", "dbt_scd_id", "dbt_updated_at")
          val bad = renames.keySet -- known
          require(bad.isEmpty,
            s"snapshot_meta_column_names: unknown key(s) ${bad.mkString(", ")} (valid: ${known.mkString(", ")})")
          renames
        case _ => Map.empty
      },
      severity = str("severity").getOrElse("error").toLowerCase,
      warnIf = str("warn_if").getOrElse("!= 0"),
      errorIf = str("error_if").getOrElse("!= 0"),
      failCalc = str("fail_calc").getOrElse("count(*)"),
      limit = str("limit").map(_.toInt),
      storeFailures = cfg.get("store_failures").contains(true),
      tags = strSeq("tags"),
      preHook = strSeq("pre_hook") ++ strSeq("pre-hook"),
      postHook = strSeq("post_hook") ++ strSeq("post-hook"),
      schema = str("schema"),
      alias = str("alias"),
      partitionBy = strSeq("partition_by"),
      bucketBy = strSeq("bucket_by"),
      buckets = str("buckets").map(_.toInt).getOrElse(0),
      contractEnforced = cfg.get("contract") match {
        case Some(m: Map[String @unchecked, Any @unchecked]) => m.get("enforced").contains(true)
        case _ => false
      },
      group = str("group"),
      access = str("access"),
      version = str("version"),
      grants = cfg.get("grants") match {
        case Some(m: Map[String @unchecked, Any @unchecked]) => m.map {
          case (k, v: Seq[Any @unchecked]) => k.toString -> v.map(_.toString)
          case (k, v) => k.toString -> Seq(v.toString)
        }
        case _ => Map.empty
      },
      persistDocs = cfg.get("persist_docs") match {
        case Some(m: Map[String @unchecked, Any @unchecked]) =>
          m.map { case (k, v) => k.toString -> (v == true || v == "true") }
        case Some(other) => throw new IllegalArgumentException(
          // reference PersistDocsValueTypeError (providers.py:470)
          s"persist_docs must be a dict like {relation: true, columns: true}, got: $other")
        case None => Map.empty
      })
  }

  def parseInstant(s: String): java.time.Instant = {
    val t = s.trim
    if (t.contains("T")) java.time.Instant.parse(if (t.endsWith("Z")) t else t + "Z")
    else if (t.contains(" "))
      java.time.LocalDateTime.parse(t.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC)
    else java.time.LocalDate.parse(t).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
  }

  /** Resolution pass: rewrite `__ref__` placeholders to real unique ids
    * (reference process_refs, manifest.py:460-470).
    */
  def resolveRefs(p: Project): Project = {
    val m = p.manifest
    /** Model-governance gate (reference manifest.py
      * is_invalid_private_ref / is_invalid_protected_ref, nodes.py:445
      * ModelNode.access): a `private` model is only visible inside its
      * group; a `protected` (the default) model of a package that sets
      * `restrict-access: true` is only visible inside that package.
      * Enforced at resolution time, like the reference's parse-time
      * DbtReferenceError — not at runtime.
      */
    def checkAccess(caller: Node, target: Node): Unit = (caller, target) match {
      case (c: ModelNode, t: ModelNode) =>
        t.config.access match {
          case Some("private") if c.config.group != t.config.group =>
            throw new IllegalArgumentException(
              s"access violation: ${c.uniqueId} cannot ref private model ${t.uniqueId} " +
                s"(group ${t.config.group.getOrElse("<none>")})")
          case _ if p.restrictAccess.contains(t.packageName) &&
              t.packageName != c.packageName &&
              !t.config.access.contains("public") =>
            throw new IllegalArgumentException(
              s"access violation: ${c.uniqueId} cannot ref protected model ${t.uniqueId} " +
                s"of restricted package ${t.packageName}")
          case _ => ()
        }
      case _ => ()
    }
    def fix(caller: Node): Seq[String] = caller.dependsOn.map { d =>
      if (!d.startsWith("__ref__.")) d
      else {
        val parts = d.split("\\.", 3)
        val (callerPkg, refName) = (parts(1), parts(2))
        val target = m.resolveRefSpec(refName, callerPkg = Some(callerPkg)).getOrElse(
          throw new IllegalArgumentException(s"ref not found: $refName"))
        checkAccess(caller, target)
        target.uniqueId
      }
    }
    val nodes2: Map[String, Node] = m.nodes.map {
      case (id, n: ModelNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n: SnapshotNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n: AnalysisNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n: TestNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n: ExposureNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n: MetricNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n: SemanticModelNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n: SavedQueryNode) => id -> n.copy(dependsOn = fix(n))
      case (id, n) => id -> n
    }
    p.copy(manifest = m.copy(nodes = nodes2))
  }
}

/** Generic data tests as SQL templates returning FAILING rows
  * (reference generic_test_builders.py build_raw_code:360 calling the
  * dbt-adapters test macros; the four builtins re-expressed directly).
  */
object TestBuilder {
  def build(
      testName: String,
      modelRef: String,
      columnName: String,
      kwargs: Map[String, Any],
      attachedName: String,
      pkg: String,
      deps: Seq[String],
      macros: Map[String, Macros.MacroDef] = Map.empty,
      path: String = ""): TestNode = {
    // `where` config → filtered subquery (reference get_where_subquery)
    val where = kwargs.get("where").map(_.toString)
    val rel = where match {
      case Some(w) => s"(SELECT * FROM $modelRef WHERE $w) __subq"
      case None => modelRef
    }
    val (nodeName, sql, extraDeps) = testName match {
      case "unique" =>
        (s"unique_${attachedName}_$columnName",
          s"""SELECT $columnName AS unique_field, count(*) AS n_records
             |FROM $rel
             |WHERE $columnName IS NOT NULL
             |GROUP BY $columnName HAVING count(*) > 1""".stripMargin, Nil)
      case "not_null" =>
        (s"not_null_${attachedName}_$columnName",
          s"SELECT * FROM $rel WHERE $columnName IS NULL", Nil)
      case "accepted_values" =>
        val values = kwargs.getOrElse("values", Nil).asInstanceOf[Seq[Any]]
        val quoteVals = kwargs.get("quote").forall(_ == true)
        val list = values.map(v => if (quoteVals) s"'$v'" else v.toString).mkString(", ")
        (s"accepted_values_${attachedName}_$columnName",
          s"""SELECT $columnName AS value_field, count(*) AS n_records
             |FROM $rel
             |WHERE $columnName NOT IN ($list)
             |GROUP BY $columnName""".stripMargin, Nil)
      case "relationships" =>
        val to = kwargs("to").toString // e.g. ref('parent')
        val field = kwargs("field").toString
        (s"relationships_${attachedName}_${columnName}__$field",
          s"""SELECT child.$columnName AS from_field
             |FROM $rel child LEFT JOIN {{ $to }} parent
             |  ON child.$columnName = parent.$field
             |WHERE child.$columnName IS NOT NULL AND parent.$field IS NULL""".stripMargin,
          Nil)
      case other if macros.contains("test_" + other) || macros.contains(other) =>
        // custom generic test (reference generic_test_builders: a user
        // {% test %} macro called by name from schema YAML — stored as
        // test_<name>; a plain macro of the same name also works).
        // Standard params model/column_name get the resolved relation +
        // column; every other YAML kwarg passes through as a macro kwarg.
        val macroName = if (macros.contains("test_" + other)) "test_" + other else other
        val reserved = Set("where", "config", "severity", "warn_if", "error_if",
          "fail_calc", "limit", "store_failures")
        def kwLit(v: Any): String = v match {
          case s: String => "'" + s.replace("'", "''") + "'"
          case xs: Seq[_] => xs.map(kwLit).mkString("(", ", ", ")")
          case other2 => String.valueOf(other2)
        }
        val extra = kwargs.filterNot { case (k, _) => reserved(k) }
          .map { case (k, v) => s", $k=${kwLit(v)}" }.mkString
        val call = s"{{ $macroName(model=$rel, column_name='$columnName'$extra) }}"
        val expanded = Macros.expand(call, macros)
        require(expanded != call, s"custom test macro failed to expand: $other")
        // kwargs-hash suffix covers ALL kwargs (incl. where/config), so
        // two parameterizations of one test on one column stay distinct
        // (reference get_hashable_md)
        val suffix =
          if (kwargs.isEmpty) ""
          else "_" + FileHash.of(kwargs.toSeq
            .map { case (k, v) => s"$k=${String.valueOf(v)}" }.sorted.mkString(","))
            .checksum.take(8)
        (s"${other}_${attachedName}_$columnName$suffix", expanded, Nil)
      case other =>
        throw new IllegalArgumentException(s"unknown generic test: $other")
    }
    val scan = graft.parser.Template.scan(sql)
    val allDeps = deps ++ scan.refs.map(r => s"__ref__.$pkg.$r") ++
      scan.sources.map { case (s, t) => s"source.$pkg.$s.$t" }
    val cfgMap = kwargs.get("config") match {
      case Some(m: Map[String @unchecked, Any @unchecked]) => m
      case _ => kwargs.filter { case (k, _) =>
        Set("severity", "warn_if", "error_if", "fail_calc", "limit", "store_failures")(k) }
    }
    TestNode(
      name = nodeName, packageName = pkg, rawCode = sql,
      config = ProjectLoader.configFrom(cfgMap),
      dependsOn = allDeps.distinct, refs = scan.refs,
      attachedTo = deps.headOption, columnName = Some(columnName),
      checksum = FileHash.of(sql), path = path)
  }
}
