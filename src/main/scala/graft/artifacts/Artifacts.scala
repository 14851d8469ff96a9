package graft.artifacts

import java.nio.file.{Files, Paths}

import graft.core._

/** Hand-rolled JSON writer (no external deps resolvable — build.sbt). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${quote(String.valueOf(k))}:${write(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.map(write).getOrElse("null")
    case i: java.time.Instant => quote(i.toString)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Minimal JSON reader (objects/arrays/strings/numbers/bools/null) for
    * reading back our own artifacts (state/retry).
    */
  def parse(s: String): Any = new P(s).value()

  private final class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ => num()
      }
    }
    private def obj(): Map[String, Any] = {
      val out = scala.collection.mutable.LinkedHashMap[String, Any]()
      i += 1; ws()
      if (s(i) == '}') { i += 1; return out.toMap }
      while (true) {
        ws(); val k = str(); ws()
        require(s(i) == ':'); i += 1
        out(k) = value(); ws()
        if (s(i) == ',') i += 1
        else { require(s(i) == '}'); i += 1; return out.toMap }
      }
      out.toMap
    }
    private def arr(): List[Any] = {
      val out = scala.collection.mutable.ListBuffer[Any]()
      i += 1; ws()
      if (s(i) == ']') { i += 1; return out.toList }
      while (true) {
        out += value(); ws()
        if (s(i) == ',') i += 1
        else { require(s(i) == ']'); i += 1; return out.toList }
      }
      out.toList
    }
    private def str(): String = {
      require(s(i) == '"'); i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    private def num(): Any = {
      val start = i
      while (i < s.length && (s(i).isDigit || "+-.eE".contains(s(i)))) i += 1
      val t = s.substring(start, i)
      if (t.contains('.') || t.contains('e') || t.contains('E')) t.toDouble else t.toLong
    }
  }
}

/** Per-node execution result (reference artifacts/schemas/run/v5
  * RunResult: status, timing, message, failures, batch_results).
  */
final case class RunResult(
    uniqueId: String,
    status: String, // success | error | skipped | pass | fail | warn
    executionTime: Double,
    message: String = "",
    failures: Option[Long] = None,
    batchesSucceeded: Seq[String] = Nil,
    batchesFailed: Seq[String] = Nil,
    /** Engine-specific execution stats (the reference's
      * adapter_response field): for nodes whose inputs are
      * manifest-backed store scans, files/bytes the manifests listed vs
      * what pruning + data skipping left open — skipping effectiveness
      * made visible per materialization.
      */
    adapterResponse: Map[String, Long] = Map.empty)

object Artifacts {
  /** run_results.json (reference schema v5, trimmed to executed fields). */
  def writeRunResults(targetDir: String, results: Seq[RunResult], elapsed: Double,
      invocationId: String): Unit = {
    val doc = Map(
      "metadata" -> Map(
        "dbt_schema_version" -> "https://schemas.getdbt.com/dbt/run-results/v5.json",
        "dbt_version" -> "1.9.0",
        "generated_at" -> java.time.Instant.now().toString,
        "invocation_id" -> invocationId),
      "elapsed_time" -> elapsed,
      "results" -> results.map(r => Map(
        "unique_id" -> r.uniqueId,
        "status" -> r.status,
        "execution_time" -> r.executionTime,
        "message" -> r.message,
        "failures" -> r.failures,
        "adapter_response" -> scala.collection.immutable.SortedMap.from(r.adapterResponse),
        "batch_results" -> (if (r.batchesSucceeded.isEmpty && r.batchesFailed.isEmpty) null
          else Map("successful" -> r.batchesSucceeded, "failed" -> r.batchesFailed)))))
    Files.createDirectories(Paths.get(targetDir))
    Files.writeString(Paths.get(targetDir, "run_results.json"), Json.write(doc))
  }

  /** Failed batch ids per node from the last run (microbatch retry —
    * reference run.py:494-508 reruns only the failed batches).
    */
  def readFailedBatches(targetDir: String): Map[String, Seq[String]] = {
    val p = Paths.get(targetDir, "run_results.json")
    if (!Files.exists(p)) return Map.empty
    Json.parse(Files.readString(p)) match {
      case m: Map[String @unchecked, Any @unchecked] =>
        m.get("results") match {
          case Some(rs: List[Any @unchecked]) =>
            rs.collect { case r: Map[String @unchecked, Any @unchecked] =>
              val failed = r.get("batch_results") match {
                case Some(br: Map[String @unchecked, Any @unchecked]) =>
                  br.getOrElse("failed", Nil) match {
                    case l: List[Any @unchecked] => l.map(_.toString)
                    case _ => Nil
                  }
                case _ => Nil
              }
              r("unique_id").toString -> failed
            }.filter(_._2.nonEmpty).toMap
          case _ => Map.empty
        }
      case _ => Map.empty
    }
  }

  def readRunResultStatuses(targetDir: String): Map[String, String] = {
    val p = Paths.get(targetDir, "run_results.json")
    if (!Files.exists(p)) Map.empty
    else Json.parse(Files.readString(p)) match {
      case m: Map[String @unchecked, Any @unchecked] =>
        m.get("results") match {
          case Some(rs: List[Any @unchecked]) =>
            rs.collect { case r: Map[String @unchecked, Any @unchecked] =>
              (r("unique_id").toString, r("status").toString)
            }.toMap
          case _ => Map.empty
        }
      case _ => Map.empty
    }
  }

  /** manifest.json with v12 FIELD fidelity (reference
    * core/dbt/artifacts/schemas/manifest/v12): the metadata envelope,
    * per-node `database/schema/fqn/alias/checksum{name,checksum}/
    * raw_code/refs/depends_on{nodes,macros}` structure, and every v12
    * top-level section (empty objects where the engine has no content)
    * — so external metadata tooling that parses manifest v12 can read
    * it, not just our own state/defer/retry loop. Exposures and metrics
    * live in their own sections as v12 requires.
    */
  def writeManifest(targetDir: String, manifest: Manifest): Unit = {
    Files.createDirectories(Paths.get(targetDir))
    Files.writeString(Paths.get(targetDir, "manifest.json"),
      Json.write(manifestDoc(manifest)))
  }

  /** The manifest.json document, as a pure value — shared between the
    * writer and `StateView.of` so state comparison sees EXACTLY what a
    * previous run persisted.
    */
  def manifestDoc(manifest: Manifest): Map[String, Any] = {
    def checksumDoc(n: Node): Map[String, Any] =
      Map("name" -> "sha256", "checksum" -> n.checksum.checksum)
    def configDoc(n: Node): Map[String, Any] = Map(
      "enabled" -> n.config.enabled,
      "materialized" -> n.config.materialized.name,
      "incremental_strategy" -> n.config.incrementalStrategy,
      "unique_key" -> n.config.uniqueKey,
      "on_schema_change" -> n.config.onSchemaChange,
      "tags" -> n.config.tags,
      "event_time" -> n.config.eventTime,
      "batch_size" -> n.config.batchSize.map(_.name),
      "severity" -> n.config.severity,
      "schema" -> n.config.schema,
      "alias" -> n.config.alias,
      "partition_by" -> n.config.partitionBy,
      "bucket_by" -> n.config.bucketBy,
      "buckets" -> n.config.buckets,
      "group" -> n.config.group,
      "access" -> n.config.access,
      "contract" -> Map("enforced" -> n.config.contractEnforced),
      "grants" -> n.config.grants,
      "pre_hook" -> n.config.preHook,
      "post_hook" -> n.config.postHook,
      "strategy" -> n.config.strategy,
      "updated_at" -> n.config.updatedAt,
      "check_cols" -> n.config.checkCols,
      "dbt_valid_to_current" -> n.config.dbtValidToCurrent,
      "snapshot_meta_column_names" -> n.config.snapshotMetaColumnNames,
      "warn_if" -> n.config.warnIf,
      "error_if" -> n.config.errorIf,
      "meta" -> n.config.meta)
    def nodeDoc(n: Node): Map[String, Any] = {
      val (raw, refs, srcs, path) = n match {
        case m: ModelNode => (m.rawCode, m.refs, m.sources, m.path)
        case s: SnapshotNode => (s.rawCode, s.refs, s.sources, "")
        case a: AnalysisNode => (a.rawCode, a.refs, a.sources, "")
        case t: TestNode => (t.rawCode, t.refs, Nil, "")
        case _ => ("", Nil, Nil, "")
      }
      Map(
        "unique_id" -> n.uniqueId,
        "name" -> n.name,
        "package_name" -> n.packageName,
        "resource_type" -> n.resourceType.name,
        "database" -> null,
        "schema" -> n.config.schema.getOrElse("main"),
        "alias" -> n.config.alias.getOrElse(n.name),
        "relation_name" -> (n.config.schema.getOrElse("main") + "." +
          n.config.alias.getOrElse(n.name)),
        "fqn" -> Seq(n.packageName, n.name),
        "path" -> path,
        "original_file_path" -> path,
        "checksum" -> checksumDoc(n),
        "raw_code" -> raw,
        "language" -> "sql",
        "refs" -> refs.map(r => Map("name" -> r, "package" -> null, "version" -> null)),
        "sources" -> srcs.map { case (a, b) => Seq(a, b) },
        "depends_on" -> Map(
          "nodes" -> n.dependsOn,
          "macros" -> manifest.macroDeps.getOrElse(n.uniqueId, Nil)
            .map(m => s"macro.${manifest.projectName}.$m")),
        "tags" -> n.config.tags,
        "description" -> n.description,
        "columns" -> n.declaredColumns.map(c => c.name -> Map(
          "name" -> c.name,
          "description" -> c.description,
          "data_type" -> c.dataType,
          "constraints" -> c.constraints.map { case (t, e) =>
            Map("type" -> t, "expression" -> e.orNull) },
          "meta" -> Map.empty[String, Any],
          "tags" -> Nil)).toMap,
        "meta" -> n.config.meta,
        "group" -> n.config.group,
        "docs" -> Map("show" -> true),
        "config" -> configDoc(n),
        // engine extension of the v12 shape: the var() names this
        // node's expanded text references, with their resolved values —
        // the state_modified_compare_vars comparison facet
        "vars_used" -> manifest.varsUsed.getOrElse(n.uniqueId, Map.empty[String, String]),
        // v12 unrendered_config: the config as written (yml defaults +
        // the file config() call pre-render) — the comparison basis for
        // state_modified_compare_more_unrendered_values
        "unrendered_config" -> manifest.unrenderedConfigs.getOrElse(
          n.uniqueId, Map.empty[String, String]),
        "created_at" -> 0.0)
    }
    val (exposures, metrics, semanticModels, savedQueries, plainNodes) = {
      val e = manifest.nodes.filter(_._2.resourceType == NodeType.Exposure)
      val m = manifest.nodes.filter(_._2.resourceType == NodeType.Metric)
      val sm = manifest.nodes.filter(_._2.resourceType == NodeType.SemanticModel)
      val sq = manifest.nodes.filter(_._2.resourceType == NodeType.SavedQuery)
      (e, m, sm, sq, manifest.nodes -- e.keys -- m.keys -- sm.keys -- sq.keys)
    }
    val doc = Map(
      "metadata" -> Map(
        "dbt_schema_version" -> "https://schemas.getdbt.com/dbt/manifest/v12.json",
        "dbt_version" -> "1.9.0",
        "generated_at" -> java.time.Instant.now().toString,
        "invocation_id" -> java.util.UUID.randomUUID().toString,
        "project_name" -> manifest.projectName,
        "project_id" -> manifest.projectName,
        "user_id" -> null,
        "adapter_type" -> "spark",
        "env" -> Map.empty[String, Any],
        "send_anonymous_usage_stats" -> false),
      "nodes" -> plainNodes.map { case (id, n) => id -> nodeDoc(n) },
      "sources" -> manifest.sources.map { case (id, s) => id -> nodeDoc(s) },
      "exposures" -> exposures.map { case (id, n) => id -> nodeDoc(n) },
      "metrics" -> metrics.map { case (id, n) => id -> nodeDoc(n) },
      "unit_tests" -> manifest.unitTests.map { case (id, u) => id -> nodeDoc(u) },
      "macros" -> manifest.macroSums.map { case (nm, sum) =>
        s"macro.${manifest.projectName}.$nm" -> Map(
          "unique_id" -> s"macro.${manifest.projectName}.$nm",
          "name" -> nm,
          "package_name" -> manifest.projectName,
          "resource_type" -> "macro",
          "checksum" -> Map("name" -> "sha256", "checksum" -> sum))
      },
      "docs" -> Map.empty[String, Any],
      "groups" -> Map.empty[String, Any],
      "selectors" -> Map.empty[String, Any],
      "disabled" -> Map.empty[String, Any],
      "saved_queries" -> savedQueries.map { case (id, n) => id -> nodeDoc(n) },
      "semantic_models" -> semanticModels.map { case (id, n) => id -> nodeDoc(n) },
      "group_map" -> Map.empty[String, Any],
      "parent_map" -> manifest.parentMap,
      "child_map" -> manifest.childMap)
    doc
  }

  /** Read back a (state) manifest for state:modified/defer — only the
    * fields our selector compares.
    */
  def readManifestChecksums(path: String): Map[String, (String, Map[String, Any])] = {
    Json.parse(Files.readString(Paths.get(path))) match {
      case m: Map[String @unchecked, Any @unchecked] =>
        val sections = Seq("nodes", "sources", "exposures", "metrics",
          "semantic_models", "saved_queries", "unit_tests")
        sections.flatMap { sec =>
          m.get(sec) match {
            case Some(ns: Map[String @unchecked, Any @unchecked]) =>
              ns.collect { case (id, nd: Map[String @unchecked, Any @unchecked]) =>
                // v12 checksum is {name, checksum}; older state manifests
                // stored the bare hash string — accept both
                val ck = nd.get("checksum") match {
                  case Some(cm: Map[String @unchecked, Any @unchecked]) =>
                    cm.getOrElse("checksum", "").toString
                  case Some(s) => String.valueOf(s)
                  case None => ""
                }
                id -> (ck,
                  nd.getOrElse("config", Map.empty[String, Any])
                    .asInstanceOf[Map[String, Any]])
              }
            case _ => Nil
          }
        }.toMap
      case _ => Map.empty
    }
  }

  /** sources.json — freshness results (reference artifacts/schemas/
    * freshness/v3 FreshnessExecutionResultArtifact): max_loaded_at +
    * status per source, the input to `source_status:fresher`.
    */
  def writeSources(
      targetDir: String,
      results: Seq[(String, Option[java.time.Instant], String)]): Unit = {
    val doc = Map(
      "metadata" -> Map(
        "dbt_schema_version" -> "https://schemas.getdbt.com/dbt/sources/v3.json",
        "dbt_version" -> "1.9.0",
        "generated_at" -> java.time.Instant.now().toString),
      "results" -> results.map { case (id, loadedAt, status) => Map(
        "unique_id" -> id,
        "max_loaded_at" -> loadedAt.map(_.toString),
        "status" -> status) })
    Files.createDirectories(Paths.get(targetDir))
    Files.writeString(Paths.get(targetDir, "sources.json"), Json.write(doc))
  }

  def readSourceLoadedAt(path: String): Map[String, java.time.Instant] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return Map.empty
    Json.parse(Files.readString(p)) match {
      case m: Map[String @unchecked, Any @unchecked] =>
        m.get("results") match {
          case Some(rs: List[Any @unchecked]) =>
            rs.collect {
              case r: Map[String @unchecked, Any @unchecked]
                if r.get("max_loaded_at").exists(v => v != null) =>
                r("unique_id").toString -> java.time.Instant.parse(r("max_loaded_at").toString)
            }.toMap
          case _ => Map.empty
        }
      case _ => Map.empty
    }
  }

  /** Sources whose max_loaded_at advanced vs the state run — the
    * `source_status:fresher` set (reference selector_methods.py:45-114).
    */
  def fresherSources(currentTargetDir: String, stateDir: String): Set[String] = {
    val cur = readSourceLoadedAt(s"$currentTargetDir/sources.json")
    val old = readSourceLoadedAt(s"$stateDir/sources.json")
    // no previous freshness state → NOTHING is provably fresher (the
    // reference errors here; selecting everything would silently defeat
    // the filter) — warn loudly so a state-path typo isn't invisible
    if (old.isEmpty) {
      System.err.println(
        s"[source_status] no previous sources.json under $stateDir — " +
          "source_status:fresher selects nothing (run source-freshness in the state target first)")
      Set.empty
    }
    else cur.collect { case (id, t) if old.get(id).forall(t.isAfter) => id }.toSet
  }

  /** catalog.json (docs generate; reference core/dbt/task/docs/
    * generate.py:59-122): per relation, column name/type from the Spark
    * schema, the persisted docs (persist_docs → relation comment into
    * metadata.comment, column comments into columns[].comment) and the
    * node's `stats` map — store health (versions retained, live vs pool
    * files/bytes, delta backlog), the field adapters fill from warehouse
    * metadata; the store IS this engine's warehouse.
    */
  def writeCatalog(targetDir: String,
      relations: Seq[(String, org.apache.spark.sql.DataFrame, Option[String],
        Map[String, String], Map[String, Any])]): Unit = {
    val doc = Map(
      "metadata" -> Map(
        "dbt_schema_version" -> "https://schemas.getdbt.com/dbt/catalog/v1.json",
        "generated_at" -> java.time.Instant.now().toString),
      "nodes" -> relations.map { case (name, df, relComment, colComments, stats) =>
        name -> Map(
          "metadata" -> (Map("name" -> name, "type" -> "table") ++
            relComment.map("comment" -> _)),
          "stats" -> stats,
          "columns" -> df.schema.fields.zipWithIndex.map { case (f, i) =>
            f.name -> (Map[String, Any]("name" -> f.name,
              "type" -> f.dataType.simpleString, "index" -> i) ++
              colComments.get(f.name).map("comment" -> _))
          }.toMap)
      }.toMap)
    Files.createDirectories(Paths.get(targetDir))
    Files.writeString(Paths.get(targetDir, "catalog.json"), Json.write(doc))
  }
}
