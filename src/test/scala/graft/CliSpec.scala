package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Main

/** Drive the CLI verbs in-process (Main.dispatch), including the slim-CI
  * state:modified flow against a written manifest artifact.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)

  def run(cmd: String, projectDir: String, flags: Map[String, String] = Map.empty): (Int, String) = {
    val out = new ByteArrayOutputStream()
    val code = Console.withOut(out) {
      Main.dispatch(cmd, flags, projectDir,
        s"$projectDir/warehouse", s"$projectDir/target", Map.empty, spark)
    }
    (code, out.toString)
  }

  test("init → parse → run → docs-generate → state:modified slim CI") {
    val dir = Files.createTempDirectory("cli_e2e").resolve("proj").toString

    val (c0, _) = run("init", dir)
    assert(c0 == 0)

    val (c1, parseOut) = run("parse", dir)
    assert(c1 == 0)
    assert(parseOut.contains("parsed"))
    assert(Files.exists(Paths.get(dir, "target/manifest.json")))

    val (c2, runOut) = run("run", dir)
    assert(c2 == 0, runOut)
    assert(runOut.contains("SUCCESS"))

    // keep the artifact as "state", then modify the model
    val state = Paths.get(dir, "state_manifest.json")
    Files.copy(Paths.get(dir, "target/manifest.json"), state)
    Files.writeString(Paths.get(dir, "models/my_first_model.sql"),
      """{{ config(materialized='table') }}
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM {{ source('tpch', 'orders') }}
        |""".stripMargin)

    val (c3, listOut) = run("list", dir,
      Map("select" -> "state:modified", "state" -> state.toString))
    assert(c3 == 0)
    assert(listOut.contains("model.my_project.my_first_model"), listOut)

    // unmodified state → nothing selected
    val (c4, listOut2) = run("parse", dir) // refresh manifest
    Files.delete(state)
    Files.copy(Paths.get(dir, "target/manifest.json"), state)
    val (c5, listOut3) = run("list", dir,
      Map("select" -> "state:modified", "state" -> state.toString))
    assert(c5 == 0)
    assert(!listOut3.contains("my_first_model"), listOut3)

    val (c6, docsOut) = run("docs-generate", dir)
    assert(c6 == 0)
    assert(Files.exists(Paths.get(dir, "target/catalog.json")))

    val (c7, showOut) = run("show", dir,
      Map("inline" -> "SELECT count(*) AS n FROM {{ ref('my_first_model') }}"))
    assert(c7 == 0)

    // --inline-direct: verbatim SQL, no templating (reference ShowTaskDirect)
    val (c8, directOut) = run("show", dir,
      Map("inline-direct" -> "SELECT 41 + 1 AS answer", "output" -> "json"))
    assert(c8 == 0)
    assert(directOut.contains("\"answer\":42"), directOut)

    // compile --inline prints the compiled ad-hoc SQL and writes it
    val (c9, inlineOut) = run("compile", dir,
      Map("inline" -> "SELECT * FROM {{ ref('my_first_model') }}"))
    assert(c9 == 0)
    assert(!inlineOut.contains("{{"), s"templating must be resolved: $inlineOut")
    assert(Files.exists(Paths.get(dir, "target/compiled/inline_query.sql")))

    // --inline + node selection is a user error (reference mutual
    // exclusion), not a silently dropped --select
    val e = intercept[IllegalArgumentException](run("compile", dir,
      Map("inline" -> "SELECT 1", "select" -> "my_first_model")))
    assert(e.getMessage.contains("--inline cannot be combined"), e.getMessage)

    // --warn-error + --warn-error-options is likewise a user error
    // (reference flags.py asserts them mutually exclusive): silent
    // precedence would drop the blanket escalation for kinds outside
    // the options' include list
    val w = intercept[IllegalArgumentException](run("run", dir,
      Map("warn-error" -> "", "warn-error-options" -> "{\"include\": [\"TestWarn\"]}")))
    assert(w.getMessage.contains("--warn-error cannot be combined"), w.getMessage)
  }

  test("run-operation executes a project macro; hooks expand macros") {
    val dir = Files.createTempDirectory("cli_macro").resolve("proj")
    Files.createDirectories(dir.resolve("macros"))
    Files.createDirectories(dir.resolve("models"))
    Files.writeString(dir.resolve("dbt_project.yml"),
      """name: opdemo
        |on-run-start:
        |  - "{{ audit_stmt('started') }}"
        |""".stripMargin)
    Files.writeString(dir.resolve("macros/ops.sql"),
      """{% macro audit_stmt(tag) %}SELECT '{{ tag }}' AS tag{% endmacro %}
        |{% macro make_view(v) %}CREATE OR REPLACE TEMPORARY VIEW op_made AS SELECT {{ v }} AS x{% endmacro %}
        |""".stripMargin)
    Files.writeString(dir.resolve("models/noop.sql"), "SELECT 1 AS one")
    // hook body was macro-expanded at parse time and runs cleanly
    val (cr, _) = run("run", dir.toString)
    assert(cr == 0)
    // run-operation by macro name (the reference's primary form)
    val (c1, out1) = run("run-operation", dir.toString,
      Map("macro" -> "make_view", "args" -> "41+1"))
    assert(c1 == 0, out1)
    assert(spark.sql("SELECT x FROM op_made").first().getInt(0) == 42)
    // unknown macro is a clear error
    assertThrows[IllegalArgumentException] {
      graft.cli.Main.dispatch("run-operation", Map("macro" -> "nope"),
        dir.toString, s"$dir/warehouse", s"$dir/target", Map.empty, spark)
    }
  }

  test("export lands relations as csv and json for downstream consumers") {
    val dir = Files.createTempDirectory("cli_export").resolve("proj").toString
    assert(run("init", dir)._1 == 0)
    assert(run("run", dir)._1 == 0)
    val outDir = s"$dir/exports"
    val (c1, out1) = run("export", dir,
      Map("out" -> outDir, "format" -> "csv", "select" -> "my_first_model"))
    assert(c1 == 0, out1)
    val back = spark.read.option("header", "true").csv(s"$outDir/my_first_model")
    assert(back.count() > 0)
    assert(back.columns.sameElements(spark.read
      .parquet(s"$dir/warehouse/main/my_first_model/v0").columns))
    val (c2, _) = run("export", dir, Map("out" -> s"$dir/exports2", "format" -> "json"))
    assert(c2 == 0)
    assert(spark.read.json(s"$dir/exports2/my_first_model").count() == back.count())
    // unsupported format is a clear error
    assertThrows[IllegalArgumentException] {
      graft.cli.Main.dispatch("export", Map("out" -> outDir, "format" -> "xlsx"),
        dir, s"$dir/warehouse", s"$dir/target", Map.empty, spark)
    }
  }

  test("profiles.yml: target schema + threads + target.name; --target switch; bad target") {
    val dir = Files.createTempDirectory("cli_prof").resolve("proj").toString
    run("init", dir)
    Files.writeString(Paths.get(dir, "profiles.yml"),
      """my_project:
        |  target: dev
        |  outputs:
        |    dev:
        |      type: spark
        |      schema: dev_wh
        |      threads: 2
        |    prod:
        |      type: spark
        |      schema: prod_wh
        |      threads: 8
        |""".stripMargin)
    // a model that renders the target context
    Files.writeString(Paths.get(dir, "models/tgt.sql"),
      "SELECT '{{ target.name }}' AS tname, '{{ target.schema }}' AS tschema, " +
        "{{ target.threads }} AS tthreads")

    val (c1, out1) = run("run", dir)
    assert(c1 == 0, out1)
    // materializations land in the PROFILE schema namespace
    assert(Files.exists(Paths.get(dir, "warehouse/dev_wh")), "profile schema dir missing")
    val row = spark.sql("SELECT * FROM tgt").collect().head
    assert(row.getString(0) == "dev" && row.getString(1) == "dev_wh" && row.getInt(2) == 2)

    // --target switches output: new schema namespace + context
    val (c2, out2) = run("run", dir, Map("target" -> "prod", "no-partial-parse" -> ""))
    assert(c2 == 0, out2)
    assert(Files.exists(Paths.get(dir, "warehouse/prod_wh")))
    val row2 = spark.sql("SELECT * FROM tgt").collect().head
    assert(row2.getString(0) == "prod" && row2.getString(1) == "prod_wh" && row2.getInt(2) == 8)

    // unknown target fails listing the valid names (reference error)
    val err = intercept[IllegalArgumentException] {
      Main.dispatch("run", Map("target" -> "staging"), dir,
        s"$dir/warehouse", s"$dir/target", Map.empty, spark)
    }
    assert(err.getMessage.contains("does not have a target named 'staging'"))
    assert(err.getMessage.contains("- dev") && err.getMessage.contains("- prod"))
  }

  test("--target without any profiles.yml honors the name (with a warning)") {
    // the reference errors when the profile can't resolve; the engine
    // runs profile-less by design, so the flag must at least reach
    // {{ target.name }} instead of silently rendering 'dev'
    val dir = Files.createTempDirectory("cli_tgt").resolve("proj").toString
    run("init", dir)
    Files.writeString(Paths.get(dir, "models/tgt_bare.sql"),
      "SELECT '{{ target.name }}' AS tname")
    val (c, out) = run("run", dir, Map("target" -> "ci"))
    assert(c == 0, out)
    assert(spark.sql("SELECT * FROM tgt_bare").collect().head.getString(0) == "ci",
      "--target must reach the template context without profiles.yml")
  }

  test("list --output name/selector/path/json formats") {
    val dir = Files.createTempDirectory("cli_list").resolve("proj").toString
    run("init", dir)
    run("parse", dir)

    val (_, names) = run("list", dir, Map("output" -> "name", "select" -> "my_first_model+"))
    assert(names.linesIterator.toSeq.contains("my_first_model"), names)

    val (_, sels) = run("list", dir, Map("output" -> "selector"))
    assert(sels.contains("my_project.my_first_model"), sels)
    assert(sels.contains("source:my_project.tpch.orders"), sels)

    val (_, paths) = run("list", dir,
      Map("output" -> "path", "select" -> "my_first_model"))
    assert(paths.contains("models/my_first_model.sql"), paths)

    // every node kind reports its originating file (reference
    // generate_paths yields original_file_path for ALL selected nodes —
    // tests and analyses from their .sql, sources and generic tests
    // from the declaring schema yml)
    Files.createDirectories(Paths.get(dir, "analyses"))
    Files.writeString(Paths.get(dir, "tests/assert_positive.sql"),
      "SELECT * FROM {{ ref('my_first_model') }} WHERE o_totalprice < 0")
    Files.writeString(Paths.get(dir, "analyses/revenue.sql"),
      "SELECT sum(o_totalprice) AS r FROM {{ ref('my_first_model') }}")
    val (_, aps) = run("list", dir,
      Map("output" -> "path", "no-partial-parse" -> ""))
    assert(aps.contains("tests/assert_positive.sql"), aps)
    assert(aps.contains("analyses/revenue.sql"), aps)
    assert(aps.contains("models/sources.yml"), aps)
    assert(!aps.linesIterator.exists(_.trim.isEmpty),
      s"every selected node must report a path:\n$aps")
    // paths are PROJECT-RELATIVE for every node kind (reference
    // original_file_path), except seeds whose csvPath doubles as the
    // absolute read location
    aps.linesIterator.filterNot(_.endsWith(".csv")).foreach(l =>
      assert(!l.startsWith("/"), s"absolute path leaked into list output: $l"))

    // a tag holding a literal tab must come out escaped — a raw control
    // character inside a string makes the line invalid JSON
    Files.writeString(Paths.get(dir, "dbt_project.yml"),
      Files.readString(Paths.get(dir, "dbt_project.yml")) +
        "models:\n  +tags: [\"tab\there\"]\n")
    val (_, json) = run("list", dir,
      Map("output" -> "json", "output-keys" -> "name,resource_type,unique_id,tags",
        "select" -> "my_first_model", "no-partial-parse" -> ""))
    assert(json.contains("\"unique_id\":\"model.my_project.my_first_model\""), json)
    assert(json.contains("\"resource_type\""), json)
    assert(!json.contains("\"package_name\""), "output-keys must restrict fields")
    assert(!json.exists(c => c < ' ' && c != '\n' && c != '\r'),
      s"raw control character in list json: $json")
    assert(json.contains("\"tags\":[\"tab\\there\"]"), json)

    // compile respects --select: only the selected model's SQL lands
    Files.writeString(Paths.get(dir, "models/other_model.sql"),
      "SELECT 1 AS one")
    val (cc, _) = run("compile", dir, Map("select" -> "my_first_model"))
    assert(cc == 0)
    assert(Files.exists(Paths.get(dir, "target/compiled/my_first_model.sql")))
    assert(!Files.exists(Paths.get(dir, "target/compiled/other_model.sql")),
      "unselected model must not compile")
  }

  test("showcase slim CI: state:modified over examples/curation, with and without compare_vars") {
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.createDirectories(dst)
      Files.list(src).forEach { c =>
        if (Files.isDirectory(c)) copyTree(c, dst.resolve(c.getFileName.toString))
        else Files.copy(c, dst.resolve(c.getFileName.toString))
      }
    }
    val d = Files.createTempDirectory("cli_showcase_state").resolve("proj")
    copyTree(Paths.get("examples/curation"), d)
    val dir = d.toString
    val noCache = Map("no-partial-parse" -> "true")

    // baseline parse → persisted state manifest (the slim-CI artifact)
    val (c1, _) = run("parse", dir, noCache)
    assert(c1 == 0)
    val state = Paths.get(dir, "state_manifest.json")
    Files.copy(Paths.get(dir, "target/manifest.json"), state)
    val (c2, out2) = run("list", dir,
      noCache ++ Map("select" -> "state:modified", "state" -> state.toString))
    assert(c2 == 0)
    assert(!out2.contains("model.curation."), s"clean state must select nothing: $out2")

    // edit a model + drift a var: without the flag only the EDITED
    // model registers (checksums cover var-unrendered text, so var
    // drift alone selects nothing — the reference raw_code semantics)
    Files.writeString(d.resolve("models/corpus_clean.sql"),
      Files.readString(d.resolve("models/corpus_clean.sql")) + "\n  AND q.n_tokens > 0\n")
    Files.writeString(d.resolve("dbt_project.yml"),
      "name: curation\nvars:\n  data_dir: /root/testdata/sf0.001\n  min_tokens: 9\n")
    val (c3, out3) = run("list", dir,
      noCache ++ Map("select" -> "state:modified", "state" -> state.toString))
    assert(c3 == 0)
    assert(out3.contains("model.curation.corpus_clean"), out3)
    assert(!out3.contains("model.curation.doc_quality"),
      s"var drift must not select without the flag: $out3")

    // same drift under state_modified_compare_vars: the var-referencing
    // model (doc_quality reads var('min_tokens')) is selected too —
    // exactly the reference's selector_methods.py state:modified family
    Files.writeString(d.resolve("dbt_project.yml"),
      "name: curation\nvars:\n  data_dir: /root/testdata/sf0.001\n  min_tokens: 9\n" +
        "flags:\n  state_modified_compare_vars: true\n")
    val (c4, out4) = run("list", dir,
      noCache ++ Map("select" -> "state:modified", "state" -> state.toString))
    assert(c4 == 0)
    assert(out4.contains("model.curation.corpus_clean"), out4)
    assert(out4.contains("model.curation.doc_quality"),
      s"var drift must select the var-referencing model under the flag: $out4")
  }

  test("index maintain drives a dirty IVF index to a clean fsck in one command") {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilarityOps
    val base = Files.createTempDirectory("cli_index")
    val idx = base.resolve("ivf").toString
    SimilarityOps.persistIvfIndex(spark, "/root/testdata/sf0.001", idx)
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.createDirectories(dst)
      Files.list(src).forEach { c =>
        if (Files.isDirectory(c)) copyTree(c, dst.resolve(c.getFileName.toString))
        else Files.copy(c, dst.resolve(c.getFileName.toString))
      }
    }
    val cells = spark.read.parquet(s"$idx/cells").withColumn("cell", col("cell").cast("long"))
    val ids = cells.select(col("cell")).distinct().orderBy(col("cell"))
      .collect().map(_.getLong(0))
    assert(ids.length >= 3)
    val (cDup, cFrag, cEmpty) = (ids(0), ids(1), ids(2))

    // plant: (a) crashed-rebalance leftover — a full duplicate of one
    // cell dir under an id with no centroid (orphan + duplicate ids)
    copyTree(Paths.get(idx, "cells", s"cell=$cDup"), Paths.get(idx, "cells", "cell=9999"))
    // (b) a sole-copy orphan: one vector that exists nowhere else —
    // maintenance must reassign it, not delete it
    cells.filter(col("cell") === cDup).limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("q"), col("nq"))
      .write.parquet(Paths.get(idx, "cells", "cell=9998").toString)
    // (c) fragmentation: one cell rewritten as 12 tiny files
    val fragDir = Paths.get(idx, "cells", s"cell=$cFrag")
    val fragTmp = base.resolve("frag_tmp")
    val fragRows = spark.read.parquet(fragDir.toString)
    fragRows.repartition(12).write.parquet(fragTmp.toString)
    def rmTree(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(rmTree)
      Files.deleteIfExists(p)
    }
    rmTree(fragDir)
    copyTree(fragTmp, fragDir)
    // (d) an empty centroid: its data dir removed entirely
    rmTree(Paths.get(idx, "cells", s"cell=$cEmpty"))
    // (e) an oversized cell: 3 extra copies of cDup's rows (fresh ids)
    (1 to 3).foreach { k =>
      cells.filter(col("cell") === cDup)
        .select((col("vec_id") + 2000000L * k).as("vec_id"), col("q"), col("nq"))
        .write.mode("append").parquet(Paths.get(idx, "cells", s"cell=$cDup").toString)
    }

    val proj = base.toString // index verb needs no project
    val (dirtyCode, dirtyOut) = run("index", proj, Map("path" -> idx, "fsck-only" -> "true"))
    assert(dirtyCode == 1, dirtyOut)

    val (code, out) = run("index", proj, Map("path" -> idx))
    assert(code == 0, out)
    assert(out.contains("index maintain: CONSISTENT"), out)
    assert(out.contains("orphan_dirs_removed"), out)
    assert(out.contains("vectors_reassigned"), out)
    assert(out.contains("empty_centroids_dropped"), out)
    assert(out.contains("cells_compacted"), out)

    val (cleanCode, _) = run("index", proj, Map("path" -> idx, "fsck-only" -> "true"))
    assert(cleanCode == 0)
    // the sole-copy orphan survived the repair, reachable from a live cell
    val after = spark.read.parquet(s"$idx/cells")
    assert(after.filter(col("vec_id") >= 1000000L && col("vec_id") < 2000000L).count() == 1L,
      "the sole-copy orphan vector must be reassigned, not dropped")

    // staleness monitor from the same command: --drift scores arriving
    // vectors against the persisted centroids and prints per-cell rows
    val newVecs = base.resolve("arriving").toString
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.pmod(col("vec_id"),
        org.apache.spark.sql.functions.lit(10L)) >= 8)
      .write.mode("overwrite").parquet(newVecs)
    val (dCode, dOut) = run("index", proj, Map("path" -> idx, "drift" -> newVecs))
    assert(dCode == 0, dOut)
    assert(dOut.contains("index drift:") && dOut.contains("drift_ppm"), dOut)
    assert(dOut.linesIterator.exists(l => l.contains("cell(s)")), dOut)
  }

  test("index maintain auto-detects the IVF-PQ codes layout and repairs it") {
    import org.apache.spark.sql.functions._
    import graft.operators.SimilarityOps
    val base = Files.createTempDirectory("cli_index_pq")
    val idx = base.resolve("ivfpq").toString
    SimilarityOps.persistIvfPqIndex(spark, "/root/testdata/sf0.001", idx)
    val codes = spark.read.parquet(s"$idx/codes").withColumn("cell", col("cell").cast("long"))
    val ids = codes.select(col("cell")).distinct().orderBy(col("cell"))
      .collect().map(_.getLong(0))
    assert(ids.length >= 2)
    val (cA, cB) = (ids(0), ids(1))
    // plant: (a) within-cell duplicates — a replayed append
    codes.filter(col("cell") === cA).limit(8)
      .select(col("vec_id"), col("m"), col("c"))
      .write.mode("append").parquet(Paths.get(idx, "codes", s"cell=$cA").toString)
    // (b) cross-cell duplicates — a move that never removed its source:
    // one vector's codes copied into a second live cell
    val movedVec = codes.filter(col("cell") === cA).select(col("vec_id")).first().getLong(0)
    codes.filter(col("cell") === cA && col("vec_id") === movedVec)
      .select(col("vec_id"), col("m"), col("c"))
      .write.mode("append").parquet(Paths.get(idx, "codes", s"cell=$cB").toString)
    // (c) an orphan cell dir: codes with no centroid (unservable)
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.createDirectories(dst)
      Files.list(src).forEach { c =>
        if (Files.isDirectory(c)) copyTree(c, dst.resolve(c.getFileName.toString))
        else Files.copy(c, dst.resolve(c.getFileName.toString))
      }
    }
    copyTree(Paths.get(idx, "codes", s"cell=$cB"), Paths.get(idx, "codes", "cell=9999"))

    val proj = base.toString
    val (dirtyCode, _) = run("index", proj, Map("path" -> idx, "fsck-only" -> "true"))
    assert(dirtyCode == 1)
    val (code, out) = run("index", proj, Map("path" -> idx))
    assert(code == 0, out)
    assert(out.contains("orphan_dirs_removed"), out)
    assert(out.contains("cells_deduplicated"), out)
    assert(out.contains("index maintain: CONSISTENT"), out)
    val (cleanCode, _) = run("index", proj, Map("path" -> idx, "fsck-only" -> "true"))
    assert(cleanCode == 0)
    // the cross-cell loser kept exactly ONE home (the smallest cell id)
    val afterCells = spark.read.parquet(s"$idx/codes")
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("vec_id") === movedVec).select(col("cell")).distinct().collect()
    assert(afterCells.map(_.getLong(0)).toSeq == Seq(math.min(cA, cB)),
      s"moved vector must keep one home: ${afterCells.mkString(",")}")
    // and the repaired index still SERVES: full ANN query path green
    val q = SimilarityOps.simIvfPqTopKPersisted(spark, "/root/testdata/sf0.001", idx)
    assert(q.count() > 0)
  }

  test("optimize --zorder requires --select and passes through to compaction") {
    val dir = Files.createTempDirectory("cli_zorder").resolve("proj").toString
    assert(run("init", dir)._1 == 0)
    assert(run("run", dir)._1 == 0)
    // --zorder without --select: clustering columns are per-table
    intercept[IllegalArgumentException](
      run("optimize", dir, Map("zorder" -> "o_orderkey,o_custkey")))
    // with --select: the verb completes (tiny tables are already
    // well-packed, so this exercises the wiring, not a rewrite)
    val (c, out) = run("optimize", dir,
      Map("zorder" -> "o_orderkey,o_custkey", "select" -> "my_first_model"))
    assert(c == 0, out)
    assert(out.contains("optimize complete"), out)
  }

  test("docs generate surfaces store health (versions, live vs pool, backlog) per relation") {
    val dir = Files.createTempDirectory("cli_health").resolve("proj").toString
    assert(run("init", dir)._1 == 0)
    // a deliberately FRAGMENTED table (8 small files), committed twice
    // so the pool holds a retained old snapshot on top of the head
    Files.writeString(Paths.get(dir, "models/my_first_model.sql"),
      "{{ config(materialized='table') }}\n" +
        "SELECT /*+ REPARTITION(8) */ id, id * 2 AS v FROM range(400)\n")
    assert(run("run", dir)._1 == 0)
    assert(run("run", dir)._1 == 0)
    val (c, out) = run("docs-generate", dir)
    assert(c == 0, out)
    val raw = Files.readString(Paths.get(dir, "target/catalog.json"))
    val node = graft.artifacts.Json.parse(raw).asInstanceOf[Map[String, Any]]("nodes")
      .asInstanceOf[Map[String, Any]]("my_first_model").asInstanceOf[Map[String, Any]]
    val stats = node("stats").asInstanceOf[Map[String, Any]]
    def n(k: String): Long = stats(k).toString.toDouble.toLong
    assert(n("versions_retained") == 2, stats.toString)
    assert(n("live_files") == 8, stats.toString)
    assert(n("pool_files") == 16, "pool must count the retained old snapshot too: " + stats)
    assert(n("pool_bytes") > n("live_bytes") && n("live_bytes") > 0, stats.toString)
    assert(n("delta_live") == 0 && n("delta_open_gaps") == 0, stats.toString)
  }

  test("show/export --as-of read the timestamp-resolved snapshot") {
    val dir = Files.createTempDirectory("cli_asof").resolve("proj").toString
    assert(run("init", dir)._1 == 0)
    Files.writeString(Paths.get(dir, "models/my_first_model.sql"),
      "{{ config(materialized='table') }}\nSELECT 7 AS answer\n")
    assert(run("run", dir)._1 == 0)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    Files.writeString(Paths.get(dir, "models/my_first_model.sql"),
      "{{ config(materialized='table') }}\nSELECT 42 AS answer\n")
    assert(run("run", dir)._1 == 0)
    // head preview sees the new content; --as-of the instant BETWEEN
    // the two runs previews the earlier snapshot
    val (cH, outH) = run("show", dir, Map("select" -> "my_first_model"))
    assert(cH == 0 && outH.contains("42"), outH)
    val (cA, outA) = run("show", dir,
      Map("select" -> "my_first_model", "as-of" -> between.toString))
    assert(cA == 0 && outA.contains("7") && !outA.contains("42"), outA)
    // export --as-of lands the snapshot for downstream consumers
    val exp = Files.createTempDirectory("cli_asof_exp").toString
    val (cE, _) = run("export", dir, Map("out" -> exp, "format" -> "json",
      "select" -> "my_first_model", "as-of" -> between.toString))
    assert(cE == 0)
    import scala.jdk.CollectionConverters._
    val landed = Files.walk(Paths.get(exp, "my_first_model")).iterator().asScala
      .filter(p => p.toString.endsWith(".json")).map(Files.readString(_)).mkString
    assert(landed.contains("7") && !landed.contains("42"), landed)
    // ISO / date forms parse; malformed instants error with the formats
    assert(run("show", dir,
      Map("select" -> "my_first_model", "as-of" -> "2100-01-01"))._2.contains("42"))
    intercept[IllegalArgumentException](run("show", dir,
      Map("select" -> "my_first_model", "as-of" -> "not-a-time")))
  }

  test("recall verb defaults to the sampled ground truth; --full opts into exact") {
    val dir = Files.createTempDirectory("cli_recall").toString
    // default: sampled — the scale-safe path nobody has to opt into
    val (c0, out0) = run("recall", dir, Map("data" -> "/root/testdata/sf0.001"))
    assert(c0 == 0, out0)
    assert(out0.contains("recall_ppm") && out0.contains("theory_ppm"), out0)
    // default: a FIXED-SIZE sample (cost constant at any corpus size),
    // not a fraction (which still grows with the corpus)
    assert(out0.contains("sampled n=2000 seed=42"), out0)
    // parameterized sample replays deterministically
    val (c1, out1) = run("recall", dir,
      Map("data" -> "/root/testdata/sf0.001", "pct" -> "30", "seed" -> "7"))
    assert(c1 == 0 && out1.contains("sampled pct=30 seed=7"), out1)
    val (c2, out2) = run("recall", dir,
      Map("data" -> "/root/testdata/sf0.001", "pct" -> "30", "seed" -> "7"))
    assert(out1 == out2, "seeded sampling must replay identically")
    // --full: the exact all-pairs ground truth, explicitly opted into
    val (c3, out3) = run("recall", dir,
      Map("data" -> "/root/testdata/sf0.001", "full" -> ""))
    assert(c3 == 0 && out3.contains("full ground truth"), out3)
    // --data is required
    intercept[IllegalArgumentException](run("recall", dir))
  }
}
