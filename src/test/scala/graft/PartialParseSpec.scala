package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.parser.{PartialParse, ProjectLoader}

class PartialParseSpec extends AnyFunSuite {
  test("cache hit when nothing changed; invalidated on file edit and var change") {
    // the second project lies under a `warehouse` directory: output
    // directories are skipped by their path INSIDE the project only
    for (dir <- Seq(Files.createTempDirectory("pp_proj"),
        Files.createDirectories(Files.createTempDirectory("pp_under").resolve("warehouse/proj")))) {
      val target = dir.resolve("target").toString
      Files.createDirectories(dir.resolve("models"))
      Files.writeString(dir.resolve("dbt_project.yml"), "name: pp\n")
      Files.writeString(dir.resolve("models/m1.sql"), "select 1 as id\n")

      val (p1, hit1) = PartialParse.loadCached(dir.toString, Map.empty, target)
      assert(!hit1)
      assert(p1.manifest.nodes.contains("model.pp.m1"))

      val (p2, hit2) = PartialParse.loadCached(dir.toString, Map.empty, target)
      assert(hit2)
      assert(p2.manifest.nodes.keySet == p1.manifest.nodes.keySet)
      assert(p2.manifest.nodes("model.pp.m1").checksum == p1.manifest.nodes("model.pp.m1").checksum)

      // a model-body edit is served by the FINE-GRAINED path: the cache is
      // still used, only the changed file is re-parsed, checksum updates
      Files.writeString(dir.resolve("models/m1.sql"), "select 2 as id\n")
      val (p3, out3) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
      assert(out3 == PartialParse.Partial(Seq("models/m1.sql")))
      assert(p3.manifest.nodes("model.pp.m1").checksum != p1.manifest.nodes("model.pp.m1").checksum)

      // var change invalidates fully
      val (_, hit4) = PartialParse.loadCached(dir.toString, Map("x" -> "1"), target)
      assert(!hit4)
    }
  }

  test("fine-grained re-parse equals a from-scratch full parse") {
    val dir = Files.createTempDirectory("pp_fine")
    val target = dir.resolve("target").toString
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("macros"))
    Files.createDirectories(dir.resolve("tests"))
    Files.writeString(dir.resolve("dbt_project.yml"), "name: pp\nvars:\n  lim: 5\n")
    Files.writeString(dir.resolve("macros/lim.sql"),
      "{% macro lim(n) %}limit {{ n }}{% endmacro %}\n")
    Files.writeString(dir.resolve("models/base.sql"), "select 1 as id\n")
    Files.writeString(dir.resolve("models/top.sql"),
      "select * from {{ ref('base') }} {{ lim(3) }}\n")
    Files.writeString(dir.resolve("tests/t1.sql"),
      "select * from {{ ref('top') }} where id < 0\n")
    Files.writeString(dir.resolve("models/schema.yml"),
      """models:
        |  - name: top
        |    description: topmost
        |    columns:
        |      - name: id
        |        tests: [not_null]
        |""".stripMargin)

    val (_, out1) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out1 == PartialParse.Full)

    // edit ONLY top.sql: macro call changes, ref stays
    Files.writeString(dir.resolve("models/top.sql"),
      "select id from {{ ref('base') }} {{ lim(7) }}\n")
    val (pp, out2) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out2 == PartialParse.Partial(Seq("models/top.sql")))

    // equivalence: a from-scratch full parse of the same tree
    val full = ProjectLoader.resolveRefs(ProjectLoader.load(dir.toString, Map.empty))
    assert(pp.manifest == full.manifest)
    // the macro expanded with the new arg, the yml patch re-applied,
    // and the ref resolved
    val top = pp.manifest.nodes("model.pp.top").asInstanceOf[graft.core.ModelNode]
    assert(top.rawCode.contains("limit 7"))
    assert(top.description == "topmost")
    assert(top.dependsOn == Seq("model.pp.base"))

    // untouched nodes are reused from the cache verbatim
    assert(pp.manifest.nodes("model.pp.base").checksum ==
      full.manifest.nodes("model.pp.base").checksum)

    // edits whose rendered text differs from the expanded text, with a
    // config() call and a var(): checksum, varsUsed and
    // unrenderedConfigs must match a full parse too
    Files.writeString(dir.resolve("models/top.sql"),
      """{{ config(materialized='table') }}
        |select id from {{ ref('base') }}
        |{% if target.name == 'dev' %}where id < {{ var('lim') }}{% endif %}
        |{{ lim(7) }}
        |""".stripMargin)
    Files.writeString(dir.resolve("tests/t1.sql"),
      "{% set n = 0 %}select * from {{ ref('top') }} where id < {{ n }}\n")
    val (pp2, out3) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out3 == PartialParse.Partial(Seq("models/top.sql", "tests/t1.sql")))
    val full2 = ProjectLoader.resolveRefs(ProjectLoader.load(dir.toString, Map.empty))
    assert(pp2.manifest == full2.manifest)
    assert(pp2.manifest.varsUsed.get("model.pp.top") == Some(Map("lim" -> "5")))
    assert(pp2.manifest.unrenderedConfigs.get("model.pp.top") ==
      Some(Map("materialized" -> "table")))
  }

  test("cross-file-effect changes fall back to a full parse") {
    val dir = Files.createTempDirectory("pp_fallback")
    val target = dir.resolve("target").toString
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("macros"))
    Files.writeString(dir.resolve("dbt_project.yml"), "name: pp\n")
    Files.writeString(dir.resolve("macros/lim.sql"),
      "{% macro lim(n) %}limit {{ n }}{% endmacro %}\n")
    Files.writeString(dir.resolve("models/m.sql"), "select 1 as id {{ lim(2) }}\n")
    PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)

    // macro edit changes every caller's expansion → full
    Files.writeString(dir.resolve("macros/lim.sql"),
      "{% macro lim(n) %}limit {{ n }} offset 0{% endmacro %}\n")
    val (p1, out1) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out1 == PartialParse.Full)
    assert(p1.manifest.nodes("model.pp.m").asInstanceOf[graft.core.ModelNode]
      .rawCode.contains("offset 0"))

    // file ADD rewires the graph → full
    Files.writeString(dir.resolve("models/m2.sql"), "select * from {{ ref('m') }}\n")
    val (_, out2) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out2 == PartialParse.Full)

    // yml edit → full
    Files.writeString(dir.resolve("models/schema.yml"),
      "models:\n  - name: m\n    description: d\n")
    val (_, out3) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out3 == PartialParse.Full)

    // and the very next model-body edit is partial again
    Files.writeString(dir.resolve("models/m2.sql"), "select id from {{ ref('m') }}\n")
    val (_, out4) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out4 == PartialParse.Partial(Seq("models/m2.sql")))
  }

  test("seed csv, singular test, and analysis edits re-parse fine-grained") {
    val dir = Files.createTempDirectory("pp_classes")
    val target = dir.resolve("target").toString
    Files.createDirectories(dir.resolve("models"))
    Files.createDirectories(dir.resolve("seeds"))
    Files.createDirectories(dir.resolve("tests"))
    Files.createDirectories(dir.resolve("tests/fixtures"))
    Files.createDirectories(dir.resolve("analyses"))
    Files.writeString(dir.resolve("dbt_project.yml"), "name: pp\n")
    Files.writeString(dir.resolve("models/a.sql"), "select 1 as id\n")
    Files.writeString(dir.resolve("models/b.sql"), "select 2 as id\n")
    Files.writeString(dir.resolve("seeds/ref_data.csv"), "id,v\n1,x\n")
    Files.writeString(dir.resolve("tests/no_neg.sql"),
      "select * from {{ ref('a') }} where id < 0\n")
    Files.writeString(dir.resolve("tests/fixtures/fx.csv"), "id\n1\n")
    Files.writeString(dir.resolve("analyses/report.sql"),
      "select count(*) as n from {{ ref('a') }}\n")
    val (p0, out0) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out0 == PartialParse.Full)

    // seed CONTENT edit: partial; only the checksum moves
    Files.writeString(dir.resolve("seeds/ref_data.csv"), "id,v\n1,x\n2,y\n")
    val (p1, out1) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out1 == PartialParse.Partial(Seq("seeds/ref_data.csv")))
    assert(p1.manifest.nodes("seed.pp.ref_data").checksum !=
      p0.manifest.nodes("seed.pp.ref_data").checksum)

    // singular-test edit that REWIRES its ref: partial, dependsOn updates
    Files.writeString(dir.resolve("tests/no_neg.sql"),
      "select * from {{ ref('b') }} where id < 0\n")
    val (p2, out2) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out2 == PartialParse.Partial(Seq("tests/no_neg.sql")))
    assert(p2.manifest.nodes("test.pp.no_neg").dependsOn == Seq("model.pp.b"))

    // analysis edit: partial
    Files.writeString(dir.resolve("analyses/report.sql"),
      "select count(*) as n, max(id) as mx from {{ ref('b') }}\n")
    val (p3, out3) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out3 == PartialParse.Partial(Seq("analyses/report.sql")))
    assert(p3.manifest.nodes("analysis.pp.report").dependsOn == Seq("model.pp.b"))

    // all three patched states equal a from-scratch full parse
    val full = ProjectLoader.resolveRefs(ProjectLoader.load(dir.toString, Map.empty))
    assert(p3.manifest == full.manifest)

    // unit-test FIXTURE edits have cross-file effects → full parse
    Files.writeString(dir.resolve("tests/fixtures/fx.csv"), "id\n1\n2\n")
    val (_, out4) = PartialParse.loadCachedDetailed(dir.toString, Map.empty, target)
    assert(out4 == PartialParse.Full)
  }

  test("parse bench project loads well under the baseline target") {
    val sec = Bench.parse2000Bench()
    // reference baselines: 41-72 s; target ≤ 90 s; JVM static parse ≪ 10 s
    assert(sec < 30.0, s"parse took $sec s")
  }
}
