package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.artifacts.Artifacts
import graft.core._
import graft.exec.{Compiler, RelationStore, Runner, RunOptions}
import graft.parser.ProjectLoader

/** End-to-end functional test: a real project directory over the
  * sf0.001 test data, driven through parse → seed → run → test →
  * snapshot → microbatch — the engine-level mirror of the reference's
  * tests/functional suites (check_relations_equal-style oracles).
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  var dir: Path = _
  var spark: SparkSession = _

  def write(rel: String, content: String): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  override def beforeAll(): Unit = {
    spark = GraftSession.local(4)
    dir = Files.createTempDirectory("graft_proj")
    write("dbt_project.yml",
      s"""name: demo
         |vars:
         |  data_dir: $sf
         |on-run-start:
         |  - "SELECT 1"
         |""".stripMargin)
    write("models/sources.yml",
      """version: 2
        |sources:
        |  - name: tpch
        |    tables:
        |      - name: orders
        |        location: "{data_dir}/orders.parquet"
        |        loaded_at_field: o_orderdate
        |        event_time: o_orderdate
        |        freshness:
        |          warn_after:
        |            count: 24
        |            period: hour
        |      - name: customer
        |        location: "{data_dir}/customer.parquet"
        |      - name: lineitem
        |        location: "{data_dir}/lineitem.parquet"
        |""".stripMargin)
    write("models/stg_orders.sql",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM {{ source('tpch', 'orders') }}""".stripMargin)
    write("models/stg_lineitem.sql",
      """{{ config(materialized='ephemeral') }}
        |SELECT l_orderkey, l_extendedprice, l_discount
        |FROM {{ source('tpch', 'lineitem') }}""".stripMargin)
    write("models/orders_rev.sql",
      """{{ config(materialized='table', tags=['mart']) }}
        |SELECT o.o_orderkey, o.o_orderstatus,
        |       CAST(SUM(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100)) AS BIGINT) AS revenue_cents
        |FROM {{ ref('stg_orders') }} o
        |JOIN {{ ref('stg_lineitem') }} l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2""".stripMargin)
    write("models/orders_inc.sql",
      """{{ config(materialized='incremental', incremental_strategy='merge', unique_key='o_orderkey') }}
        |SELECT o_orderkey, o_custkey, o_totalprice FROM {{ ref('stg_orders') }}
        |{% if is_incremental() %}
        |WHERE o_orderkey > (SELECT COALESCE(MAX(o_orderkey), -1) - 200 FROM {{ this }})
        |{% endif %}""".stripMargin)
    write("models/orders_mb.sql",
      """{{ config(materialized='incremental', incremental_strategy='microbatch',
        |          event_time='o_orderdate', batch_size='year', begin='1995-01-01',
        |          unique_key='o_orderkey') }}
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM {{ source('tpch', 'orders') }}""".stripMargin)
    write("models/schema.yml",
      """version: 2
        |models:
        |  - name: orders_rev
        |    columns:
        |      - name: o_orderkey
        |        tests:
        |          - unique
        |          - not_null
        |      - name: o_orderstatus
        |        tests:
        |          - accepted_values:
        |              values: ['O', 'F', 'P']
        |  - name: orders_inc
        |    columns:
        |      - name: o_custkey
        |        tests:
        |          - relationships:
        |              to: source('tpch', 'customer')
        |              field: c_custkey
        |exposures:
        |  - name: revenue_dashboard
        |    type: dashboard
        |    owner: analytics
        |    depends_on:
        |      - ref('orders_rev')
        |metrics:
        |  - name: total_revenue
        |    model: ref('orders_rev')
        |    calculation: sum(revenue_cents)
        |unit_tests:
        |  - name: ut_orders_rev
        |    model: orders_rev
        |    given:
        |      - input: ref('stg_orders')
        |        rows:
        |          - {o_orderkey: 1, o_orderstatus: O}
        |          - {o_orderkey: 2, o_orderstatus: F}
        |      - input: ref('stg_lineitem')
        |        rows:
        |          - {l_orderkey: 1, l_extendedprice: 100.0, l_discount: 0.0}
        |          - {l_orderkey: 1, l_extendedprice: 50.0, l_discount: 0.5}
        |          - {l_orderkey: 2, l_extendedprice: 10.0, l_discount: 0.0}
        |    expect:
        |      rows:
        |        - {o_orderkey: 1, o_orderstatus: O, revenue_cents: 12500}
        |        - {o_orderkey: 2, o_orderstatus: F, revenue_cents: 1000}
        |""".stripMargin)
    write("seeds/status_names.csv",
      """status,label
        |O,Open
        |F,Fulfilled
        |P,Pending
        |""".stripMargin)
    write("snapshots/cust_snap.sql",
      """{{ config(strategy='check', unique_key='c_custkey', check_cols=['c_acctbal'],
        |          invalidate_hard_deletes=true) }}
        |SELECT c_custkey, c_name, c_acctbal FROM {{ ref('cust_seed') }}""".stripMargin)
    write("seeds/cust_seed.csv",
      """c_custkey,c_name,c_acctbal
        |1,alice,10.0
        |2,bob,20.0
        |""".stripMargin)
    write("tests/assert_positive_revenue.sql",
      """SELECT * FROM {{ ref('orders_rev') }} WHERE revenue_cents < 0""".stripMargin)
    write("snapshots/acct_snap.sql",
      """{{ config(strategy='timestamp', unique_key='id', updated_at='updated_at') }}
        |SELECT id, amount, updated_at FROM {{ ref('acct_seed') }}""".stripMargin)
    write("seeds/acct_seed.csv",
      """id,amount,updated_at
        |1,100,2024-01-01 00:00:00
        |2,200,2024-01-01 00:00:00
        |""".stripMargin)
  }

  override def afterAll(): Unit = ()

  lazy val project = ProjectLoader.resolveRefs(ProjectLoader.load(dir.toString))
  lazy val warehouse = dir.resolve("warehouse").toString
  lazy val store = new RelationStore(spark, warehouse)
  def opts(cmd: String) = RunOptions(cmd = cmd, threads = 2,
    targetDir = dir.resolve("target").toString,
    eventTimeEnd = Some(java.time.Instant.parse("2002-01-01T00:00:00Z")))

  test("00 exposures and metrics parse, link, and select") {
    val m = project.manifest
    val exp = m.nodes("exposure.demo.revenue_dashboard")
    assert(exp.dependsOn == Seq("model.demo.orders_rev"))
    val met = m.nodes("metric.demo.total_revenue")
    assert(met.dependsOn == Seq("model.demo.orders_rev"))
    val g = graft.graph.Linker.link(m)
    // exposure rides downstream of the model
    assert(g.descendants("model.demo.orders_rev").contains(exp.uniqueId))
    val sel = graft.graph.Selector.select(m, g, Seq("exposure:revenue_dashboard"))
    assert(sel.contains(exp.uniqueId))
    assert(graft.graph.Selector.select(m, g, Seq("metric:total_revenue")).contains(met.uniqueId))
  }

  test("01 parse: manifest inventory") {
    val m = project.manifest
    assert(m.nodes.values.count(_.resourceType == NodeType.Model) == 5)
    assert(m.nodes.values.count(_.resourceType == NodeType.Seed) == 3)
    assert(m.nodes.values.count(_.resourceType == NodeType.Snapshot) == 2)
    // 4 generic + 1 singular
    assert(m.nodes.values.count(_.resourceType == NodeType.Test) == 5)
    assert(m.sources.size == 3)
    assert(m.unitTests.size == 1)
    // dependency resolution: orders_rev depends on both staging models
    val rev = m.nodes("model.demo.orders_rev")
    assert(rev.dependsOn.toSet == Set("model.demo.stg_orders", "model.demo.stg_lineitem"))
  }

  test("02 seed + run: views, tables, ephemeral inlining, incremental, microbatch") {
    val seedResults = new Runner(spark, project, store, opts("seed")).execute()
    assert(seedResults.forall(_.status == "success"), seedResults.mkString("\n"))

    val runResults = new Runner(spark, project, store, opts("run")).execute()
    assert(runResults.forall(_.status == "success"), runResults.mkString("\n"))

    // view materialization readable
    assert(store.isView("stg_orders"))
    assert(store.read("stg_orders").count() == 1500)
    // ephemeral not materialized
    assert(!store.exists("stg_lineitem"))
    // table model: revenue per order, matches a direct computation
    val rev = store.read("orders_rev")
    assert(rev.count() > 0)
    val direct = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(rev.agg(org.apache.spark.sql.functions.sum("revenue_cents")).first().getLong(0) > 0)
    // incremental first run = full build
    assert(store.read("orders_inc").count() == 1500)
    // microbatch built all 1995..2001 batches
    assert(store.read("orders_mb").count() == 1500)
  }

  test("03 incremental merge is idempotent; microbatch reruns only lookback window") {
    val r2 = new Runner(spark, project, store, opts("run")).execute()
    assert(r2.forall(_.status == "success"), r2.mkString("\n"))
    assert(store.read("orders_inc").count() == 1500) // merge dedupes on key
    assert(store.read("orders_mb").count() == 1500) // window overwrite is idempotent
    val mb = r2.find(_.uniqueId == "model.demo.orders_mb").get
    // checkpoint ≈ 2001-08 + lookback 1 (year) → 2000 & 2001 batches only
    assert(mb.batchesSucceeded.size == 2, mb)
  }

  test("04 tests: generic + singular + unit tests all pass") {
    val t = new Runner(spark, project, store, opts("test")).execute()
    assert(t.nonEmpty)
    assert(t.forall(r => r.status == "pass"), t.mkString("\n"))
  }

  test("05 snapshot SCD-2: check strategy, closes changed rows, hard deletes") {
    val s1 = new Runner(spark, project, store, opts("snapshot")).execute()
    assert(s1.forall(_.status == "success"), s1.mkString("\n"))
    val snap1 = store.read("cust_snap")
    assert(snap1.count() == 2)
    assert(snap1.filter("dbt_valid_to IS NULL").count() == 2)

    // mutate the seed: alice's balance changes, bob vanishes, carol appears
    write("seeds/cust_seed.csv",
      """c_custkey,c_name,c_acctbal
        |1,alice,99.0
        |3,carol,30.0
        |""".stripMargin)
    new Runner(spark, project, store, opts("seed")).execute()
    val s2 = new Runner(spark, project, store, opts("snapshot")).execute()
    assert(s2.forall(_.status == "success"), s2.mkString("\n"))

    val snap2 = store.read("cust_snap")
    snap2.createOrReplaceTempView("snap2")
    // alice: one closed row (10.0) + one open row (99.0)
    assert(spark.sql("SELECT count(*) FROM snap2 WHERE c_custkey=1 AND dbt_valid_to IS NULL AND c_acctbal=99.0").first().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM snap2 WHERE c_custkey=1 AND dbt_valid_to IS NOT NULL AND c_acctbal=10.0").first().getLong(0) == 1)
    // bob: hard-deleted → closed
    assert(spark.sql("SELECT count(*) FROM snap2 WHERE c_custkey=2 AND dbt_valid_to IS NOT NULL").first().getLong(0) == 1)
    // carol: new open row
    assert(spark.sql("SELECT count(*) FROM snap2 WHERE c_custkey=3 AND dbt_valid_to IS NULL").first().getLong(0) == 1)
  }

  test("06 failing test reports failures and store_failures persists rows") {
    // break the accepted_values contract via a one-off test node
    val bad = TestNode("bad_status", "demo",
      "SELECT o_orderstatus AS value FROM {{ ref('stg_orders') }} WHERE o_orderstatus IS NOT NULL",
      NodeConfig(storeFailures = true), Seq("model.demo.stg_orders"), Seq("stg_orders"),
      checksum = FileHash.of("x"))
    val m2 = project.manifest.copy(nodes = project.manifest.nodes + (bad.uniqueId -> bad))
    val p2 = project.copy(manifest = m2)
    val t = new Runner(spark, p2, store, opts("test").copy(select = Seq("bad_status"))).execute()
    assert(t.size == 1)
    assert(t.head.status == "fail")
    assert(t.head.failures.exists(_ > 0))
    val audit = new RelationStore(spark, warehouse, "dbt_test__audit")
    assert(audit.exists("bad_status"))
  }

  test("07 build: test edges gate downstream models") {
    val runner = new Runner(spark, project, store, opts("build"))
    val g = runner.graph
    // orders_inc waits on the unique test of orders_rev? no — test edges:
    // children of a tested node wait on the test when safe. stg_orders's
    // children include orders_rev/orders_inc; tests attach to orders_rev.
    // Just assert test->model edges exist at all:
    val testEdges = g.edges.filter(_._1.startsWith("test."))
    assert(testEdges.nonEmpty)
    val results = runner.execute()
    assert(results.forall(r => Set("success", "pass").contains(r.status)), results.mkString("\n"))
  }

  test("08 selection: tags, graph ops, resource types") {
    val runner = new Runner(spark, project, store, opts("run").copy(select = Seq("tag:mart")))
    assert(runner.selectedIds() == Set("model.demo.orders_rev"))
    val up = new Runner(spark, project, store, opts("run").copy(select = Seq("+orders_rev")))
    assert(up.selectedIds() == Set("model.demo.orders_rev", "model.demo.stg_orders", "model.demo.stg_lineitem"))
  }

  test("09 source freshness evaluates thresholds") {
    val fr = new Runner(spark, project, store, opts("run")).sourceFreshness()
    assert(fr.size == 1) // only orders declares freshness config
    // data is from 1995-2001, far older than 24h ⇒ warn (no error_after set)
    assert(fr.head.status == "warn", fr.head)

    // metadata freshness (reference freshness.py:125-166): a source
    // with freshness thresholds but NO loaded_at_field answers from
    // storage last-modified metadata — no data scan
    val dm = Files.createTempDirectory("graft_meta_fresh")
    spark.range(3).toDF("id").write.parquet(dm.resolve("fresh_tbl").toString)
    spark.range(3).toDF("id").write.parquet(dm.resolve("stale_tbl").toString)
    // age the second table's files 3 days into the past
    Files.walk(dm.resolve("stale_tbl")).forEach { p =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.from(
        java.time.Instant.now().minus(java.time.Duration.ofDays(3))))
    }
    def wm(rel: String, c: String): Unit = {
      val p = dm.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wm("dbt_project.yml", "name: metafresh\n")
    wm("models/sources.yml",
      s"""version: 2
         |sources:
         |  - name: lake
         |    tables:
         |      - name: fresh_tbl
         |        location: "${dm.resolve("fresh_tbl")}"
         |        freshness:
         |          warn_after:
         |            count: 24
         |            period: hour
         |      - name: stale_tbl
         |        location: "${dm.resolve("stale_tbl")}"
         |        freshness:
         |          warn_after:
         |            count: 24
         |            period: hour
         |          error_after:
         |            count: 48
         |            period: hour
         |""".stripMargin)
    val pm = ProjectLoader.resolveRefs(ProjectLoader.load(dm.toString))
    val stm = new RelationStore(spark, dm.resolve("wh").toString)
    val frm = new Runner(spark, pm, stm,
      RunOptions(cmd = "source-freshness", threads = 1,
        targetDir = dm.resolve("target").toString)).sourceFreshness()
    val byId = frm.map(r => r.uniqueId -> r).toMap
    assert(byId("source.metafresh.lake.fresh_tbl").status == "pass",
      byId("source.metafresh.lake.fresh_tbl"))
    assert(byId("source.metafresh.lake.stale_tbl").status == "error",
      byId("source.metafresh.lake.stale_tbl"))
  }

  test("10 artifacts: run_results + manifest round-trip, retry selection") {
    val target = dir.resolve("target").toString
    val statuses = Artifacts.readRunResultStatuses(target)
    assert(statuses.nonEmpty)
    val mPath = dir.resolve("target/manifest.json").toString
    val sums = Artifacts.readManifestChecksums(mPath)
    assert(sums.contains("model.demo.orders_rev"))
    assert(sums("model.demo.orders_rev")._1.nonEmpty)
  }

  test("11 clone: state relations into a new warehouse") {
    val cloneW = dir.resolve("warehouse_clone").toString
    val cloneStore = new RelationStore(spark, cloneW)
    cloneStore.clone(store, "orders_rev")
    assert(cloneStore.read("orders_rev").count() == store.read("orders_rev").count())
  }

  test("13 defer: refs missing locally resolve to the state warehouse") {
    val freshStore = new RelationStore(spark, dir.resolve("warehouse_defer").toString)
    val revTop = ModelNode("rev_top", "demo",
      "SELECT * FROM {{ ref('orders_rev') }} ORDER BY revenue_cents DESC LIMIT 10",
      NodeConfig(materialized = Materialized.Table),
      Seq("model.demo.orders_rev"), Seq("orders_rev"), Nil)
    val p2 = project.copy(manifest =
      project.manifest.copy(nodes = project.manifest.nodes + (revTop.uniqueId -> revTop)))
    val r = new Runner(spark, p2, freshStore,
      opts("run").copy(select = Seq("rev_top"), deferStore = Some(store))).execute()
    assert(r.forall(_.status == "success"), r.mkString("\n"))
    assert(freshStore.read("rev_top").count() == 10)
    // orders_rev was NOT rebuilt locally — it was read from the deferred store
    assert(!freshStore.exists("orders_rev"))
  }

  test("14 retry: reruns exactly the failed/skipped nodes") {
    val retryTarget = dir.resolve("target_retry").toString
    val bad = ModelNode("bad_model", "demo", "SELECT definitely_not_a_column FROM {{ ref('stg_orders') }}",
      NodeConfig(materialized = Materialized.Table), Seq("model.demo.stg_orders"), Seq("stg_orders"), Nil)
    val dependent = ModelNode("bad_child", "demo", "SELECT * FROM {{ ref('bad_model') }}",
      NodeConfig(materialized = Materialized.Table), Seq(bad.uniqueId), Seq("bad_model"), Nil)
    val m2 = project.manifest.copy(nodes =
      project.manifest.nodes + (bad.uniqueId -> bad) + (dependent.uniqueId -> dependent))
    val p2 = project.copy(manifest = m2)
    val r1 = new Runner(spark, p2, store,
      opts("run").copy(select = Seq("bad_model+"), targetDir = retryTarget)).execute()
    assert(r1.exists(x => x.uniqueId == bad.uniqueId && x.status == "error"))
    assert(r1.exists(x => x.uniqueId == dependent.uniqueId && x.status == "skipped"))

    // fix the model (same id), then retry from recorded statuses
    val fixed = bad.copy(rawCode = "SELECT o_orderkey FROM {{ ref('stg_orders') }} LIMIT 5")
    val m3 = m2.copy(nodes = m2.nodes + (fixed.uniqueId -> fixed))
    val p3 = project.copy(manifest = m3)
    val statuses = Artifacts.readRunResultStatuses(retryTarget)
    val failedIds = statuses.collect { case (id, st) if Set("error", "fail", "skipped")(st) => id }.toSeq
    assert(failedIds.toSet == Set(bad.uniqueId, dependent.uniqueId))
    val r2 = new Runner(spark, p3, store,
      opts("run").copy(select = failedIds, targetDir = retryTarget)).execute()
    assert(r2.map(_.uniqueId).toSet == Set(bad.uniqueId, dependent.uniqueId))
    assert(r2.forall(_.status == "success"), r2.mkString("\n"))
    assert(store.read("bad_child").count() == 5)
  }

  test("15 snapshot timestamp strategy: newer updated_at closes the old row") {
    // initial snapshot ran in test 05; mutate with a NEWER updated_at
    write("seeds/acct_seed.csv",
      """id,amount,updated_at
        |1,150,2024-02-01 00:00:00
        |2,200,2024-01-01 00:00:00
        |""".stripMargin)
    new Runner(spark, project, store, opts("seed").copy(select = Seq("acct_seed"))).execute()
    val s = new Runner(spark, project, store,
      opts("snapshot").copy(select = Seq("acct_snap"))).execute()
    assert(s.forall(_.status == "success"), s.mkString("\n"))
    val snap = store.read("acct_snap")
    snap.createOrReplaceTempView("acct_snap_v")
    // id 1: closed old (100) + open new (150); id 2 untouched (older/equal updated_at)
    assert(spark.sql("SELECT count(*) FROM acct_snap_v WHERE id=1 AND dbt_valid_to IS NOT NULL AND amount=100").first().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM acct_snap_v WHERE id=1 AND dbt_valid_to IS NULL AND amount=150").first().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM acct_snap_v WHERE id=2").first().getLong(0) == 1)
    // scd ids are distinct per (key, updated_at)
    assert(spark.sql("SELECT count(DISTINCT dbt_scd_id) FROM acct_snap_v").first().getLong(0) == 3)
  }

  test("16 microbatch retry reruns exactly the requested batch windows") {
    val r = new Runner(spark, project, store, opts("run").copy(
      select = Seq("orders_mb"),
      retryBatches = Map("model.demo.orders_mb" -> Seq("1996-01-01")))).execute()
    val mb = r.find(_.uniqueId == "model.demo.orders_mb").get
    assert(mb.status == "success", mb)
    assert(mb.batchesSucceeded == Seq("1996-01-01"), mb)
    assert(store.read("orders_mb").count() == 1500) // window overwrite is idempotent
  }

  test("12 empty mode compiles refs with LIMIT 0") {
    val emptyOpts = opts("run").copy(empty = true, select = Seq("orders_rev"))
    val r = new Runner(spark, project, store, emptyOpts).execute()
    assert(r.forall(_.status == "success"), r.mkString("\n"))
    assert(store.read("orders_rev").count() == 0)
    // restore for later suites
    new Runner(spark, project, store, opts("run").copy(select = Seq("orders_rev"))).execute()
    assert(store.read("orders_rev").count() > 0)
  }

  test("17 custom schema config: same-aliased relations live in separate schemas") {
    val d2 = Files.createTempDirectory("graft_schema_proj")
    def w2(rel: String, c: String): Unit = {
      val p = d2.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w2("dbt_project.yml", "name: schemas\n")
    w2("models/a_orders.sql",
      "{{ config(materialized='table', schema='alpha', alias='orders_x') }}\nSELECT 1 AS k")
    w2("models/b_orders.sql",
      "{{ config(materialized='table', schema='beta', alias='orders_x') }}\nSELECT 2 AS k")
    w2("models/combined.sql",
      """{{ config(materialized='table') }}
        |SELECT (SELECT k FROM {{ ref('a_orders') }})
        |     + (SELECT k FROM {{ ref('b_orders') }}) AS s""".stripMargin)
    val p2 = ProjectLoader.resolveRefs(ProjectLoader.load(d2.toString))
    val wh2 = d2.resolve("wh").toString
    val st2 = new RelationStore(spark, wh2)
    val r = new Runner(spark, p2, st2,
      RunOptions(cmd = "run", threads = 2, targetDir = d2.resolve("target").toString)).execute()
    assert(r.forall(_.status == "success"), r.mkString("\n"))
    // reference generate_schema_name: custom schema → <target>_<custom>
    val alpha = new RelationStore(spark, wh2, "main_alpha", qualifyViews = true)
    val beta = new RelationStore(spark, wh2, "main_beta", qualifyViews = true)
    assert(alpha.exists("orders_x") && beta.exists("orders_x"))
    assert(alpha.read("orders_x").first().getInt(0) == 1)
    assert(beta.read("orders_x").first().getInt(0) == 2)
    // cross-schema refs resolved through qualified session views
    assert(st2.read("combined").first().getInt(0) == 3)
  }

  test("18 user macros expand in models and register macro-introduced refs") {
    val d3 = Files.createTempDirectory("graft_macro_proj")
    def w3(rel: String, c: String): Unit = {
      val p = d3.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w3("dbt_project.yml", "name: macrodemo\n")
    w3("macros/cents.sql",
      """{% macro cents(col) %}CAST(ROUND({{ col }} * 100) AS BIGINT){% endmacro %}
        |{% macro pick(rel, col) %}SELECT {{ col }} FROM {{ rel }}{% endmacro %}
        |""".stripMargin)
    w3("models/base_prices.sql", "SELECT 1.25 AS price UNION ALL SELECT 2.50 AS price")
    w3("models/price_cents.sql",
      "{{ config(materialized='table') }}\n" +
        "SELECT {{ cents(price) }} AS pc FROM ({{ pick(ref('base_prices'), 'price') }}) t")
    val p3 = ProjectLoader.resolveRefs(ProjectLoader.load(d3.toString))
    // the ref('base_prices') arrived via the macro body → real DAG edge
    assert(p3.manifest.nodes("model.macrodemo.price_cents").dependsOn
      .contains("model.macrodemo.base_prices"))
    val st3 = new RelationStore(spark, d3.resolve("wh").toString)
    val r = new Runner(spark, p3, st3,
      RunOptions(cmd = "run", threads = 2, targetDir = d3.resolve("target").toString)).execute()
    assert(r.forall(_.status == "success"), r.mkString("\n"))
    val vals = st3.read("price_cents").collect().map(_.getLong(0)).sorted.toSeq
    assert(vals == Seq(125L, 250L))
  }

  test("26 control flow: if/for render at parse time and prune untaken refs") {
    val dcf = Files.createTempDirectory("graft_cf_proj")
    def wcf(rel: String, c: String): Unit = {
      val p = dcf.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wcf("dbt_project.yml", "name: cfdemo\nvars:\n  env: prod\n")
    wcf("models/src_prod.sql", "SELECT 1 AS v")
    wcf("models/src_dev.sql", "SELECT 2 AS v")
    wcf("models/picker.sql",
      """{{ config(materialized='table') }}
        |{% if var('env') == 'prod' %}SELECT v FROM {{ ref('src_prod') }}
        |{% else %}SELECT v FROM {{ ref('src_dev') }}
        |{% endif %}""".stripMargin)
    wcf("models/wide.sql",
      "SELECT {% for c in ['a', 'b', 'c'] %}{{ loop.index }} AS {{ c }}" +
        "{% if not loop.last %}, {% endif %}{% endfor %}")
    wcf("models/pay.sql",
      "{% set methods = ['cash', 'card'] %}" +
        "SELECT {% for m in methods %}{{ loop.index }} AS {{ m }}_amt" +
        "{% if not loop.last %}, {% endif %}{% endfor %}")
    wcf("models/all_srcs.sql",
      "{% for m in ['src_prod', 'src_dev'] %}SELECT v FROM {{ ref(m) }}" +
        "{% if not loop.last %} UNION ALL {% endif %}{% endfor %}")
    val pcf = ProjectLoader.resolveRefs(ProjectLoader.load(dcf.toString))
    val picker = pcf.manifest.nodes("model.cfdemo.picker")
    // the untaken branch's ref never reaches the DAG (rendered Jinja semantics)
    assert(picker.dependsOn == Seq("model.cfdemo.src_prod"))
    val stcf = new RelationStore(spark, dcf.resolve("wh").toString)
    val rcf = new Runner(spark, pcf, stcf,
      RunOptions(cmd = "run", threads = 2, targetDir = dcf.resolve("target").toString)).execute()
    assert(rcf.forall(_.status == "success"), rcf.mkString("\n"))
    assert(stcf.read("picker").collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(stcf.read("wide").columns.toSeq == Seq("a", "b", "c"))
    assert(stcf.read("pay").columns.toSeq == Seq("cash_amt", "card_amt"))
    // loop-var refs resolved per iteration → both deps in the DAG
    assert(pcf.manifest.nodes("model.cfdemo.all_srcs").dependsOn.toSet
      == Set("model.cfdemo.src_prod", "model.cfdemo.src_dev"))
    assert(stcf.read("all_srcs").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // same project with a CLI var override flips the branch
    val pcf2 = ProjectLoader.resolveRefs(
      ProjectLoader.load(dcf.toString, Map("env" -> "dev")))
    assert(pcf2.manifest.nodes("model.cfdemo.picker").dependsOn
      == Seq("model.cfdemo.src_dev"))
  }

  test("27 external sources: csv and json with declared read schemas") {
    val ds = Files.createTempDirectory("graft_src_proj")
    def ws(rel: String, c: String): Unit = {
      val p = ds.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    ws("data/people.csv", "id|full_name\n1|ada\n2|grace\n")
    ws("data/clicks.json",
      """{"user_id": 1, "n": 5}
        |{"user_id": 2, "n": 7}
        |""".stripMargin)
    ws("dbt_project.yml", "name: extsrc\n")
    ws("models/schema.yml",
      s"""version: 2
         |sources:
         |  - name: raw
         |    tables:
         |      - name: people
         |        location: ${ds.resolve("data/people.csv")}
         |        format: csv
         |        options:
         |          header: "true"
         |          sep: "|"
         |        columns:
         |          - name: id
         |            data_type: bigint
         |          - name: full_name
         |            data_type: string
         |      - name: clicks
         |        location: ${ds.resolve("data/clicks.json")}
         |        format: json
         |        columns:
         |          - name: user_id
         |            data_type: bigint
         |          - name: n
         |            data_type: bigint
         |""".stripMargin)
    ws("models/joined.sql",
      "{{ config(materialized='table') }}\n" +
        "SELECT p.full_name, c.n FROM {{ source('raw', 'people') }} p " +
        "JOIN {{ source('raw', 'clicks') }} c ON p.id = c.user_id")
    val ps = ProjectLoader.resolveRefs(ProjectLoader.load(ds.toString))
    // declared types became the read schema (no inference pass)
    graft.exec.Sources.registerAll(spark, ps.manifest, ps.vars)
    val people = spark.table("src__raw__people")
    assert(people.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "bigint"), ("full_name", "string")))
    val sts = new RelationStore(spark, ds.resolve("wh").toString)
    val rs = new Runner(spark, ps, sts,
      RunOptions(cmd = "run", threads = 2, targetDir = ds.resolve("target").toString)).execute()
    assert(rs.forall(_.status == "success"), rs.mkString("\n"))
    assert(sts.read("joined").orderBy("full_name").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq == Seq(("ada", 5L), ("grace", 7L)))
  }

  test("28 enforced column constraints: not_null and check") {
    val dc = Files.createTempDirectory("graft_cons_proj")
    def wc(rel: String, c: String): Unit = {
      val p = dc.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wc("dbt_project.yml", "name: consdemo\n")
    wc("models/amounts.sql",
      "{{ config(materialized='table') }}\n" +
        "SELECT CAST(v AS BIGINT) AS amount FROM VALUES (5), (NULL) AS t(v)")
    wc("models/schema.yml",
      """version: 2
        |models:
        |  - name: amounts
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: amount
        |        data_type: bigint
        |        constraints:
        |          - not_null
        |""".stripMargin)
    val pc = ProjectLoader.resolveRefs(ProjectLoader.load(dc.toString))
    val stc = new RelationStore(spark, dc.resolve("wh").toString)
    val rc = new Runner(spark, pc, stc,
      RunOptions(cmd = "run", targetDir = dc.resolve("target").toString)).execute()
    val res = rc.find(_.uniqueId == "model.consdemo.amounts").get
    assert(res.status == "error", res)
    assert(res.message.contains("constraint violation"), res.message)
    // fix the data → same contract passes, and a satisfied check passes too
    wc("models/amounts.sql",
      "{{ config(materialized='table') }}\n" +
        "SELECT CAST(v AS BIGINT) AS amount FROM VALUES (5), (7) AS t(v)")
    wc("models/schema.yml",
      """version: 2
        |models:
        |  - name: amounts
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: amount
        |        data_type: bigint
        |        constraints:
        |          - not_null
        |          - type: check
        |            expression: "amount > 0"
        |""".stripMargin)
    val pc2 = ProjectLoader.resolveRefs(ProjectLoader.load(dc.toString))
    val rc2 = new Runner(spark, pc2, stc,
      RunOptions(cmd = "run", targetDir = dc.resolve("target").toString)).execute()
    assert(rc2.forall(_.status == "success"), rc2.mkString("\n"))
  }

  test("29 bucket_by config materializes a bucketed table") {
    val db = Files.createTempDirectory("graft_bucket_proj")
    def wb(rel: String, c: String): Unit = {
      val p = db.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wb("dbt_project.yml", "name: bdemo\n")
    wb("models/facts.sql",
      "{{ config(materialized='table', bucket_by='k', buckets=4) }}\n" +
        "SELECT id % 10 AS k, id AS v FROM RANGE(100) AS t(id)")
    val pb = ProjectLoader.resolveRefs(ProjectLoader.load(db.toString))
    val stb = new RelationStore(spark, db.resolve("wh").toString)
    val rb = new Runner(spark, pb, stb,
      RunOptions(cmd = "run", targetDir = db.resolve("target").toString)).execute()
    assert(rb.forall(_.status == "success"), rb.mkString("\n"))
    assert(stb.isBucketed("facts"))
    assert(stb.read("facts").count() == 100)
    // the read carries the bucket spec into downstream plans: an
    // aggregate on the bucket key scans 4 buckets and never shuffles
    val agg = stb.read("facts").groupBy("k").count()
    assert(agg.collect().map(_.getLong(1)).sum == 100)
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 4 out of 4"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("30 fail-fast aborts unscheduled nodes; warn-error escalates warnings") {
    val df = Files.createTempDirectory("graft_ff_proj")
    def wf(rel: String, c: String): Unit = {
      val p = df.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wf("dbt_project.yml", "name: ffdemo\n")
    wf("models/a_fail.sql", "SELECT * FROM this_table_does_not_exist_anywhere")
    wf("models/z_ok.sql", "SELECT 1 AS v")
    val pf = ProjectLoader.resolveRefs(ProjectLoader.load(df.toString))
    val stf = new RelationStore(spark, df.resolve("wh").toString)
    // without fail-fast the independent model still runs
    val plain = new Runner(spark, pf, stf,
      RunOptions(cmd = "run", threads = 1, targetDir = df.resolve("target").toString)).execute()
    assert(plain.find(_.uniqueId == "model.ffdemo.z_ok").get.status == "success")
    // with fail-fast it is aborted before it starts
    val ff = new Runner(spark, pf, stf,
      RunOptions(cmd = "run", threads = 1, failFast = true,
        targetDir = df.resolve("target").toString)).execute()
    assert(ff.find(_.uniqueId == "model.ffdemo.a_fail").get.status == "error")
    val zr = ff.find(_.uniqueId == "model.ffdemo.z_ok").get
    assert(zr.status == "skipped" && zr.message.contains("fail-fast"), zr)

    // warn-error: a warn-severity failing test escalates to error
    wf("models/a_fail.sql", "SELECT CAST(NULL AS BIGINT) AS id")
    wf("models/schema.yml",
      """version: 2
        |models:
        |  - name: a_fail
        |    columns:
        |      - name: id
        |        tests:
        |          - not_null:
        |              config:
        |                severity: warn
        |""".stripMargin)
    val pf2 = ProjectLoader.resolveRefs(ProjectLoader.load(df.toString))
    def testStatuses(warnError: Boolean) =
      new Runner(spark, pf2, stf, RunOptions(cmd = "build", threads = 1,
        warnError = warnError, targetDir = df.resolve("target").toString))
        .execute().filter(_.uniqueId.startsWith("test.")).map(_.status).toSet
    assert(testStatuses(warnError = false) == Set("warn"))
    assert(testStatuses(warnError = true) == Set("error"))
  }

  test("31 unit-test fixtures: inline csv, csv file, and sql formats") {
    val du = Files.createTempDirectory("graft_ut_proj")
    def wu(rel: String, c: String): Unit = {
      val p = du.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wu("dbt_project.yml", "name: utdemo\n")
    wu("models/base.sql", "SELECT 0 AS id, 0 AS v") // replaced by fixtures
    wu("models/doubled.sql", "SELECT id, v * 2 AS v2 FROM {{ ref('base') }}")
    wu("tests/fixtures/base_rows.csv", "id,v\n3,30\n4,40\n")
    wu("models/schema.yml",
      """version: 2
        |unit_tests:
        |  - name: ut_csv_inline
        |    model: doubled
        |    given:
        |      - input: ref('base')
        |        format: csv
        |        rows: |
        |          id,v
        |          1,10
        |          2,20
        |    expect:
        |      format: csv
        |      rows: |
        |        id,v2
        |        1,20
        |        2,40
        |  - name: ut_csv_file
        |    model: doubled
        |    given:
        |      - input: ref('base')
        |        format: csv
        |        fixture: base_rows
        |    expect:
        |      format: sql
        |      rows: SELECT 3 AS id, 60 AS v2 UNION ALL SELECT 4, 80
        |""".stripMargin)
    val pu = ProjectLoader.resolveRefs(ProjectLoader.load(du.toString))
    assert(pu.manifest.unitTests.size == 2)
    val stu = new RelationStore(spark, du.resolve("wh").toString)
    val ru = new Runner(spark, pu, stu,
      RunOptions(cmd = "test", threads = 1, targetDir = du.resolve("target").toString)).execute()
    val byId = ru.map(r => r.uniqueId -> r).toMap
    assert(byId("unit_test.utdemo.ut_csv_inline").status == "pass",
      byId("unit_test.utdemo.ut_csv_inline"))
    assert(byId("unit_test.utdemo.ut_csv_file").status == "pass",
      byId("unit_test.utdemo.ut_csv_file"))
  }

  test("32 yaml-defined snapshot and compile-only analyses") {
    val dy = Files.createTempDirectory("graft_yamlsnap")
    def wy(rel: String, c: String): Unit = {
      val p = dy.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wy("dbt_project.yml", "name: ysnap\n")
    wy("models/cust.sql", "SELECT 1 AS id, 'a' AS status")
    wy("analyses/audit.sql", "SELECT count(*) AS n FROM {{ ref('cust') }}")
    wy("snapshots/snaps.yml",
      """snapshots:
        |  - name: cust_snap_y
        |    relation: ref('cust')
        |    config:
        |      strategy: check
        |      unique_key: id
        |      check_cols: all
        |""".stripMargin)
    val py = ProjectLoader.resolveRefs(ProjectLoader.load(dy.toString))
    val snapNode = py.manifest.nodes("snapshot.ysnap.cust_snap_y")
    assert(snapNode.dependsOn == Seq("model.ysnap.cust"))
    assert(snapNode.config.strategy.contains("check"))
    val analysisNode = py.manifest.nodes("analysis.ysnap.audit")
    assert(analysisNode.dependsOn == Seq("model.ysnap.cust"))
    val sty = new RelationStore(spark, dy.resolve("wh").toString)
    val ry = new Runner(spark, py, sty,
      RunOptions(cmd = "build", threads = 1,
        targetDir = dy.resolve("target").toString)).execute()
    // build materializes the model and the YAML snapshot, never the analysis
    assert(!ry.exists(_.uniqueId.startsWith("analysis.")))
    assert(ry.find(_.uniqueId == "snapshot.ysnap.cust_snap_y").exists(_.status == "success"),
      ry.mkString("\n"))
    val snap = sty.read("cust_snap_y")
    assert(snap.count() == 1 && snap.columns.contains("dbt_valid_from"))
    // the analysis still compiles (ref resolved), like `dbt compile`
    val comp = new Compiler(py.manifest, Map.empty)
    val compiled = comp.compile(analysisNode, "SELECT count(*) AS n FROM {{ ref('cust') }}").executable
    assert(compiled.contains("cust") && !compiled.contains("{{"))
  }

  test("20 local packages + package-qualified and versioned refs") {
    val d4 = Files.createTempDirectory("graft_pkg_proj")
    def w4(rel: String, c: String): Unit = {
      val p = d4.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    // dependency package: its own models + a macro shared globally
    w4("pkg_util/dbt_project.yml", "name: util\n")
    w4("pkg_util/macros/double_it.sql",
      "{% macro double_it(x) %}({{ x }} * 2){% endmacro %}")
    w4("pkg_util/models/util_base.sql", "SELECT 10 AS v")
    // root project depends on it via packages.yml local path
    w4("dbt_project.yml", "name: rootproj\n")
    w4("packages.yml", "packages:\n  - local: pkg_util\n")
    // versioned family: rates_v1 / rates_v2 (config(version=N))
    w4("models/rates_v1.sql", "{{ config(version=1) }}\nSELECT 100 AS r")
    w4("models/rates_v2.sql", "{{ config(version=2) }}\nSELECT 200 AS r")
    w4("models/consumer.sql",
      """{{ config(materialized='table') }}
        |SELECT (SELECT v FROM {{ ref('util', 'util_base') }}) AS from_pkg,
        |       (SELECT {{ double_it(r) }} FROM {{ ref('rates') }}) AS latest_doubled,
        |       (SELECT r FROM {{ ref('rates', v=1) }}) AS pinned_v1""".stripMargin)
    val p4 = ProjectLoader.resolveRefs(ProjectLoader.load(d4.toString))
    // package nodes merged under their own package name
    assert(p4.manifest.nodes.contains("model.util.util_base"))
    // version pinning resolved in the DAG: consumer depends on v1 AND v2
    val deps = p4.manifest.nodes("model.rootproj.consumer").dependsOn.toSet
    assert(deps == Set("model.util.util_base", "model.rootproj.rates_v1",
      "model.rootproj.rates_v2"), deps.toString)
    val st4 = new RelationStore(spark, d4.resolve("wh").toString)
    val r = new Runner(spark, p4, st4,
      RunOptions(cmd = "run", threads = 2, targetDir = d4.resolve("target").toString)).execute()
    assert(r.forall(_.status == "success"), r.mkString("\n"))
    val row = st4.read("consumer").first()
    assert(row.getInt(0) == 10)   // package-qualified ref
    assert(row.getInt(1) == 400)  // latest version (200) through pkg macro
    assert(row.getInt(2) == 100)  // pinned v=1
  }

  test("21 manifest.json is v12-shaped (envelope, sections, node fields)") {
    val target = dir.resolve("target").toString
    Artifacts.writeManifest(target, project.manifest)
    val doc = graft.artifacts.Json.parse(
      Files.readString(dir.resolve("target/manifest.json")))
      .asInstanceOf[Map[String, Any]]
    // v12 top-level sections (reference artifacts/schemas/manifest/v12)
    val sections = Seq("metadata", "nodes", "sources", "macros", "docs",
      "exposures", "metrics", "groups", "selectors", "disabled", "parent_map",
      "child_map", "group_map", "saved_queries", "semantic_models", "unit_tests")
    sections.foreach(s => assert(doc.contains(s), s"missing section $s"))
    val meta = doc("metadata").asInstanceOf[Map[String, Any]]
    Seq("dbt_schema_version", "dbt_version", "generated_at", "invocation_id",
      "project_name", "adapter_type", "env").foreach(k =>
      assert(meta.contains(k), s"missing metadata.$k"))
    assert(meta("dbt_schema_version").toString.endsWith("manifest/v12.json"))
    // exposures/metrics live in their own sections, not nodes
    val nodes = doc("nodes").asInstanceOf[Map[String, Any]]
    assert(!nodes.keys.exists(_.startsWith("exposure.")))
    assert(doc("exposures").asInstanceOf[Map[String, Any]].nonEmpty)
    assert(doc("metrics").asInstanceOf[Map[String, Any]].nonEmpty)
    // node field fidelity
    val n = nodes("model.demo.orders_rev").asInstanceOf[Map[String, Any]]
    Seq("unique_id", "name", "package_name", "resource_type", "schema", "alias",
      "relation_name", "fqn", "path", "original_file_path", "checksum", "raw_code",
      "language", "refs", "sources", "depends_on", "tags", "description", "columns",
      "meta", "docs", "config").foreach(k => assert(n.contains(k), s"missing node.$k"))
    val ck = n("checksum").asInstanceOf[Map[String, Any]]
    assert(ck("name") == "sha256" && ck("checksum").toString.length == 64)
    val dep = n("depends_on").asInstanceOf[Map[String, Any]]
    assert(dep.contains("nodes") && dep.contains("macros"))
    // parent_map round-trips through the selector reader (checksum nested form)
    val back = Artifacts.readManifestChecksums(dir.resolve("target/manifest.json").toString)
    assert(back("model.demo.orders_rev")._1 == ck("checksum").toString)
  }

  test("22 semantic models, saved queries, named selectors, source_status, docs serve") {
    val d5 = Files.createTempDirectory("graft_sl_proj")
    def w5(rel: String, c: String): Unit = {
      val p = d5.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w5("dbt_project.yml", "name: sl\n")
    w5("models/base.sql", "SELECT 1 AS x")
    w5("models/schema.yml",
      """version: 2
        |semantic_models:
        |  - name: sm_base
        |    model: ref('base')
        |saved_queries:
        |  - name: sq_daily
        |    depends_on:
        |      - semantic_model.sl.sm_base
        |""".stripMargin)
    w5("selectors.yml",
      """selectors:
        |  - name: sl_all
        |    definition: "+saved_query:sq_daily"
        |""".stripMargin)
    val p5 = ProjectLoader.resolveRefs(ProjectLoader.load(d5.toString))
    val m = p5.manifest
    val sm = m.nodes("semantic_model.sl.sm_base")
    assert(sm.dependsOn == Seq("model.sl.base"))
    assert(m.nodes("saved_query.sl.sq_daily").dependsOn == Seq("semantic_model.sl.sm_base"))
    val g = graft.graph.Linker.link(m)
    assert(graft.graph.Selector.select(m, g, Seq("semantic_model:sm_base"))
      .contains("semantic_model.sl.sm_base"))
    assert(graft.graph.Selector.select(m, g, Seq("saved_query:sq_daily"))
      .contains("saved_query.sl.sq_daily"))
    // named selector from selectors.yml: +saved_query pulls ancestors
    assert(p5.selectors("sl_all") == "+saved_query:sq_daily")
    val viaNamed = graft.graph.Selector.select(m, g,
      p5.selectors("sl_all").split(" ").toSeq)
    assert(viaNamed.contains("model.sl.base"), viaNamed.toString)

    // source_status:fresher — current sources.json newer than state's
    val curT = d5.resolve("target").toString
    val oldT = d5.resolve("state").toString
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    Artifacts.writeSources(oldT, Seq(("source.sl.a.t1", Some(t0), "pass"),
      ("source.sl.a.t2", Some(t0), "pass")))
    Artifacts.writeSources(curT, Seq(("source.sl.a.t1", Some(t0.plusSeconds(3600)), "pass"),
      ("source.sl.a.t2", Some(t0), "pass")))
    val fresher = Artifacts.fresherSources(curT, oldT)
    assert(fresher == Set("source.sl.a.t1"))
    assert(graft.graph.Selector.select(m, g, Seq("source_status:fresher"),
      fresherSources = fresher) == Set("source.sl.a.t1"))

    // docs serve: static artifacts over loopback http
    Artifacts.writeManifest(curT, m)
    val srv = graft.cli.Main.serveDocs(curT, 0)
    try {
      val url = new java.net.URI(
        s"http://127.0.0.1:${srv.getAddress.getPort}/manifest.json").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.contains("manifest/v12.json"))
    } finally srv.stop(0)
  }

  test("23 python models: static ingestion into the DAG + JVM execution seam") {
    val d6 = Files.createTempDirectory("graft_py_proj")
    def w6(rel: String, c: String): Unit = {
      val p = d6.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w6("dbt_project.yml", "name: pydemo\n")
    w6("models/base_nums.sql", "SELECT 1 AS k UNION ALL SELECT 2 AS k UNION ALL SELECT 3 AS k")
    w6("models/py_sum.py",
      """import pandas  # noqa — parsed statically, never executed here
        |
        |def model(dbt, session):
        |    dbt.config(materialized="table", tags=["py"])
        |    base = dbt.ref("base_nums")
        |    return base.groupBy().sum("k")
        |""".stripMargin)
    val p6 = ProjectLoader.resolveRefs(ProjectLoader.load(d6.toString))
    val py = p6.manifest.nodes("model.pydemo.py_sum").asInstanceOf[ModelNode]
    // static extraction: ref edge, config kwargs, python marker, table default
    assert(py.dependsOn == Seq("model.pydemo.base_nums"))
    assert(py.config.meta.get("language").contains("python"))
    assert(py.config.materialized == Materialized.Table)
    assert(py.tags == Seq("py"))
    val st6 = new RelationStore(spark, d6.resolve("wh").toString)
    // without a registered implementation, the run reports the seam error
    val r0 = new Runner(spark, p6, st6,
      RunOptions(cmd = "run", threads = 1, targetDir = d6.resolve("target").toString)).execute()
    assert(r0.find(_.uniqueId == "model.pydemo.py_sum").exists(r =>
      r.status == "error" && r.message.contains("no in-process Python runtime")))
    // with one, the model runs and materializes like any other
    graft.exec.PythonModels.register("py_sum") { (_, inputs) =>
      inputs("base_nums").groupBy().sum("k").withColumnRenamed("sum(k)", "total")
    }
    try {
      val r1 = new Runner(spark, p6, st6,
        RunOptions(cmd = "run", threads = 1, targetDir = d6.resolve("target").toString)).execute()
      assert(r1.forall(_.status == "success"), r1.mkString("\n"))
      assert(st6.read("py_sum").first().getLong(0) == 6L)
    } finally graft.exec.PythonModels.unregister("py_sum")
  }

  test("24 custom generic tests: {% test %} macros called from schema YAML") {
    val d7 = Files.createTempDirectory("graft_ctest_proj")
    def w7(rel: String, c: String): Unit = {
      val p = d7.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w7("dbt_project.yml", "name: ctest\n")
    w7("macros/my_tests.sql",
      """{% test at_least(model, column_name, floor=0) %}
        |SELECT * FROM {{ model }} WHERE {{ column_name }} < {{ floor }}
        |{% endtest %}
        |""".stripMargin)
    w7("models/amounts.sql",
      "SELECT 5 AS amt UNION ALL SELECT 12 AS amt UNION ALL SELECT 7 AS amt")
    w7("models/schema.yml",
      """version: 2
        |models:
        |  - name: amounts
        |    columns:
        |      - name: amt
        |        tests:
        |          - at_least
        |          - at_least:
        |              floor: 10
        |""".stripMargin)
    val p7 = ProjectLoader.resolveRefs(ProjectLoader.load(d7.toString))
    val testIds = p7.manifest.nodes.keys.filter(_.startsWith("test.ctest.at_least")).toSeq
    assert(testIds.size == 2, testIds.toString)
    val st7 = new RelationStore(spark, d7.resolve("wh").toString)
    new Runner(spark, p7, st7,
      RunOptions(cmd = "run", threads = 1, targetDir = d7.resolve("target").toString)).execute()
    val r = new Runner(spark, p7, st7,
      RunOptions(cmd = "test", threads = 1, targetDir = d7.resolve("target").toString)).execute()
    assert(r.size == 2, r.mkString("\n"))
    // default floor=0: all values >= 0 → pass; floor=10: 5 and 7 fail
    assert(r.count(_.status == "pass") == 1, r.mkString("\n"))
    assert(r.exists(x => x.status == "fail" && x.failures.contains(2L)), r.mkString("\n"))
  }

  test("25 materialized_view: create, refresh, on_configuration_change protocol") {
    val d8 = Files.createTempDirectory("graft_mv_proj")
    def w8(rel: String, c: String): Unit = {
      val p = d8.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w8("dbt_project.yml", "name: mvdemo\n")
    w8("models/mv_sum.sql",
      "{{ config(materialized='materialized_view') }}\nSELECT 1 AS v")
    def runIt(): Seq[graft.artifacts.RunResult] = {
      val pr = ProjectLoader.resolveRefs(ProjectLoader.load(d8.toString))
      new Runner(spark, pr, st8,
        RunOptions(cmd = "run", threads = 1,
          targetDir = d8.resolve("target").toString)).execute()
    }
    lazy val st8 = new RelationStore(spark, d8.resolve("wh").toString)
    val r1 = runIt()
    assert(r1.head.message == "CREATE MATERIALIZED VIEW", r1.mkString("\n"))
    assert(st8.read("mv_sum").first().getInt(0) == 1)
    assert(st8.mvDefinition("mv_sum").nonEmpty)
    // unchanged definition → refresh
    val r2 = runIt()
    assert(r2.head.message == "REFRESH MATERIALIZED VIEW", r2.mkString("\n"))
    // redefinition with default apply → recreate with the new results
    w8("models/mv_sum.sql",
      "{{ config(materialized='materialized_view') }}\nSELECT 2 AS v")
    val r3 = runIt()
    assert(r3.head.message == "RECREATE MATERIALIZED VIEW", r3.mkString("\n"))
    assert(st8.read("mv_sum").first().getInt(0) == 2)
    // redefinition with continue → old definition still refreshes
    w8("models/mv_sum.sql",
      "{{ config(materialized='materialized_view', on_configuration_change='continue') }}\nSELECT 3 AS v")
    val r4 = runIt()
    assert(r4.head.message.contains("continue"), r4.mkString("\n"))
    assert(st8.read("mv_sum").first().getInt(0) == 2) // unchanged definition applied
    // redefinition with fail → error status
    w8("models/mv_sum.sql",
      "{{ config(materialized='materialized_view', on_configuration_change='fail') }}\nSELECT 4 AS v")
    val r5 = runIt()
    assert(r5.head.status == "error" && r5.head.message.contains("definition changed"),
      r5.mkString("\n"))
    // the failed redefinition must NOT have been recorded: the stored
    // definition still builds the old results
    assert(st8.read("mv_sum").first().getInt(0) == 2)
    // --full-refresh is the recovery path: replaces regardless of policy
    val pr = ProjectLoader.resolveRefs(ProjectLoader.load(d8.toString))
    val r6 = new Runner(spark, pr, st8,
      RunOptions(cmd = "run", threads = 1, fullRefresh = true,
        targetDir = d8.resolve("target").toString)).execute()
    assert(r6.head.status == "success" && r6.head.message.contains("full refresh"),
      r6.mkString("\n"))
    assert(st8.read("mv_sum").first().getInt(0) == 4)
  }

  test("19 test limit caps the fail count before warn/error thresholds") {
    // stg_orders has 1500 rows; limit=3 must cap fail_calc at 3
    // (reference wraps the test SQL in LIMIT n)
    val lim = TestNode("limited_probe", "demo",
      "SELECT o_orderkey FROM {{ ref('stg_orders') }}",
      NodeConfig(limit = Some(3)), Seq("model.demo.stg_orders"), Seq("stg_orders"),
      checksum = FileHash.of("lim"))
    val m2 = project.manifest.copy(nodes = project.manifest.nodes + (lim.uniqueId -> lim))
    val r = new Runner(spark, project.copy(manifest = m2), store,
      opts("test").copy(select = Seq("limited_probe"))).execute()
    assert(r.size == 1)
    assert(r.head.failures.contains(3L), r.head)
  }

  test("35 snapshot sentinel valid_to and renamed meta columns") {
    val ds = Files.createTempDirectory("graft_snapmeta")
    def ws(rel: String, c: String): Unit = {
      val p = ds.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    ws("dbt_project.yml", "name: snapmeta\n")
    ws("seeds/accounts.csv", "id,bal\n1,10\n2,20\n")
    ws("snapshots/snaps.yml",
      """snapshots:
        |  - name: acct_meta_snap
        |    relation: ref('accounts')
        |    config:
        |      strategy: check
        |      unique_key: id
        |      check_cols: all
        |      dbt_valid_to_current: '9999-12-31 00:00:00'
        |      snapshot_meta_column_names:
        |        dbt_valid_from: effective_from
        |        dbt_valid_to: effective_to
        |""".stripMargin)
    val sts = new RelationStore(spark, ds.resolve("wh").toString)
    def run(cmd: String): Unit = {
      val pr = ProjectLoader.resolveRefs(ProjectLoader.load(ds.toString))
      val r = new Runner(spark, pr, sts,
        RunOptions(cmd = cmd, threads = 1,
          targetDir = ds.resolve("target").toString)).execute()
      assert(r.forall(s => s.status == "success" || s.status == "pass"), r.mkString("\n"))
    }
    run("build")
    val snap1 = sts.read("acct_meta_snap")
    // renamed meta columns; default names absent
    assert(snap1.columns.contains("effective_from") && snap1.columns.contains("effective_to"))
    assert(!snap1.columns.contains("dbt_valid_from") && !snap1.columns.contains("dbt_valid_to"))
    // open rows carry the sentinel, not NULL
    import org.apache.spark.sql.functions.col
    assert(snap1.filter(col("effective_to").isNull).count() == 0)
    assert(snap1.filter(col("effective_to") === "9999-12-31 00:00:00").count() == 2)

    // change one row: old row closes at a real timestamp, new opens at sentinel
    ws("seeds/accounts.csv", "id,bal\n1,99\n2,20\n")
    run("build")
    val snap2 = sts.read("acct_meta_snap")
    assert(snap2.count() == 3)
    val closed = snap2.filter(col("effective_to") =!= "9999-12-31 00:00:00")
    assert(closed.count() == 1 && closed.first().getAs[Any]("id").toString == "1")
    assert(snap2.filter(col("effective_to") === "9999-12-31 00:00:00").count() == 2)
  }

  test("34 grants config records full desired state, replaced per run") {
    val dg = Files.createTempDirectory("graft_grants_proj")
    def wg(rel: String, c: String): Unit = {
      val p = dg.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wg("dbt_project.yml", "name: grants\n")
    wg("models/reporting.sql", "{{ config(materialized='table') }}\nSELECT 1 AS k")
    wg("models/schema.yml",
      """version: 2
        |models:
        |  - name: reporting
        |    config:
        |      grants:
        |        select: ['analyst', 'bi_tool']
        |        insert: ['loader']
        |""".stripMargin)
    val stg = new RelationStore(spark, dg.resolve("wh").toString)
    def run(): Unit = {
      val pr = ProjectLoader.resolveRefs(ProjectLoader.load(dg.toString))
      val r = new Runner(spark, pr, stg,
        RunOptions(cmd = "run", threads = 1,
          targetDir = dg.resolve("target").toString)).execute()
      assert(r.forall(_.status == "success"), r.mkString("\n"))
    }
    run()
    assert(stg.grants("reporting") ==
      Map("select" -> Seq("analyst", "bi_tool"), "insert" -> Seq("loader")))
    // narrowing the config replaces the whole state (revoke semantics)
    wg("models/schema.yml",
      """version: 2
        |models:
        |  - name: reporting
        |    config:
        |      grants:
        |        select: ['analyst']
        |""".stripMargin)
    run()
    assert(stg.grants("reporting") == Map("select" -> Seq("analyst")))
  }

  test("45 warn-error-options: include escalates, exclude protects, silence passes") {
    val dw = Files.createTempDirectory("graft_weo_proj")
    def ww(rel: String, c: String): Unit = {
      val p = dw.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    ww("dbt_project.yml", "name: weo\n")
    ww("models/nullable.sql", "SELECT CAST(NULL AS BIGINT) AS id")
    ww("models/schema.yml",
      """version: 2
        |models:
        |  - name: nullable
        |    columns:
        |      - name: id
        |        tests:
        |          - not_null:
        |              config:
        |                severity: warn
        |""".stripMargin)
    val stw = new RelationStore(spark, dw.resolve("wh").toString)
    val pw = ProjectLoader.resolveRefs(ProjectLoader.load(dw.toString))
    def testStatus(weo: Option[graft.exec.WarnErrorOptions]) =
      new Runner(spark, pw, stw, RunOptions(cmd = "build", threads = 1,
        warnErrorOptions = weo, targetDir = dw.resolve("target").toString))
        .execute().filter(_.uniqueId.startsWith("test.")).map(_.status).toSet
    import graft.exec.WarnErrorOptions
    // included kind escalates; an unrelated include leaves it a warn
    assert(testStatus(Some(WarnErrorOptions(include = Seq("TestWarn")))) == Set("error"))
    assert(testStatus(Some(WarnErrorOptions(include = Seq("SourceFreshnessWarn")))) == Set("warn"))
    // "all" escalates everything — except excluded kinds
    assert(testStatus(Some(WarnErrorOptions(include = Seq("all")))) == Set("error"))
    assert(testStatus(Some(WarnErrorOptions(include = Seq("all"),
      exclude = Seq("TestWarn")))) == Set("warn"))
    // silenced warnings disappear from the failure surface entirely
    assert(testStatus(Some(WarnErrorOptions(include = Seq("all"),
      silence = Seq("TestWarn")))) == Set("pass"))
    // the CLI's JSON form parses to the same behavior
    val parsed = WarnErrorOptions.parse("""{"include": ["TestWarn"], "exclude": []}""")
    assert(testStatus(Some(parsed)) == Set("error"))
  }

  test("44 query-comment: every Spark job carries its node's id and the audit header") {
    // reference config/project.py:205 query_comment — the audit header
    // on every warehouse statement; engine analogue: job group +
    // description on every Spark job a node submits
    val dq = Files.createTempDirectory("graft_qc_proj")
    def wq(rel: String, c: String): Unit = {
      val p = dq.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wq("dbt_project.yml",
      """name: qcdemo
        |query-comment: "run by qcdemo node={{ node_id }} inv={{ invocation_id }} id={{node_id }}"
        |""".stripMargin)
    wq("models/attributed.sql", "{{ config(materialized='table') }}\nSELECT 42 AS v")
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties.getProperty("spark.jobGroup.id")).getOrElse("")
        val d = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
        seen.add((g, d))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pq = ProjectLoader.resolveRefs(ProjectLoader.load(dq.toString))
      val stq = new RelationStore(spark, dq.resolve("wh").toString)
      val runner = new Runner(spark, pq, stq,
        RunOptions(cmd = "run", threads = 1, targetDir = dq.resolve("target").toString))
      val r = runner.execute()
      assert(r.forall(_.status == "success"), r.mkString("\n"))
      // listener delivery is async — poll for the expected event
      var waited = 0
      while (waited < 10000 && !seen.toArray(Array.empty[(String, String)])
          .exists(_._1 == "model.qcdemo.attributed")) { Thread.sleep(50); waited += 50 }
      val forNode = seen.toArray(Array.empty[(String, String)])
        .filter(_._1 == "model.qcdemo.attributed")
      assert(forNode.nonEmpty,
        s"no job attributed to the model; saw groups: ${seen.toArray.mkString(", ")}")
      // the custom template interpolates node and invocation ids, at
      // any spacing inside the braces
      assert(forNode.forall(_._2 == s"run by qcdemo node=model.qcdemo.attributed " +
        s"inv=${runner.invocationId} id=model.qcdemo.attributed"),
        forNode.mkString(", "))
    } finally spark.sparkContext.removeSparkListener(listener)
    // default header (no query-comment config): graft|cmd|inv|node
    val dq2 = Files.createTempDirectory("graft_qc2_proj")
    Files.writeString(dq2.resolve("dbt_project.yml"), "name: qc2\n")
    Files.createDirectories(dq2.resolve("models"))
    Files.writeString(dq2.resolve("models/m.sql"),
      "{{ config(materialized='table') }}\nSELECT 1 AS v")
    val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l2 = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen2.add(Option(j.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l2)
    try {
      val pr2 = ProjectLoader.resolveRefs(ProjectLoader.load(dq2.toString))
      val runner2 = new Runner(spark, pr2, new RelationStore(spark, dq2.resolve("wh").toString),
        RunOptions(cmd = "run", threads = 1, targetDir = dq2.resolve("target").toString))
      assert(runner2.execute().forall(_.status == "success"))
      var waited2 = 0
      while (waited2 < 10000 && !seen2.toArray(Array.empty[String])
          .exists(_.startsWith("graft|run|"))) { Thread.sleep(50); waited2 += 50 }
      assert(seen2.toArray(Array.empty[String]).exists(
        _ == s"graft|run|${runner2.invocationId}|model.qc2.m"),
        seen2.toArray.mkString(", "))
    } finally spark.sparkContext.removeSparkListener(l2)
  }

  test("43 package-lock.yml: deps locks resolved versions; lock pins until upgrade") {
    // reference task/deps.py:176-260: `deps` writes package-lock.yml
    // (resolved pins + sha1 of the spec); later installs respect the
    // lock while the spec is unchanged; editing the spec or --upgrade
    // re-resolves
    val dl = Files.createTempDirectory("graft_lockpkg")
    def wl(rel: String, c: String): Unit = {
      val p = dl.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    for (v <- Seq("1.0.0", "1.2.0"))
      wl(s"index/acme/util/$v/dbt_project.yml", "name: lockutil\n")
    wl("dbt_project.yml", "name: lockroot\n")
    wl("packages.yml",
      """packages:
        |  - package: acme/util
        |    version: [">=1.0.0", "<2.0.0"]
        |    hub: file://index
        |""".stripMargin)
    // deps resolves the range to 1.2.0 and records the pin + spec hash
    val roots = ProjectLoader.deps(dl)
    assert(roots.exists(_.toString.endsWith("1.2.0")), roots.mkString(","))
    val lock = Files.readString(dl.resolve("package-lock.yml"))
    assert(lock.contains("version: 1.2.0"), lock)
    assert(lock.contains("sha1_hash:"), lock)
    // a NEW version appearing in the index does not move the install
    // while the lock stands (reproducible builds — slim CI's contract)
    wl("index/acme/util/1.5.0/dbt_project.yml", "name: lockutil\n")
    assert(ProjectLoader.deps(dl).exists(_.toString.endsWith("1.2.0")),
      "locked install must keep the pinned version")
    // parse-time resolution honors the lock too
    assert(ProjectLoader.localPackageDirs(dl).exists(_.toString.endsWith("1.2.0")),
      "load must resolve through the standing lock")
    // --upgrade re-resolves the range and rewrites the lock
    assert(ProjectLoader.deps(dl, upgrade = true).exists(_.toString.endsWith("1.5.0")))
    assert(Files.readString(dl.resolve("package-lock.yml")).contains("version: 1.5.0"))
    // editing packages.yml invalidates the lock (hash mismatch) → fresh
    // resolution even without --upgrade; the tightened cap wins
    wl("packages.yml",
      "packages:\n  - package: acme/util\n    version: \">=1.0.0,<1.2.0\"\n    hub: file://index\n")
    assert(ProjectLoader.deps(dl).exists(_.toString.endsWith("1.0.0")))
    assert(Files.readString(dl.resolve("package-lock.yml")).contains("version: 1.0.0"))
    // lockOnly (--lock) writes without installing
    wl("packages.yml",
      "packages:\n  - package: acme/util\n    version: \">=1.0.0\"\n    hub: file://index\n")
    assert(ProjectLoader.deps(dl, lockOnly = true).isEmpty)
    assert(Files.readString(dl.resolve("package-lock.yml")).contains("version: 1.5.0"))
  }

  test("42 persist_docs: descriptions round-trip into relation comments and catalog.json") {
    val dp = Files.createTempDirectory("graft_docs_proj")
    def wp(rel: String, c: String): Unit = {
      val p = dp.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wp("dbt_project.yml", "name: docsdemo\n")
    wp("models/fact.sql", "{{ config(materialized='table') }}\nSELECT 1 AS k, 'x' AS label")
    wp("models/schema.yml",
      """version: 2
        |models:
        |  - name: fact
        |    description: "The central fact table"
        |    config:
        |      persist_docs:
        |        relation: true
        |        columns: true
        |    columns:
        |      - name: k
        |        description: "surrogate key"
        |      - name: label
        |        description: "display label"
        |""".stripMargin)
    val stp = new RelationStore(spark, dp.resolve("wh").toString)
    def run(): Unit = {
      val pr = ProjectLoader.resolveRefs(ProjectLoader.load(dp.toString))
      val r = new Runner(spark, pr, stp,
        RunOptions(cmd = "run", threads = 1,
          targetDir = dp.resolve("target").toString)).execute()
      assert(r.forall(_.status == "success"), r.mkString("\n"))
    }
    run()
    val (relC, colC) = stp.comments("fact")
    assert(relC.contains("The central fact table"))
    assert(colC == Map("k" -> "surrogate key", "label" -> "display label"))
    // catalog surfaces the persisted comments in the v1 fields a
    // catalog browser reads
    val catDir = dp.resolve("target").toString
    Artifacts.writeCatalog(catDir,
      Seq(("fact", stp.read("fact"), relC, colC, Map.empty[String, Any])))
    val cat = Files.readString(dp.resolve("target/catalog.json"))
    assert(cat.contains("\"comment\":\"The central fact table\"") ||
      cat.contains("\"comment\": \"The central fact table\""), cat.take(800))
    assert(cat.contains("surrogate key") && cat.contains("display label"))
    // disabling persist_docs clears the recorded comments on the next
    // run (replace-the-desired-state, like grants)
    wp("models/schema.yml",
      """version: 2
        |models:
        |  - name: fact
        |    description: "The central fact table"
        |    columns:
        |      - name: k
        |        description: "surrogate key"
        |""".stripMargin)
    run()
    assert(stp.comments("fact") == (None, Map.empty),
      "disabling persist_docs must clear persisted comments")
  }

  test("33 cross-run fingerprint dedup: incremental ledger survives batches") {
    // the fingerprint-store pattern: an incremental model IS the dedup
    // ledger — each run admits only fingerprints unseen in {{ this }},
    // collapsing within-batch duplicates via GROUP BY. At 100 TB the
    // NOT IN subquery is a shuffle anti-join against the stored ledger,
    // and the incremental materialization keeps commits O(batch).
    val d9 = Files.createTempDirectory("graft_fpdedup_proj")
    def w9(rel: String, c: String): Unit = {
      val p = d9.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    val docsIn = d9.resolve("docs_in").toString
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").cache()
    // batch 1: docs 0..249 plus an in-batch duplicate of doc 0's text
    val dup0 = all.filter("doc_id = 0").withColumn("doc_id",
      org.apache.spark.sql.functions.lit(9001L))
    all.filter("doc_id < 250").union(dup0).write.mode("overwrite").parquet(docsIn)

    w9("dbt_project.yml", "name: fpdedup\n")
    w9("models/sources.yml",
      s"""version: 2
         |sources:
         |  - name: corpus
         |    tables:
         |      - name: docs
         |        location: "$docsIn"
         |""".stripMargin)
    w9("models/docs_clean.sql",
      """{{ config(materialized='incremental', incremental_strategy='append') }}
        |SELECT md5(text) AS fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_merged
        |FROM {{ source('corpus', 'docs') }}
        |{% if is_incremental() %}
        |WHERE md5(text) NOT IN (SELECT fp FROM {{ this }})
        |{% endif %}
        |GROUP BY md5(text)""".stripMargin)
    val st9 = new RelationStore(spark, d9.resolve("wh").toString)
    def run(): Unit = {
      val pr = ProjectLoader.resolveRefs(ProjectLoader.load(d9.toString))
      val r = new Runner(spark, pr, st9,
        RunOptions(cmd = "run", threads = 1,
          targetDir = d9.resolve("target").toString)).execute()
      assert(r.forall(_.status == "success"), r.mkString("\n"))
    }
    run()
    assert(st9.read("docs_clean").count() == 250)
    // the in-batch duplicate collapsed onto the original, not dropped
    val merged = st9.read("docs_clean").filter("doc_id = 0").first()
    assert(merged.getAs[Long]("n_merged") == 2L)

    // batch 2 lands: docs 250..299, a cross-batch duplicate of doc 5,
    // and two copies of one new text (in-batch duplicate)
    val dup5 = all.filter("doc_id = 5").withColumn("doc_id",
      org.apache.spark.sql.functions.lit(9002L))
    val fresh260 = all.filter("doc_id = 260")
    val dup260 = fresh260.withColumn("doc_id",
      org.apache.spark.sql.functions.lit(9003L))
    all.filter("doc_id >= 250 AND doc_id < 300").union(dup5).union(dup260)
      .coalesce(1).write.mode("append").parquet(docsIn)
    run()
    val after = st9.read("docs_clean")
    // 250 + 50 new texts; 9002 blocked by the ledger, 9003 collapsed
    assert(after.count() == 300, s"got ${after.count()}")
    assert(after.filter("doc_id >= 9000").isEmpty, "duplicate ids must never win")
    assert(after.groupBy("fp").count().filter("count > 1").isEmpty, "ledger must stay unique")
    // doc 260's row records the collapse; doc 5's row still shows batch-1 state
    assert(after.filter("doc_id = 260").first().getAs[Long]("n_merged") == 2L)
    assert(after.filter("doc_id = 5").first().getAs[Long]("n_merged") == 1L)

    // idempotence: a third run with nothing new admits nothing
    run()
    assert(st9.read("docs_clean").count() == 300)
    all.unpersist()
  }

  test("36 unit-test overrides: per-test vars, env_vars, and macros") {
    // reference UnitTestOverrides (unit_test_definition.py:40-44),
    // exercised by tests/functional/unit_testing/: a unit test may pin
    // var()/env_var()/macro values for its own render only
    val dv = Files.createTempDirectory("graft_ut_overrides")
    def wv(rel: String, c: String): Unit = {
      val p = dv.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wv("dbt_project.yml", "name: ovdemo\nvars:\n  rate: 2\n")
    wv("macros/bonus.sql", "{% macro bonus(x) %}0{% endmacro %}")
    wv("models/base.sql", "SELECT 0 AS id, 0 AS v")
    wv("models/pay.sql",
      "SELECT id, v * {{ var('rate') }} + {{ env_var('PAY_SHIFT', '0') }}" +
        " + {{ bonus(1) }} AS pay FROM {{ ref('base') }}")
    wv("models/schema.yml",
      """version: 2
        |unit_tests:
        |  - name: ut_defaults
        |    model: pay
        |    given:
        |      - input: ref('base')
        |        rows:
        |          - {id: 1, v: 10}
        |    expect:
        |      rows:
        |        - {id: 1, pay: 20}
        |  - name: ut_overridden
        |    model: pay
        |    overrides:
        |      vars:
        |        rate: 3
        |      env_vars:
        |        PAY_SHIFT: 7
        |      macros:
        |        bonus: 100
        |    given:
        |      - input: ref('base')
        |        rows:
        |          - {id: 1, v: 10}
        |    expect:
        |      rows:
        |        - {id: 1, pay: 137}
        |""".stripMargin)
    val pv = ProjectLoader.resolveRefs(ProjectLoader.load(dv.toString))
    val ut = pv.manifest.unitTests("unit_test.ovdemo.ut_overridden")
    assert(ut.overrideVars == Map("rate" -> "3"))
    assert(ut.overrideEnv == Map("PAY_SHIFT" -> "7"))
    assert(ut.overrideCode.exists(_.contains("100")), ut.overrideCode)
    val stv = new RelationStore(spark, dv.resolve("wh").toString)
    val rv = new Runner(spark, pv, stv,
      RunOptions(cmd = "test", threads = 1,
        targetDir = dv.resolve("target").toString)).execute()
    val byIdV = rv.map(r => r.uniqueId -> r).toMap
    assert(byIdV("unit_test.ovdemo.ut_defaults").status == "pass",
      byIdV("unit_test.ovdemo.ut_defaults"))
    assert(byIdV("unit_test.ovdemo.ut_overridden").status == "pass",
      byIdV("unit_test.ovdemo.ut_overridden"))
  }

  test("37 template data functions end-to-end: fromjson(var()) in a macro") {
    // reference context members fromjson/tojson/... (base.py:375-631):
    // a macro unpacks a JSON project var and shapes the model's SQL
    val dj = Files.createTempDirectory("graft_datafuncs")
    def wj(rel: String, c: String): Unit = {
      val p = dj.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wj("dbt_project.yml",
      "name: djdemo\nvars:\n  cfg: '{\"col\": \"v\", \"mult\": 3}'\n")
    wj("macros/pick.sql",
      "{% macro pick(cfg_json) %}" +
        "{{ fromjson(cfg_json)['col'] }} * {{ fromjson(cfg_json)['mult'] }}" +
        "{% endmacro %}")
    wj("models/base.sql", "SELECT 10 AS v")
    wj("models/shaped.sql",
      "SELECT {{ pick(var('cfg')) }} AS x FROM {{ ref('base') }}")
    val pj = ProjectLoader.resolveRefs(ProjectLoader.load(dj.toString))
    val stj = new RelationStore(spark, dj.resolve("wh").toString)
    val rj = new Runner(spark, pj, stj,
      RunOptions(cmd = "run", threads = 1,
        targetDir = dj.resolve("target").toString)).execute()
    assert(rj.forall(_.status == "success"), rj.mkString("\n"))
    assert(stj.read("shaped").first().getAs[Int]("x") == 30)
  }

  test("38b git package deps: local repo clones, revision pins to a sha in the lock") {
    // reference GitPackage (core/dbt/deps/git.py) — zero-egress subset:
    // a LOCAL repository, tag/branch/sha revisions, lock pinning to the
    // exact commit so installs reproduce after the source moves on
    val dg = Files.createTempDirectory("graft_gitpkg")
    def wg(rel: String, c: String): Unit = {
      val p = dg.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    def sh(cwd: java.nio.file.Path, args: String*): String = {
      val pb = new ProcessBuilder(args: _*)
      pb.directory(cwd.toFile); pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"${args.mkString(" ")}:\n$out"); out.trim
    }
    // fixture repo: v1 tags a model returning 7; HEAD then moves to 9
    val repo = dg.resolve("gitpkg")
    wg("gitpkg/dbt_project.yml", "name: gitpkg\n")
    wg("gitpkg/models/git_base.sql", "SELECT 7 AS v")
    sh(repo, "git", "init", "-q", "-b", "main")
    sh(repo, "git", "config", "user.email", "t@t"); sh(repo, "git", "config", "user.name", "t")
    sh(repo, "git", "add", "-A"); sh(repo, "git", "commit", "-q", "-m", "v1")
    sh(repo, "git", "tag", "v1")
    wg("gitpkg/models/git_base.sql", "SELECT 9 AS v")
    sh(repo, "git", "commit", "-qam", "bump")
    val v1sha = sh(repo, "git", "rev-parse", "v1^{commit}")

    wg("dbt_project.yml", "name: gitroot\n")
    wg("packages.yml", s"packages:\n  - git: file://$repo\n    revision: v1\n")
    wg("models/uses_git.sql",
      """{{ config(materialized='table') }}
        |SELECT (SELECT v FROM {{ ref('gitpkg', 'git_base') }}) AS from_pkg""".stripMargin)
    val roots = ProjectLoader.deps(dg)
    assert(roots.nonEmpty)
    // the lock pins the tag to its exact commit sha
    val lock = Files.readString(dg.resolve("package-lock.yml"))
    assert(lock.contains(s"revision: $v1sha"), lock)
    val pg = ProjectLoader.resolveRefs(ProjectLoader.load(dg.toString))
    assert(pg.manifest.nodes.contains("model.gitpkg.git_base"))
    val stg = new RelationStore(spark, dg.resolve("wh").toString)
    val rg = new Runner(spark, pg, stg, RunOptions(cmd = "run", threads = 2,
      targetDir = dg.resolve("target").toString)).execute()
    assert(rg.forall(_.status == "success"), rg.mkString("\n"))
    assert(stg.read("uses_git").first().getInt(0) == 7,
      "the v1 revision's model must build, not HEAD's")
    // the source repo moves again; an install FROM THE LOCK still
    // reproduces the pinned v1 tree (reference reproducibility contract)
    wg("gitpkg/models/git_base.sql", "SELECT 11 AS v")
    sh(repo, "git", "commit", "-qam", "bump2")
    ProjectLoader.deps(dg)
    val pg2 = ProjectLoader.resolveRefs(ProjectLoader.load(dg.toString))
    assert(pg2.manifest.nodes("model.gitpkg.git_base")
      .asInstanceOf[graft.core.ModelNode].rawCode.contains("7"),
      "lock-pinned install must reproduce the pinned revision")
    // a remote scheme refuses with the zero-egress reason
    wg("packages.yml", "packages:\n  - git: https://example.com/x.git\n")
    Files.deleteIfExists(dg.resolve("package-lock.yml"))
    val e = intercept[Exception] { ProjectLoader.deps(dg) }
    assert(e.getMessage.contains("zero-egress"), e.getMessage)
  }

  test("38 tarball package deps: file:// archive resolves like a local package") {
    // reference TarballPinnedPackage (core/dbt/deps/tarball.py): the
    // archive must hold exactly one top-level folder = the package root
    val dt = Files.createTempDirectory("graft_tarpkg")
    def wt(rel: String, c: String): Unit = {
      val p = dt.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    // build the package content, then tar.gz it with the archive
    // layout the reference requires (single "tarpkg/" root folder)
    wt("src_pkg/tarpkg/dbt_project.yml", "name: tarpkg\n")
    wt("src_pkg/tarpkg/macros/triple.sql",
      "{% macro triple(x) %}({{ x }} * 3){% endmacro %}")
    wt("src_pkg/tarpkg/models/tar_base.sql", "SELECT 7 AS v")
    val tarFile = dt.resolve("tarpkg.tar.gz")
    locally {
      import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
      import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
      val out = new TarArchiveOutputStream(
        new GzipCompressorOutputStream(Files.newOutputStream(tarFile)))
      val root = dt.resolve("src_pkg")
      Files.walk(root).filter(Files.isRegularFile(_)).forEach { f =>
        val e = new TarArchiveEntry(f.toFile, root.relativize(f).toString)
        out.putArchiveEntry(e)
        out.write(Files.readAllBytes(f))
        out.closeArchiveEntry()
      }
      out.close()
    }
    wt("dbt_project.yml", "name: tarroot\n")
    wt("packages.yml",
      s"packages:\n  - tarball: file://$tarFile\n    name: tarpkg\n")
    wt("models/uses_pkg.sql",
      """{{ config(materialized='table') }}
        |SELECT (SELECT v FROM {{ ref('tarpkg', 'tar_base') }}) AS from_pkg,
        |       {{ triple(4) }} AS from_pkg_macro""".stripMargin)
    val pt = ProjectLoader.resolveRefs(ProjectLoader.load(dt.toString))
    assert(pt.manifest.nodes.contains("model.tarpkg.tar_base"))
    val stt = new RelationStore(spark, dt.resolve("wh").toString)
    val rt = new Runner(spark, pt, stt,
      RunOptions(cmd = "run", threads = 2,
        targetDir = dt.resolve("target").toString)).execute()
    assert(rt.forall(_.status == "success"), rt.mkString("\n"))
    val rowT = stt.read("uses_pkg").first()
    assert(rowT.getInt(0) == 7)   // package-qualified ref into the archive
    assert(rowT.getInt(1) == 12)  // package macro shared globally
    // re-parse reuses the cached extraction (same archive mtime)
    val extracted = dt.resolve("dbt_packages/tarpkg_untarred")
    val mtime = Files.getLastModifiedTime(extracted)
    ProjectLoader.load(dt.toString)
    assert(Files.getLastModifiedTime(extracted) == mtime)
    // a remote scheme is refused, not silently ignored
    wt("packages.yml",
      "packages:\n  - tarball: https://example.com/p.tar.gz\n    name: nope\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dt.toString))
  }

  test("39 python models: subprocess submission executes the real .py source") {
    assume(graft.exec.PythonSubprocess.available, "python3 not on PATH")
    val dp = Files.createTempDirectory("graft_py_subproc")
    def wp(rel: String, c: String): Unit = {
      val p = dp.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wp("dbt_project.yml", "name: pysub\n")
    wp("models/base_nums.sql",
      "SELECT 1 AS k UNION ALL SELECT 2 AS k UNION ALL SELECT 3 AS k")
    // stdlib-protocol model: dbt.ref() yields iterable dict rows, the
    // returned rows materialize as the relation
    wp("models/py_stats.py",
      """def model(dbt, session):
        |    dbt.config(materialized="table", submission_method="subprocess")
        |    base = dbt.ref("base_nums")
        |    ks = [r["k"] for r in base]
        |    return [{"total": sum(ks), "n": len(ks), "top": max(ks)}]
        |""".stripMargin)
    val pp = ProjectLoader.resolveRefs(ProjectLoader.load(dp.toString))
    val node = pp.manifest.nodes("model.pysub.py_stats").asInstanceOf[ModelNode]
    assert(node.config.meta.get("submission_method").contains("subprocess"))
    val stp = new RelationStore(spark, dp.resolve("wh").toString)
    val rp = new Runner(spark, pp, stp,
      RunOptions(cmd = "run", threads = 1,
        targetDir = dp.resolve("target").toString)).execute()
    assert(rp.forall(_.status == "success"), rp.mkString("\n"))
    val rowP = stp.read("py_stats").selectExpr("total", "n", "top").first()
    assert((rowP.getLong(0), rowP.getLong(1), rowP.getLong(2)) == ((6L, 3L, 3L)))
    // a crashing model surfaces the python traceback in the result
    wp("models/py_boom.py",
      """def model(dbt, session):
        |    dbt.config(materialized="table", submission_method="subprocess")
        |    raise RuntimeError("deliberate")
        |""".stripMargin)
    val pp2 = ProjectLoader.resolveRefs(ProjectLoader.load(dp.toString))
    val rp2 = new Runner(spark, pp2, stp,
      RunOptions(cmd = "run", threads = 1, select = Seq("py_boom"),
        targetDir = dp.resolve("target").toString)).execute()
    val boom = rp2.find(_.uniqueId == "model.pysub.py_boom").get
    assert(boom.status == "error", boom)
    assert(boom.message.contains("deliberate"), boom.message)
  }

  test("40 structured event log: parseable JSON lines with stable codes") {
    // reference core/dbt/events/types.py: typed events with stable
    // codes, json-serialized for external log consumers
    val de = Files.createTempDirectory("graft_eventlog")
    def we(rel: String, c: String): Unit = {
      val p = de.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    we("dbt_project.yml", "name: evdemo\n")
    we("models/a.sql", "SELECT 1 AS x")
    we("models/b.sql", "SELECT * FROM {{ ref('a') }}")
    val pe = ProjectLoader.resolveRefs(ProjectLoader.load(de.toString))
    val ste = new RelationStore(spark, de.resolve("wh").toString)
    val runner = new Runner(spark, pe, ste,
      RunOptions(cmd = "run", threads = 2,
        targetDir = de.resolve("target").toString))
    val re = runner.execute()
    assert(re.forall(_.status == "success"), re.mkString("\n"))
    val lines = Files.readAllLines(de.resolve("target/dbt.log"))
    assert(lines.size >= 6, s"expected >=6 events, got ${lines.size}") // A001 + 2x(Q024+Q025) + Q039
    val events = lines.toArray.toSeq.map(l =>
      graft.artifacts.Json.parse(l.toString).asInstanceOf[Map[String, Any]])
    def info(e: Map[String, Any]) = e("info").asInstanceOf[Map[String, Any]]
    // every line carries the full info envelope
    events.foreach { e =>
      val i = info(e)
      Seq("code", "invocation_id", "level", "msg", "name", "pid", "thread", "ts")
        .foreach(k => assert(i.contains(k), s"missing info.$k in $e"))
      assert(i("invocation_id") == runner.invocationId)
    }
    val codes = events.map(e => info(e)("code").toString)
    assert(codes.head == "A001", codes)
    assert(codes.last == "Q039", codes)
    assert(codes.count(_ == "Q024") == 2 && codes.count(_ == "Q025") == 2, codes)
    // run_result payload round-trips for a finished node
    val fin = events.find(e => info(e)("code") == "Q025").get
    val rr = fin("data").asInstanceOf[Map[String, Any]]("run_result")
      .asInstanceOf[Map[String, Any]]
    assert(rr("status") == "success", rr)
    // a failing run flags CommandCompleted success=false and an
    // error-level NodeFinished
    we("models/bad.sql", "SELECT definitely_not_a_column FROM {{ ref('a') }}")
    val pe2 = ProjectLoader.resolveRefs(ProjectLoader.load(de.toString))
    val log2 = de.resolve("target2")
    new Runner(spark, pe2, ste,
      RunOptions(cmd = "run", threads = 1, select = Seq("bad"),
        targetDir = log2.toString)).execute()
    val events2 = Files.readAllLines(log2.resolve("dbt.log")).toArray.toSeq
      .map(l => graft.artifacts.Json.parse(l.toString).asInstanceOf[Map[String, Any]])
    val done = events2.find(e => info(e)("code") == "Q039").get
    assert(done("data").asInstanceOf[Map[String, Any]]("success") == false, done)
    assert(events2.exists(e =>
      info(e)("code") == "Q025" && info(e)("level") == "error"), events2)
  }

  test("41 curation project: dedup + quality gate + split as dbt models, verified against the operators") {
    // the two halves of the engine compose: a training-data curation
    // pipeline expressed as PLAIN dbt SQL models over the documents
    // source, built and tested by the engine — and its admission
    // decisions must equal the dedicated Scala operators' output
    val dc = Files.createTempDirectory("graft_curation")
    def wc(rel: String, c: String): Unit = {
      val p = dc.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wc("dbt_project.yml", "name: curation\n")
    wc("models/sources.yml",
      s"""version: 2
         |sources:
         |  - name: corpus
         |    tables:
         |      - name: documents
         |        location: "$sf/documents.parquet"
         |""".stripMargin)
    wc("models/stg_docs.sql",
      """SELECT doc_id, lang, text,
        |       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))) AS fp,
        |       size(filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '),
        |            t -> t != '')) AS n_toks
        |FROM {{ source('corpus', 'documents') }}""".stripMargin)
    wc("models/dedup.sql",
      """{{ config(materialized='table') }}
        |SELECT doc_id, fp, n_toks,
        |       CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS keep
        |FROM {{ ref('stg_docs') }}""".stripMargin)
    wc("models/admitted.sql",
      """{{ config(materialized='table') }}
        |SELECT doc_id, fp, n_toks,
        |       cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100 AS bucket
        |FROM {{ ref('dedup') }}
        |WHERE keep = 1 AND n_toks >= 10""".stripMargin)
    wc("models/schema.yml",
      """models:
        |  - name: admitted
        |    columns:
        |      - name: fp
        |        tests: [unique, not_null]
        |      - name: doc_id
        |        tests: [unique]
        |""".stripMargin)
    val pc = ProjectLoader.resolveRefs(ProjectLoader.load(dc.toString))
    val stc = new RelationStore(spark, dc.resolve("wh").toString)
    val rc = new Runner(spark, pc, stc,
      RunOptions(cmd = "build", threads = 2, targetDir = dc.resolve("target").toString))
    val res = rc.execute()
    assert(res.forall(r => r.status == "success" || r.status == "pass"), res.mkString("\n"))
    assert(res.exists(_.uniqueId.startsWith("test.curation.unique_admitted_fp")),
      "generic tests must have run in the build")
    // the SQL pipeline's keeper set equals the Scala operator's
    val admitted = stc.read("admitted").collect().map(_.getLong(0)).toSet
    val opKeepers = graft.operators.DedupOps.dedupExact(spark, sf)
      .filter(org.apache.spark.sql.functions.col("keep") === 1)
      .collect().map(_.getLong(0)).toSet
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id",
        "size(filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), t -> t != '')) AS n")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(admitted == opKeepers.filter(lens(_) >= 10),
      "dbt-surface admission must equal the operator pipeline")
  }

  test("40 modules.datetime/.re end-to-end: date window macro shapes a model") {
    // reference base.py:630 `modules` — the rolling-window macro idiom:
    // a macro computes cutoff dates with strptime + timedelta and
    // sanitizes a var with modules.re, all at parse time
    val dm = Files.createTempDirectory("graft_modules")
    def wm(rel: String, c: String): Unit = {
      val p = dm.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    wm("dbt_project.yml",
      "name: moddemo\nvars:\n  as_of: '2024-03-15'\n  tbl_raw: 'base table'\n")
    wm("macros/window.sql",
      "{% macro window_start(as_of, days_back) %}" +
        "{% set d = modules.datetime.datetime.strptime(as_of, '%Y-%m-%d') " +
        "- modules.datetime.timedelta(days=days_back) %}" +
        "{{ d.strftime('%Y-%m-%d') }}" +
        "{% endmacro %}")
    wm("models/base_table.sql", "SELECT '2024-03-08' AS d UNION ALL SELECT '2024-02-01' AS d")
    wm("models/windowed.sql",
      // modules.re strips the var to a valid identifier, resolving the ref
      "{% set tbl = modules.re.sub('[^a-z0-9_]', '_', var('tbl_raw')) %}" +
        "SELECT d FROM {{ ref(tbl) }} WHERE d >= '{{ window_start(var('as_of'), 10) }}'")
    val pm = ProjectLoader.resolveRefs(ProjectLoader.load(dm.toString))
    val stm = new RelationStore(spark, dm.resolve("wh").toString)
    val rm = new Runner(spark, pm, stm,
      RunOptions(cmd = "run", threads = 1,
        targetDir = dm.resolve("target").toString)).execute()
    assert(rm.forall(_.status == "success"), rm.mkString("\n"))
    val rows = stm.read("windowed").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("2024-03-08"), s"window cutoff must be 2024-03-05, got rows $rows")
  }

  test("41 hub-index deps: version-pinned package resolves from a file:// index") {
    // reference RegistryPinnedPackage (core/dbt/deps/registry.py) over a
    // local registry layout <index>/<org>/<name>/<version>/
    val dh = Files.createTempDirectory("graft_hubpkg")
    def wh(rel: String, c: String): Unit = {
      val p = dh.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    for (v <- Seq("1.0.0", "1.2.0", "1.2.0-rc1", "2.0.0")) {
      wh(s"index/acme/util/$v/dbt_project.yml", "name: hubutil\n")
      wh(s"index/acme/util/$v/models/hub_base.sql",
        s"SELECT '$v' AS pkg_version")
    }
    wh("dbt_project.yml", "name: hubroot\n")
    wh("packages.yml",
      """packages:
        |  - package: acme/util
        |    version: [">=1.0.0", "<2.0.0"]
        |    hub: file://index
        |""".stripMargin)
    wh("models/uses_hub.sql",
      "SELECT pkg_version FROM {{ ref('hubutil', 'hub_base') }}")
    val ph = ProjectLoader.resolveRefs(ProjectLoader.load(dh.toString))
    assert(ph.manifest.nodes.contains("model.hubutil.hub_base"))
    val sth = new RelationStore(spark, dh.resolve("wh").toString)
    val rh = new Runner(spark, ph, sth,
      RunOptions(cmd = "run", threads = 2,
        targetDir = dh.resolve("target").toString)).execute()
    assert(rh.forall(_.status == "success"), rh.mkString("\n"))
    // highest in-range RELEASE wins: 1.2.0 — not 1.0.0, not the 2.0.0
    // outside the cap, and not 1.2.0-rc1 (pre-releases sort BELOW their
    // release, semver-style)
    assert(sth.read("uses_hub").first().getString(0) == "1.2.0")
    // the dbt comma-range string form resolves identically to the list
    wh("packages.yml",
      "packages:\n  - package: acme/util\n    version: \">=1.0.0,<2.0.0\"\n    hub: file://index\n")
    assert(ProjectLoader.localPackageDirs(dh).exists(_.toString.endsWith("1.2.0")),
      "comma-separated range must honor the upper clause")
    // no satisfying version errors listing what IS available
    wh("packages.yml",
      "packages:\n  - package: acme/util\n    version: \">=3.0.0\"\n    hub: file://index\n")
    val e = intercept[IllegalArgumentException](ProjectLoader.load(dh.toString))
    assert(e.getMessage.contains("available: 1.0.0, 1.2.0-rc1, 1.2.0, 2.0.0"), e.getMessage)
    // an http hub is refused, not silently ignored
    wh("packages.yml",
      "packages:\n  - package: acme/util\n    hub: https://hub.getdbt.com\n")
    assertThrows[IllegalArgumentException](ProjectLoader.load(dh.toString))
  }

  test("examples/curation showcase: the engine runs the pipeline; keepers match the operator library") {
    val work = Files.createTempDirectory("graft_showcase")
    val store = new RelationStore(spark, work.resolve("wh").toString)
    val p = ProjectLoader.resolveRefs(ProjectLoader.load("examples/curation"))
    val res = new Runner(spark, p, store, RunOptions(cmd = "build", threads = 2,
      targetDir = work.resolve("target").toString,
      eventTimeEnd = Some(java.time.Instant.parse("2024-03-01T00:00:00Z")))).execute()
    assert(res.nonEmpty && res.forall(r => r.status == "success" || r.status == "pass"),
      res.mkString("\n"))
    // the build exercised every §2.1 node type: models, a microbatch
    // incremental, a snapshot, generic data tests, and a unit test
    assert(res.exists(_.uniqueId == "model.curation.events_daily"))
    assert(res.exists(r => r.uniqueId.startsWith("snapshot.curation.source_stats_snap")))
    assert(res.exists(r => r.uniqueId.startsWith("unit_test.") && r.status == "pass"),
      res.filter(_.uniqueId.startsWith("unit_test.")).mkString("\n"))
    // keeper election through the ENGINE's SQL path must agree with the
    // operator library's dedupExact bit for bit
    import org.apache.spark.sql.functions.col
    val engineKeep = store.read("dedup_keepers")
      .select(col("doc_id"), col("keep").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val opKeep = graft.operators.DedupOps.dedupExact(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("keep").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(engineKeep == opKeep, "engine SQL and operator library disagree on keepers")
    // the clean corpus equals the quality-passing keepers exactly
    val clean = store.read("corpus_clean").count()
    val expected = store.read("doc_quality").filter(col("quality_pass") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      .intersect(engineKeep.filter(_._2 == 1L).map(_._1))
    assert(clean == expected.size.toLong, s"clean $clean != ${expected.size}")
    // the engine-SQL encoding gate must agree with the operator
    // library's mojibake verdicts bit for bit (same regex arithmetic
    // through two surfaces)
    val engineEnc = store.read("encoding_gate")
      .select(col("doc_id"), col("encoding_pass").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val opEnc = graft.operators.TextOps.txtMojibake(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        (org.apache.spark.sql.functions.lit(1L) - col("mojibake")).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(engineEnc == opEnc, "engine SQL and operator library disagree on encoding")
    // the engine-SQL CDC overlap report must agree with the operator
    // library's dedupCdc bit for bit (the native cdc_chunks expression
    // flowing through the model surface)
    val engineCdc = store.read("doc_overlap")
      .select(col("doc_id"), col("n_shared"), col("shared_millis")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val opCdc = graft.operators.DedupOps.dedupCdc(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("n_shared"), col("shared_millis")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(engineCdc == opCdc, "engine SQL and operator library disagree on CDC overlap")
    // the pipe-filter macro (macros/lang_utils.sql) normalized the
    // sloppy ' EN, de ,en' literal into IN ('de', 'en') — the slice
    // must equal the staged docs filtered to exactly those two langs
    val slice = store.read("lang_slice")
    val expectLangs = store.read("stg_documents")
      .filter(col("lang").isin("de", "en")).count()
    assert(slice.count() == expectLangs && slice.count() > 0,
      s"lang_slice ${slice.count()} != $expectLangs")
    assert(slice.select(col("lang")).distinct().collect().map(_.getString(0)).toSet
      == Set("de", "en"))
    // the round's analyst-facing operators through ENGINE SQL must
    // agree with the operator library bit for bit (same arithmetic,
    // two surfaces): zipf rank decades, source concentration, and
    // common-neighbor link prediction
    val engineZipf = store.read("zipf_profile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val opZipf = graft.operators.TextOps.txtZipf(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(engineZipf == opZipf, "engine SQL and operator library disagree on zipf")
    val engineConc = store.read("source_concentration").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val opConc = graft.operators.CurateOps
      .curateSourceConcentration(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(engineConc == opConc,
      s"engine SQL and operator library disagree on concentration: $engineConc vs $opConc")
    val engineLp = store.read("link_candidates").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val opLp = graft.operators.GraphOps.graphLinkPred(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(engineLp == opLp, "engine SQL and operator library disagree on link prediction")
    assert(engineLp.nonEmpty, "link prediction should score wedges on this corpus")
    val engineSpan = store.read("span_report").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val opSpan = graft.operators.DedupOps.dedupSpanPairs(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(engineSpan == opSpan, "engine SQL and operator library disagree on span pairs")
    // the drift monitor through the MODEL surface (graft_op routing the
    // declared embeddings source into the operator library) must agree
    // with the library's corpus operator bit for bit
    val engineDrift = store.read("drift_report").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val opDrift = graft.operators.SimilarityOps
      .simIndexDrift(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(engineDrift == opDrift, "engine model and operator library disagree on drift")
    assert(engineDrift.nonEmpty, "drift report should cover the centroid cells")
    // the datacard accounts for every document
    val card = store.read("datacard")
    assert(card.agg(org.apache.spark.sql.functions.sum("n_docs")).first().getLong(0)
      == engineKeep.size.toLong)
    // the native quantile_sketch aggregate flowed through engine SQL
    val sk = store.read("token_quantiles").collect()
    assert(sk.nonEmpty && sk.forall(_.getSeq[Any](1).nonEmpty),
      "per-source token sketches must be non-empty")
    // the microbatch rollup covers exactly the event-time window and
    // matches a direct aggregation of the raw events
    val daily = store.read("events_daily")
    val directN = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("ts") < org.apache.spark.sql.functions.lit("2024-03-01"))
      .groupBy(org.apache.spark.sql.functions.to_date(col("ts")).as("day"),
        col("event_type"))
      .count().count()
    assert(daily.count() == directN, s"events_daily ${daily.count()} != $directN")
    // the snapshot opened one SCD-2 row per source, valid_to open
    val snap = store.read("source_stats_snap")
    assert(snap.filter(col("dbt_valid_to").isNull).count()
      == store.read("datacard").count(), "snapshot must open one row per source")
  }

  test("flags: skip_nodes_if_on_run_start_fails short-circuits nodes; off still runs them") {
    def run(flagOn: Boolean) = {
      val d = Files.createTempDirectory("graft_flags_skip")
      def w(rel: String, c: String) = {
        val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
      }
      w("dbt_project.yml",
        s"""name: flagdemo
           |on-run-start:
           |  - "SELECT definitely_broken FROM nowhere_at_all"
           |on-run-end:
           |  - "SELECT also_broken FROM nowhere_either"
           |${if (flagOn) "flags:\n  skip_nodes_if_on_run_start_fails: true\n" else ""}""".stripMargin)
      w("models/simple.sql", "SELECT 1 AS x")
      val p = ProjectLoader.resolveRefs(ProjectLoader.load(d.toString))
      val st = new RelationStore(spark, d.resolve("wh").toString)
      (new Runner(spark, p, st, RunOptions(cmd = "run", threads = 1,
        targetDir = d.resolve("target").toString)).execute(), st, d)
    }
    // flag ON (reference runnable.py:517): the hook failure is an error
    // result and every selected node is marked skipped, never executed
    val (rOn, stOn, _) = run(true)
    assert(rOn.exists(r => r.uniqueId.startsWith("operation.") && r.status == "error"),
      rOn.mkString("\n"))
    assert(rOn.exists(r => r.uniqueId == "model.flagdemo.simple" && r.status == "skipped"),
      rOn.mkString("\n"))
    assert(!stOn.exists("simple"), "skipped node must not materialize")
    // flag OFF (the default): the hook failure is recorded but nodes run
    val (rOff, stOff, dOff) = run(false)
    assert(rOff.exists(r => r.uniqueId.startsWith("operation.") && r.status == "error"))
    assert(rOff.exists(r => r.uniqueId == "model.flagdemo.simple" && r.status == "success"),
      rOff.mkString("\n"))
    assert(stOff.exists("simple"))
    // a failing on-run-end hook is an error result too, and the run's
    // artifacts are still written
    assert(rOff.exists(r => r.uniqueId == "operation.flagdemo.flagdemo-on-run-end-0" &&
      r.status == "error"), rOff.mkString("\n"))
    assert(Files.exists(dOff.resolve("target/run_results.json")))
  }

  test("flags: source_freshness_run_project_hooks gates project hooks around freshness") {
    def fresh(flagOn: Boolean, marker: String): Unit = {
      val d = Files.createTempDirectory("graft_flags_fresh")
      def w(rel: String, c: String) = {
        val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
      }
      w("dbt_project.yml",
        s"""name: freshdemo
           |vars:
           |  data_dir: $sf
           |on-run-start:
           |  - "CREATE OR REPLACE TEMPORARY VIEW $marker AS SELECT 1 AS x"
           |${if (flagOn) "flags:\n  source_freshness_run_project_hooks: true\n" else ""}""".stripMargin)
      w("models/sources.yml",
        """version: 2
          |sources:
          |  - name: tpch
          |    tables:
          |      - name: orders
          |        location: "{data_dir}/orders.parquet"
          |        loaded_at_field: o_orderdate
          |        freshness:
          |          warn_after:
          |            count: 24
          |            period: hour
          |""".stripMargin)
      val p = ProjectLoader.resolveRefs(ProjectLoader.load(d.toString))
      val st = new RelationStore(spark, d.resolve("wh").toString)
      new Runner(spark, p, st, RunOptions(cmd = "run", threads = 1,
        targetDir = d.resolve("target").toString)).sourceFreshness()
      ()
    }
    // flag OFF (the reference default): hooks are SKIPPED during
    // freshness (freshness.py:253-259 returns [] + deprecation warning)
    fresh(flagOn = false, marker = "fresh_hook_off")
    assert(!spark.catalog.tableExists("fresh_hook_off"),
      "freshness must not run project hooks without the flag")
    // flag ON: on-run-start runs before the freshness checks
    fresh(flagOn = true, marker = "fresh_hook_on")
    assert(spark.catalog.tableExists("fresh_hook_on"),
      "freshness must run project hooks under the flag")
  }

  test("flags: state_modified_compare_vars selects var-value drift only when set") {
    import graft.graph.{Selector, StateView}
    val d = Files.createTempDirectory("graft_flags_vars")
    def w(rel: String, c: String) = {
      val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w("dbt_project.yml", "name: varsdemo\nvars:\n  cutoff: 5\n")
    w("models/uses_var.sql", "SELECT {{ var('cutoff') }} AS cutoff")
    w("models/no_var.sql", "SELECT 2 AS y")
    val p1 = ProjectLoader.load(d.toString)
    val stateDir = d.resolve("state").toString
    Artifacts.writeManifest(stateDir, p1.manifest)
    val state = StateView.read(s"$stateDir/manifest.json")
    // unchanged vars: nothing is modified regardless of the flag
    assert(Selector.stateMatch("modified", p1.manifest, state).isEmpty)
    // var VALUE changed, flag off (default): checksums cover the
    // var-UNRENDERED text, so nothing registers as modified — the
    // reference's raw_code comparison semantics
    val p2 = ProjectLoader.load(d.toString, Map("cutoff" -> "9"))
    assert(Selector.stateMatch("modified", p2.manifest, state).isEmpty,
      "var drift must not select without the flag")
    // var VALUE changed, flag on: exactly the var-referencing node
    w("dbt_project.yml",
      "name: varsdemo\nvars:\n  cutoff: 5\nflags:\n  state_modified_compare_vars: true\n")
    val p3 = ProjectLoader.load(d.toString, Map("cutoff" -> "9"))
    assert(Selector.stateMatch("modified", p3.manifest, state)
      == Set("model.varsdemo.uses_var"),
      "var drift under the flag must select exactly the var-referencing node")
    // the recorded facet carries the resolved values
    assert(p3.manifest.varsUsed("model.varsdemo.uses_var") == Map("cutoff" -> "9"))
  }

  test("flags: require_explicit_package_overrides_for_builtin_materializations gates package overrides") {
    def build(flagOff: Boolean, rootOverride: Boolean = false) = {
      val d = Files.createTempDirectory("graft_flags_matovr")
      def w(rel: String, c: String) = {
        val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
      }
      w("dbt_project.yml",
        "name: matdemo\n" + (if (flagOff)
          "flags:\n  require_explicit_package_overrides_for_builtin_materializations: false\n"
        else ""))
      w("packages.yml", "packages:\n  - local: pkg_mat\n")
      w("pkg_mat/dbt_project.yml", "name: matpkg\n")
      w("pkg_mat/macros/override_table.sql",
        "{% materialization table, default %}\nSELECT x + 100 AS x FROM {{ sql }}\n{% endmaterialization %}")
      if (rootOverride)
        w("macros/root_table.sql",
          "{% materialization table, default %}\nSELECT x + 7 AS x FROM {{ sql }}\n{% endmaterialization %}")
      w("models/simple.sql", "{{ config(materialized='table') }}\nSELECT 1 AS x")
      val p = ProjectLoader.resolveRefs(ProjectLoader.load(d.toString))
      val st = new RelationStore(spark, d.resolve("wh").toString)
      val r = new Runner(spark, p, st, RunOptions(cmd = "run", threads = 1,
        targetDir = d.resolve("target").toString)).execute()
      (p, st, r)
    }
    // absent flag = the reference's default TRUE (project.py:342): a
    // package's override of a BUILTIN materialization is ignored — the
    // builtin table materialization runs
    val (p1, st1, r1) = build(flagOff = false)
    assert(p1.manifest.flag("require_explicit_package_overrides_for_builtin_materializations"),
      "the flag must default TRUE")
    assert(p1.manifest.matOverrides.contains("table"), "the override block must parse")
    assert(r1.forall(_.status == "success"), r1.mkString("\n"))
    assert(st1.read("simple").first().getInt(0) == 1, "builtin must win under the default")
    // legacy FALSE: the package override dispatches (with a deprecation)
    val (_, st2, r2) = build(flagOff = true)
    assert(r2.exists(r => r.uniqueId == "model.matdemo.simple" &&
      r.message.contains("CUSTOM MATERIALIZATION")), r2.mkString("\n"))
    assert(st2.read("simple").first().getInt(0) == 101,
      "the package override must run under legacy behavior")
    // a ROOT-project override always dispatches (reference
    // manifest.py:1032-1035: Locality.Root stays a valid locality even
    // in the explicit-overrides era) — and root parses after packages,
    // so it wins the name collision
    val (_, st3, r3) = build(flagOff = false, rootOverride = true)
    assert(r3.exists(r => r.uniqueId == "model.matdemo.simple" &&
      r.message.contains("root project")), r3.mkString("\n"))
    assert(st3.read("simple").first().getInt(0) == 8,
      "the root override must dispatch regardless of the flag")
  }

  test("flags: state_modified_compare_more_unrendered_values ignores rendering-only config drift") {
    import graft.graph.{Selector, StateView}
    val d = Files.createTempDirectory("graft_flags_unrendered")
    def w(rel: String, c: String) = {
      val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    // the model's RENDERED config depends on a var (control flow picks
    // the config call), but the config AS WRITTEN is stable
    w("dbt_project.yml", "name: urdemo\nvars:\n  mode: fast\n")
    w("models/env_cfg.sql",
      """{% if var('mode') == 'fast' %}{{ config(tags=['hot']) }}{% else %}{{ config(tags=['cold']) }}{% endif %}
        |SELECT 1 AS x""".stripMargin)
    val p1 = ProjectLoader.load(d.toString)
    assert(p1.manifest.nodes("model.urdemo.env_cfg").config.tags == Seq("hot"))
    val stateDir = d.resolve("state").toString
    Artifacts.writeManifest(stateDir, p1.manifest)
    val state = StateView.read(s"$stateDir/manifest.json")
    assert(Selector.stateMatch("modified", p1.manifest, state).isEmpty)
    // var flips the RENDERED config; flag off (default): the rendered
    // comparison reads that as modified
    val p2 = ProjectLoader.load(d.toString, Map("mode" -> "slow"))
    assert(p2.manifest.nodes("model.urdemo.env_cfg").config.tags == Seq("cold"))
    assert(Selector.stateMatch("modified", p2.manifest, state)
      == Set("model.urdemo.env_cfg"),
      "rendered-config drift must select without the flag")
    // flag on: the comparison uses the config AS WRITTEN — a rendering-
    // only difference no longer reads as modified
    w("dbt_project.yml",
      "name: urdemo\nvars:\n  mode: fast\nflags:\n  state_modified_compare_more_unrendered_values: true\n")
    val p3 = ProjectLoader.load(d.toString, Map("mode" -> "slow"))
    assert(Selector.stateMatch("modified", p3.manifest, state).isEmpty,
      "rendering-only drift must not select under the flag")
    // but an edit to the config as written STILL selects under the flag
    w("models/env_cfg.sql",
      """{% if var('mode') == 'fast' %}{{ config(tags=['blazing']) }}{% else %}{{ config(tags=['cold']) }}{% endif %}
        |SELECT 1 AS x""".stripMargin)
    val p4 = ProjectLoader.load(d.toString, Map("mode" -> "slow"))
    assert(Selector.stateMatch("modified", p4.manifest, state)
      .contains("model.urdemo.env_cfg"),
      "a real config edit must still select under the flag")
  }

  test("flags: require_resource_names_without_spaces errors on spaced names; off warns") {
    val d = Files.createTempDirectory("graft_flags_spaces")
    def w(rel: String, c: String) = {
      val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w("dbt_project.yml", "name: spacedemo\n")
    w("models/bad name.sql", "SELECT 1 AS x")
    // default: deprecation warning, the project still loads
    val p = ProjectLoader.load(d.toString)
    assert(p.manifest.nodes.contains("model.spacedemo.bad name"))
    // flag on (reference manifest.py:643): a hard validation error
    w("dbt_project.yml",
      "name: spacedemo\nflags:\n  require_resource_names_without_spaces: true\n")
    val e = intercept[IllegalArgumentException] { ProjectLoader.load(d.toString) }
    assert(e.getMessage.contains("cannot contain spaces"), e.getMessage)
  }

  test("run_results surfaces skipping effectiveness: files considered vs opened") {
    val d = Files.createTempDirectory("graft_skipobs")
    def w(rel: String, c: String): Unit = {
      val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w("dbt_project.yml", "name: skipobs\n")
    // a range-clustered base table (4 id-disjoint files) and a
    // planted-selective downstream point lookup over it
    w("models/base.sql",
      """{{ config(materialized='table') }}
        |SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 2 AS v
        |FROM range(400)""".stripMargin)
    w("models/lookup.sql",
      """{{ config(materialized='table') }}
        |SELECT id, v FROM {{ ref('base') }} WHERE id = 7""".stripMargin)
    val st = new RelationStore(spark, d.resolve("wh").toString)
    val pr = ProjectLoader.resolveRefs(ProjectLoader.load(d.toString))
    val rs = new Runner(spark, pr, st,
      RunOptions(cmd = "run", threads = 1,
        targetDir = d.resolve("target").toString)).execute()
    assert(rs.forall(_.status == "success"), rs.mkString("\n"))
    val look = rs.find(_.uniqueId.endsWith(".lookup")).get
    assert(look.adapterResponse.get("files_considered").contains(4L),
      look.adapterResponse.toString)
    assert(look.adapterResponse.get("files_opened").contains(1L),
      "the point lookup must OPEN only the one id-overlapping file: " +
        look.adapterResponse.toString)
    assert(look.adapterResponse("bytes_opened") < look.adapterResponse("bytes_considered"))
    // and the numbers land in the run_results artifact itself
    val raw = Files.readString(d.resolve("target/run_results.json"))
    val parsed = graft.artifacts.Json.parse(raw)
      .asInstanceOf[Map[String, Any]]("results").asInstanceOf[List[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
      .find(_("unique_id").toString.endsWith(".lookup")).get
    val ar = parsed("adapter_response").asInstanceOf[Map[String, Any]]
    assert(ar("files_considered").toString.toDouble.toLong == 4L, raw.take(400))
    assert(ar("files_opened").toString.toDouble.toLong == 1L)
    // answer unchanged by skipping
    assert(st.read("lookup").collect().map(_.getLong(1)).toSeq == Seq(14L))
  }

  test("scan attribution is exact per node under CONCURRENT scheduling") {
    val d = Files.createTempDirectory("graft_skipconc")
    def w(rel: String, c: String): Unit = {
      val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w("dbt_project.yml", "name: skipconc\n")
    // two independent base tables with DIFFERENT file counts (4 vs 8
    // id-disjoint files) and a selective lookup over each — scheduled
    // concurrently, each lookup's adapter_response must report ITS OWN
    // table's numbers exactly (job-group bucketing; the old JVM-global
    // snapshot could attribute a competitor's planning across)
    w("models/base_a.sql",
      """{{ config(materialized='table') }}
        |SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 2 AS v
        |FROM range(400)""".stripMargin)
    w("models/base_b.sql",
      """{{ config(materialized='table') }}
        |SELECT /*+ REPARTITION_BY_RANGE(8, id) */ id, id * 3 AS v
        |FROM range(800)""".stripMargin)
    w("models/look_a.sql",
      """{{ config(materialized='table') }}
        |SELECT id, v FROM {{ ref('base_a') }} WHERE id = 7""".stripMargin)
    w("models/look_b.sql",
      """{{ config(materialized='table') }}
        |SELECT id, v FROM {{ ref('base_b') }} WHERE id = 7""".stripMargin)
    val st = new RelationStore(spark, d.resolve("wh").toString)
    val pr = ProjectLoader.resolveRefs(ProjectLoader.load(d.toString))
    // threads=4: both lookups run in the same scheduler wave
    val rs = new Runner(spark, pr, st,
      RunOptions(cmd = "run", threads = 4,
        targetDir = d.resolve("target").toString)).execute()
    assert(rs.forall(_.status == "success"), rs.mkString("\n"))
    val la = rs.find(_.uniqueId.endsWith(".look_a")).get.adapterResponse
    val lb = rs.find(_.uniqueId.endsWith(".look_b")).get.adapterResponse
    assert(la.get("files_considered").contains(4L) &&
      la.get("files_opened").contains(1L), s"look_a attribution: $la")
    assert(lb.get("files_considered").contains(8L) &&
      lb.get("files_opened").contains(1L), s"look_b attribution: $lb")
    assert(st.read("look_a").collect().map(_.getLong(1)).toSeq == Seq(14L))
    assert(st.read("look_b").collect().map(_.getLong(1)).toSeq == Seq(21L))
  }

  test("scan attribution counts BOTH scans of a self-join, not just the last") {
    val d = Files.createTempDirectory("graft_skipself")
    def w(rel: String, c: String): Unit = {
      val p = d.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, c)
    }
    w("dbt_project.yml", "name: skipself\n")
    w("models/base.sql",
      """{{ config(materialized='table') }}
        |SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 2 AS v
        |FROM range(400)""".stripMargin)
    // the two sides share ONE table version (one FileIndex instance)
    // with IDENTICAL pushed filters — the last-event-wins collapse used
    // to report the 4-file table once (files_considered = 4); each side
    // is a real planning event and must count: sum of both scans = 8
    w("models/pairs.sql",
      """{{ config(materialized='table') }}
        |SELECT x.id AS a, y.id AS b
        |FROM {{ ref('base') }} x JOIN {{ ref('base') }} y ON x.id = y.v""".stripMargin)
    val st = new RelationStore(spark, d.resolve("wh").toString)
    val pr = ProjectLoader.resolveRefs(ProjectLoader.load(d.toString))
    val rs = new Runner(spark, pr, st,
      RunOptions(cmd = "run", threads = 1,
        targetDir = d.resolve("target").toString)).execute()
    assert(rs.forall(_.status == "success"), rs.mkString("\n"))
    val pa = rs.find(_.uniqueId.endsWith(".pairs")).get.adapterResponse
    assert(pa.get("files_considered").contains(8L),
      s"self-join must attribute the sum of both scans: $pa")
    assert(pa.get("files_opened").contains(8L), s"pairs attribution: $pa")
    // answer unchanged: id = 2k joins k in [0,400) ∩ even ids
    assert(st.read("pairs").count() == 200L)
  }
}
