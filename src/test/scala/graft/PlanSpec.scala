package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Plan-shape regression tests: the scale-discipline invariants the
  * operators rely on at 100 TB — filters reach the parquet scan,
  * projections prune the read schema, small dims broadcast, hot paths
  * stay inside whole-stage codegen. If a refactor silently loses one
  * of these, this suite fails before the benchmark does.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = GraftSession.local(4) }

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE finalizes (and reveals WholeStageCodegen spans) only after
    * execution — run the query, then read the final plan.
    */
  private def executedPhysical(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // count() would build a different plan; collect finalizes THIS one
    // AQE prints "== Final Plan ==" then "== Initial Plan ==" — keep the final
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  test("q3: dim filter pushed to parquet scan + broadcast join") {
    val plan = physical(Relational.q3ShippingPriority(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "customer dim should broadcast")
    // the mktsegment filter must reach the customer scan
    assert(plan.contains("c_mktsegment"), "filter column missing from scan")
  }

  test("q_topk_parts: column pruning + TakeOrderedAndProject (no global sort)") {
    val df = Relational.qTopKParts(spark, sf)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), "top-k should not globally sort")
    // scan must read only the 3 needed columns
    val readSchema = "ReadSchema: struct<p_partkey:bigint,p_name:string,p_retailprice:double>"
    assert(plan.replaceAll("\\s", "").contains(readSchema.replaceAll("\\s", "")),
      plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("q1: single shuffle with partial (map-side) aggregation, codegen'd") {
    val plan = executedPhysical(Relational.q1PricingSummary(spark, sf))
    assert(plan.contains("HashAggregate"), "should hash-aggregate")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "exactly one shuffle expected")
    // WholeStageCodegen renders as *(n) prefixes in executedPlan.toString
    assert(plan.contains("*("), "aggregation should be inside a WholeStageCodegen span")
  }

  test("semi/anti joins plan as semi/anti, not inner+filter") {
    assert(physical(Relational.qSemiJoin(spark, sf)).contains("LeftSemi"))
    assert(physical(Relational.qAntiJoin(spark, sf)).contains("LeftAnti"))
  }

  test("event-time filter is pushed into the source scan (microbatch pruning)") {
    import graft.core._
    import graft.exec.{Compiler, Sources}
    val src = SourceNode("tpch", "orders", "p", s"$sf/orders.parquet",
      config = NodeConfig(eventTime = Some("o_orderdate")))
    val manifest = Manifest(Map.empty, Map(src.uniqueId -> src))
    Sources.registerAll(spark, manifest, Map.empty)
    val c = new Compiler(manifest, Map.empty,
      eventTimeFilter = Some((java.time.Instant.parse("1996-01-01T00:00:00Z"),
        java.time.Instant.parse("1997-01-01T00:00:00Z"))))
    val model = ModelNode("m", "p", "SELECT * FROM {{ source('tpch','orders') }}",
      NodeConfig(), Nil, Nil, Nil)
    val sql = c.compile(model, model.rawCode).executable
    val plan = physical(spark.sql(sql))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(o_orderdate"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("rolling_min_hash: native expression, codegen, deterministic") {
    val df = spark.sql("SELECT rolling_min_hash('the quick brown fox', 8) AS h")
    val h1 = df.first().getLong(0)
    val h2 = spark.sql("SELECT rolling_min_hash('the quick brown fox', 8) AS h").first().getLong(0)
    assert(h1 == h2)
    // different text → different fingerprint (overwhelming probability)
    val other = spark.sql("SELECT rolling_min_hash('jumps over the lazy dog', 8) AS h").first().getLong(0)
    assert(h1 != other)
    // shared rare k-gram detection: identical strings share the fingerprint
    assert(spark.sql("SELECT rolling_min_hash('abcdefghij', 8) = rolling_min_hash('abcdefghij', 8)").first().getBoolean(0))
    // stays inside whole-stage codegen (no fallback iterator break)
    val plan = executedPhysical(TextOps.txtWinnow(spark, sf))
    assert(plan.contains("*("), "expected WholeStageCodegen *(n) spans")
  }

  test("dot_i64: native expression, correct, codegen'd in similarity plans") {
    // correctness against the interpreted higher-order spelling
    val row = spark.sql(
      """SELECT dot_i64(array(1L,2L,3L), array(4L,5L,6L)) AS d,
        |       aggregate(zip_with(array(1L,2L,3L), array(4L,5L,6L), (a,b) -> a*b),
        |                 0L, (acc,x) -> acc + x) AS ref""".stripMargin).first()
    assert(row.getLong(0) == 32L && row.getLong(0) == row.getLong(1))
    // empty/mismatched lengths take the common prefix
    assert(spark.sql("SELECT dot_i64(array(), array(1L))").first().getLong(0) == 0L)
    // the exact near-dup scorer stays inside whole-stage codegen
    val plan = executedPhysical(SimilarityOps.embNearDup(spark, sf))
    assert(plan.contains("*("), "expected WholeStageCodegen spans")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "corpus must never broadcast for the exact near-dup")
  }

  test("simTopK streams the corpus once — no corpus-side broadcast or extra shuffle") {
    val df = SimilarityOps.simTopK(spark, sf)
    val plan = executedPhysical(df)
    // the only exchange is the final per-probe top-k merge
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), "corpus must not be join-broadcast")
  }

  test("mojibake and c4 gates are single row-local scans: zero exchanges, zero joins") {
    Seq(graft.operators.TextOps.txtMojibake(spark, sf),
        graft.operators.TextOps.txtC4Gate(spark, sf)).foreach { q =>
      val plan = executedPhysical(q)
      assert(!plan.contains("Exchange"), "row-local gate must not shuffle:\n" + plan.take(2000))
      assert(!plan.contains("Join"), "row-local gate must not join")
      assert(plan.contains("*(1)"), "gate should stay inside one codegen stage")
    }
  }

  test("span pairs / recall eval / index drift: plan shapes hold") {
    // span pairs: gram-postings equi-join, pair-local islands window
    val sp = executedPhysical(graft.operators.DedupOps.dedupSpanPairs(spark, sf))
    assert(!sp.contains("NestedLoopJoin") && !sp.contains("CartesianProduct"),
      "span matching must stay an equi-join on the gram hash")
    assert(sp.contains("Window"), "expected the islands window")
    assert(!sp.contains("Window [") || sp.contains("windowspecdefinition(pa"),
      "islands window must partition by the pair, never run global")
    // recall eval: band join + truth join are equi; the one all-pairs
    // intersection is the DELIBERATE unguarded ground truth
    val re = executedPhysical(graft.operators.DedupOps.dedupRecallEval(spark, sf))
    assert(!re.contains("NestedLoopJoin") && !re.contains("CartesianProduct"),
      "band/truth joins must stay equi-joins")
    // index drift: centroids broadcast against the corpus; no shuffle
    // wider than the 16-row cell aggregates
    val dr = executedPhysical(graft.operators.SimilarityOps.simIndexDrift(spark, sf))
    assert(dr.contains("BroadcastNestedLoopJoin") || dr.contains("BroadcastExchange"),
      "centroid table must broadcast")
    // the one permitted sort-merge is the FULL OUTER old⋈new cell join
    // (Spark cannot broadcast a full outer), over ≤ n_centroids rows
    assert("SortMergeJoin".r.findAllIn(dr).size <= 1 &&
      (!dr.contains("SortMergeJoin") || dr.contains("FullOuter")),
      "only the bounded full-outer cell join may sort-merge")
  }

  test("ppjoin: prefix-filtered candidate join stays equi-join, windows stay doc-partitioned") {
    val plan = executedPhysical(graft.operators.DedupOps.dedupPpjoin(spark, sf))
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      "candidate generation must be an equi-join on the prefix-token hash")
    // prefix ranks come from per-DOC windows, never a corpus-wide sort
    assert(!plan.contains("Sort [df"), "global sort on df would be a scale bug")
    assert(plan.contains("Window"), "expected the per-doc rank window")
  }

  test("hamming triple arm: equi-join on (ci, chunk), no cartesian, no window") {
    // the >1M-payload escalation must keep the exact plan discipline of
    // the pair arm: candidate generation is a plain equi-join on the
    // exploded triple keys, verification a codegen'd bit_count filter
    val sp = spark
    import sp.implicits._
    val sigs = (0L until 64L).map(i => (i, i * 0x9e3779b97f4a7c15L)).toDF("doc_id", "sg")
    val plan = executedPhysical(
      graft.operators.DedupOps.hammingPairs(sigs, "sg", 8, nRows = Some(Long.MaxValue)))
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      "triple-key candidates must come from an equi-join")
    assert(!plan.contains("Window"), "no rank window anywhere in the pair path")
    assert(plan.contains("Generate"), "expected the combo explode")
  }

  test("as-of join: one shuffle + window scan, never a per-row probe join") {
    val plan = executedPhysical(Events.qAsofJoin(spark, sf))
    assert(plan.contains("Window"), "as-of should be the union-and-scan window plan")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      "as-of must not plan as a range cross join")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "exactly one shuffle (on user_id) expected:\n" + plan.take(3000))
  }

  test("range join: bucketed equi-join, no cartesian expansion") {
    val plan = executedPhysical(Events.qRangeJoin(spark, sf))
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      "interval join must stay an equi-join on (user, bucket)")
    assert(plan.contains("Join"), "expected a join operator")
  }

  test("split_assign and txt_pii_scrub are pure projections — zero shuffles") {
    val p1 = executedPhysical(CurateOps.splitAssign(spark, sf))
    assert(!p1.contains("Exchange"), "hash split must not shuffle:\n" + p1.take(2000))
    val p2 = executedPhysical(CurateOps.txtPiiScrub(spark, sf))
    assert(!p2.contains("Exchange"), "regex scrub must not shuffle:\n" + p2.take(2000))
  }

  test("a second build of a source-scan query runs zero Spark jobs (memoized schemas)") {
    // a schema-less parquet read infers its schema with a footer job;
    // once the source memo holds the schema, building a plan runs none
    Seq("q6_forecast_revenue", "q_cross_join", "split_assign").foreach { q =>
      val build = SparkEntry.queries(q)
      build(spark, sf)
      val (_, jobs) = JobCount(spark)(build(spark, sf))
      assert(jobs == 0, s"$q: $jobs Spark job(s) while building its DataFrame")
    }
  }

  test("cluster assign broadcasts the bounded centroid table") {
    val plan = executedPhysical(CurateOps.embClusterAssign(spark, sf))
    assert(plan.contains("Broadcast"), "centroids should broadcast")
  }

  test("minhash signatures aggregate in-memory, not via sort-based fallback") {
    import org.apache.spark.sql.functions._
    val sig = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), DedupOps.md5Hash64(col("text")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhashSig(col("h"), 32).as("sig"))
    val plan = executedPhysical(sig)
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"),
      "TypedImperativeAggregate fell back to sort-based aggregation")
  }

  test("partitioned relation writes enable partition-pruned scans") {
    import org.apache.spark.sql.functions._
    import graft.exec.RelationStore
    val store = new RelationStore(spark,
      java.nio.file.Files.createTempDirectory("part_wh").toString)
    val events = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        date_format(col("ts_t"), "yyyy-MM-dd").as("day"))
    store.write(events, "ev_part", partitionBy = Seq("day"))
    val df = store.read("ev_part").filter(col("day") === "2024-01-05")
    val plan = physical(df)
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("day"), s"expected day in PartitionFilters:\n$pf")
    assert(!pf.contains("PartitionFilters: []"), s"partition filter not pushed:\n$pf")
    // schema round-trip: written column order and types survive
    assert(store.read("ev_part").columns.toSeq == Seq("event_id", "event_type", "value", "day"))
  }

  test("co-bucketed relations join with zero Exchange") {
    import org.apache.spark.sql.functions._
    import graft.exec.RelationStore
    val store = new RelationStore(spark,
      java.nio.file.Files.createTempDirectory("bucket_wh").toString)
    val orders = graft.sources.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val items = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    store.writeBucketed(orders, "ord_b", Seq("o_orderkey"), 8)
    store.writeBucketed(items, "li_b", Seq("l_orderkey"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = store.read("ord_b").join(store.read("li_b"),
        col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val plan = executedPhysical(joined)
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      // the whole point of co-bucketing: neither side shuffles, and the
      // groupBy on the bucket key reuses the layout too
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n${plan.take(2500)}")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // a fresh attach still reads through the catalog (bucket spec intact)
    store.registerView("ord_b")
    assert(spark.table("ord_b").count() == orders.count())
    // fresh-JVM simulation: the in-memory catalog forgot the table, but
    // the on-disk marker re-registers it (bucket ids live in file names)
    val cat = store.addressable("ord_b").get
    spark.sql(s"DROP TABLE IF EXISTS $cat")
    assert(store.read("ord_b").count() == orders.count())
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED ${store.addressable("ord_b").get}")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(desc.contains("Num Buckets"), desc)
    // a plain write over a bucketed relation clears the stale catalog
    // binding instead of serving the old version
    store.write(orders.limit(10), "ord_b")
    assert(!store.isBucketed("ord_b"))
    assert(store.read("ord_b").count() == 10)
  }

  test("contract enforcement fails on type/name drift") {
    import graft.core._
    import graft.exec.{Materializer, RelationStore}
    val store = new RelationStore(spark,
      java.nio.file.Files.createTempDirectory("contract_wh").toString)
    val mat = new Materializer(spark, store)
    val good = ModelNode("c_ok", "p", "", NodeConfig(contractEnforced = true), Nil, Nil, Nil,
      columns = Seq(ColumnInfo("id", dataType = Some("bigint")), ColumnInfo("name", dataType = Some("string"))))
    val df = spark.sql("SELECT CAST(1 AS BIGINT) AS id, 'x' AS name")
    mat.table(good, df) // passes
    val badType = good.copy(name = "c_bad",
      columns = Seq(ColumnInfo("id", dataType = Some("string")), ColumnInfo("name", dataType = Some("string"))))
    assertThrows[IllegalStateException](mat.table(badType, df))
    val missingCol = good.copy(name = "c_miss", columns = Seq(ColumnInfo("id", dataType = Some("bigint"))))
    assertThrows[IllegalStateException](mat.table(missingCol, df)) // undeclared 'name'
  }

  test("salted join partitions on (key, salt), spreading hot keys") {
    // force a shuffle join: with broadcast on, the tiny dim side would
    // broadcast and no salt-keyed exchange would exist to inspect
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = physical(ScaleOps.qSkewSaltedJoin(spark, sf))
      // the join's EXCHANGE must partition on the salt column — that IS
      // the skew fix; a plan that merely projects __salt but shuffles
      // on event_type alone funnels each hot key through one reducer
      assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(plan).isDefined,
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("analytics ops: retention joins co-keyed, transitions one window shuffle") {
    // cohort retention: the first-seen join must NOT broadcast-nested-loop
    // and the final aggregate is partial-aggregated
    val ret = executedPhysical(Events.qCohortRetention(spark, sf))
    assert(!ret.contains("BroadcastNestedLoopJoin") && !ret.contains("CartesianProduct"))
    assert(ret.contains("partial_count") || ret.contains("HashAggregate"), ret.take(1200))
    // transitions: exactly one exchange feeds the window (user_id), the
    // (from,to) aggregate coalesces via AQE rather than reshuffling wide
    val tr = executedPhysical(Events.qEventTransitions(spark, sf))
    assert(tr.contains("Window") || tr.contains("WindowExec"), tr.take(1200))
    assert(!tr.contains("CartesianProduct"))
  }

  test("curation capstone reads the corpus once, no self-joins") {
    val plan = physical(CurateOps.curatePipelineFull(spark, sf))
    // one main lineage + the prefix-sum's tiny bucket branch (fully
    // partial-aggregated) — the old 4-stage join version scanned 8×
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans <= 2, s"expected ≤2 corpus scans, got $scans\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      "verdicts must stack on one lineage, not shuffle-join stage outputs")
  }

  test("EXISTS decorrelates to a semi join, not per-row re-execution") {
    val plan = physical(SubQueries.qExistsLateShip(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(!plan.contains("InSubqueryExec"), "subquery should be joined, not re-executed")
  }

  test("NOT IN plans as a null-aware anti join with pushed subquery filter") {
    val plan = physical(SubQueries.qNotInUrgent(spark, sf))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    // the urgent-priority filter must reach the subquery-side scan
    assert(plan.contains("EqualTo(o_orderpriority,1-URGENT)"), "filter not pushed")
  }

  test("correlated scalar subqueries decorrelate into aggregate joins") {
    val plan = physical(SubQueries.qScalarSmallQty(spark, sf))
    // both correlated scalars become aggregates joined on l_partkey —
    // a surviving ScalarSubquery node would mean per-row re-execution
    assert(!plan.contains("ScalarSubquery"), plan.take(2000))
    assert(plan.contains("HashAggregate"), "decorrelated aggregate missing")
  }

  test("LATERAL ... LIMIT rewrites to a group-limited window, one shuffle") {
    val plan = physical(SubQueries.qLateralTopSupp(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "lateral must not plan as cartesian")
  }

  test("knn graph: per-src top-k is a bounded hash aggregate, no window sort, no cartesian") {
    val plan = physical(graft.operators.SimilarityOps.simKnnGraph(spark, sf))
    // the top-k must be the knn_topk ObjectHashAggregate (k-slot buffer
    // per src, map-side partial merge) — the row_number window spelling
    // locally sorts EVERY scored candidate before WindowGroupLimit can
    // drop any, which the sf1 scaling probe measured at 595 s
    // (BENCH_SCALE.md); shuffled bytes O(N*k*partitions), not O(N^2)
    assert(plan.contains("knn_topk") && plan.contains("ObjectHashAggregate"),
      plan.take(2000))
    assert(!plan.contains("Window"), "rank-limit must not plan as a window sort")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "block tiling must stay an equi-join")
  }

  test("probe-vs-centroid kernel: broadcast nested-loop + codegen'd dot, map-side top-k") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    def quant(rows: Seq[(Long, Seq[Long])]) = rows.toDF("vec_id", "q")
      .withColumn("nq", expr("dot_i64(q, q)"))
    val probe = quant(Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(3L, 2L, 1L))))
    val targets = quant(Seq((10L, Seq(1L, 0L, 0L)), (11L, Seq(0L, 1L, 0L)),
      (12L, Seq(1L, 1L, 1L)))).toDF("centroid_id", "cq", "cn")
    val df = SimilarityOps.pairScoresAgainst(spark, probe, targets, 2)
    val plan = executedPhysical(df)
    // the former mapPartitions kernel is now pure Catalyst: the tiny
    // target table broadcasts under a nested-loop join (no shuffle on
    // the probe side), the integer dot stays in whole-stage codegen,
    // and the per-probe top-k limits map-side before the one bounded
    // qid exchange (rows crossing it <= probes x topPerProbe)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(plan.contains("dot_i64"), "integer kernel left the plan")
    assert(!plan.contains("CartesianProduct"), "unbroadcast cartesian")
    // correctness of the spelling: argmax by (cos desc, cid asc)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.groupBy(_._1).foreach { case (_, rs) => assert(rs.length == 2) }
    val q1 = got.filter(_._1 == 1L).sortBy(x => (-x._3, x._2)).map(_._2).toSeq
    // probe 1 = (1,2,3): cos vs (1,1,1) = 6/(sqrt(14)sqrt(3)) ~ .93 wins over (0,1,0) ~ .53
    assert(q1.head == 12L, s"expected centroid 12 first, got $q1")
  }

  test("q19: disjunctive predicates stay on ONE broadcast join, no cartesian") {
    val plan = physical(Relational.q19DisjunctiveRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "OR-of-ANDs must not degrade the equi-join")
    // exactly one join: the common l_partkey = p_partkey key is extracted once
    assert("HashJoin".r.findAllIn(plan).size == 1, "expected a single join node")
  }

  test("q7: both nation paths and supplier broadcast; one fact-side shuffle pair") {
    val plan = physical(Relational.q7VolumeShipping(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "supplier + two nation dims should broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q21: double quantifier decorrelates to semi + anti joins") {
    val plan = physical(SubQueries.qSoleLateSupplier(spark, sf))
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(!plan.contains("InSubqueryExec"), "subqueries should be joined, not re-executed")
  }

  test("PQ ADC: codebook and LUT broadcast; candidate codes never broadcast") {
    val plan = executedPhysical(SimilarityOps.simPqTopK(spark, sf))
    // encoding + LUT scoring must be broadcast joins (codebook is M×K
    // rows by construction), and the corpus-code side must shuffle only
    // for the final per-(qid, cid) sum
    assert(plan.contains("BroadcastHashJoin"), "codebook/LUT joins should broadcast")
    // the ADC sum is a hash aggregate with map-side partial aggregation
    assert(plan.contains("HashAggregate"), "ADC distance sum should hash-aggregate")
  }

  test("incremental dedup: exact-fp probe is a LEFT SEMI join, not inner+distinct") {
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val isNew = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.lit(10)) >= 8
    val idx = DedupOps.buildDedupIndex(d.filter(!isNew))
    val plan = physical(DedupOps.probeAgainstIndex(d.filter(isNew), idx))
    assert(plan.contains("LeftSemi"), "fingerprint probe should plan as LeftSemi")
  }

  test("quality classifier: weight table broadcasts, corpus never shuffles rows") {
    val plan = executedPhysical(TextOps.txtQualityClassify(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "weights must broadcast")
    // the only hash exchanges carry (doc_id, ...) aggregates/joins, never text
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(plan).isDefined,
      "document text must not cross a shuffle")
  }

  test("phash pairs: chunk equi-join, no cartesian product") {
    val plan = executedPhysical(Multimodal.mmPhashPairs(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be the chunk equi-join, not all-pairs")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(plan).isDefined,
      "expected a hash/merge equi-join on (ci, chunk)")
  }

  test("triangle counting: wedge + closing joins are equi-joins, never all-pairs") {
    val plan = executedPhysical(GraphOps.graphTriangles(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "wedge generation must equi-join on src and close on (v, w)")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(plan).isDefined,
      "expected hash/merge equi-joins in the triangle plan")
  }

  test("cms: sketch aggregates map-side; no per-item exchange feeds it") {
    val plan = executedPhysical(ScaleOps.qCmsCounts(spark, sf))
    // the sketch agg must be an ObjectHashAggregate pair (partial then
    // merge) — the exchange between them carries ONE buffer per
    // partition, so no hashpartitioning on the token column may appear
    // upstream of the partial sketch aggregate
    assert(plan.contains("ObjectHashAggregate"), "typed sketch aggregate expected")
    val sketchAggs = plan.linesIterator.filter(_.contains("cms_sketch")).size
    assert(sketchAggs >= 2, s"expected partial+final sketch aggregate, got $sketchAggs")
  }

  test("temperature sample: stats broadcast, corpus has zero exchanges") {
    val plan = executedPhysical(CurateOps.curateTemperatureSample(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "per-source stats and n_min must broadcast")
    // the docs->admission path is row-parallel: the only Exchanges
    // allowed are inside the tiny stats aggregations (on `source`)
    val badExchange = "Exchange hashpartitioning\\(doc_id".r.findFirstIn(plan)
    assert(badExchange.isEmpty, s"corpus rows must not shuffle: $badExchange")
  }

  test("hard negatives: probe set broadcasts, top-3 limits map-side") {
    val plan = physical(SimilarityOps.simHardNegatives(spark, sf))
    // bounded probe side must be the broadcast side of the non-equi join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // rank <= 3 pushes a partial group limit below the (qid, kind) shuffle
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("dsir select: model broadcasts, no global window, one doc-keyed shuffle") {
    val plan = executedPhysical(CurateOps.curateDsirSelect(spark, sf))
    // the 64-row weight table and 1-row normalizer join as broadcasts
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    // selection is a threshold, never a corpus-wide sort/rank
    assert(!plan.contains("Window "), "no window over the corpus expected")
    assert(!plan.contains("Sort [score"), "no global score sort expected")
  }

  test("bm25: query workload broadcasts, per-query top-5 limits map-side") {
    val plan = physical(TextOps.txtBm25TopK(spark, sf))
    // the literal query table and the df/stats sides join as broadcasts
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // rank <= 5 pushes a partial group limit below the qid shuffle
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "scoring must stay equi-join + broadcast")
  }

  test("tfidf topk: bounded probe side broadcasts, top-3 limits map-side") {
    val plan = physical(TextOps.txtTfidfTopK(spark, sf))
    // the 10-probe posting slice is the broadcast side of the term join
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // rank <= 3 pushes a partial group limit below the probe_id shuffle
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "corpus must stream through an equi-join")
  }

  test("k-center rounds: literal centers, codegen'd distance, TakeOrdered argmax") {
    // one round's candidate plan: distance to the (literal) selected
    // set + TakeOrdered(1) — the corpus never sorts globally and the
    // selected set never becomes a joined relation
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.load(spark, sf, "embeddings").selectExpr(
      "vec_id",
      "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint)) as q")
      .withColumn("nq", expr("dot_i64(q, q)"))
    val lits = (1 to 64).map(_ => "1L").mkString(", ")
    val round = e
      .select(col("vec_id"), (col("nq") + lit(5L) - lit(2L) * expr(s"dot_i64(q, array($lits))")).as("d2"))
      .orderBy(col("d2").desc, col("vec_id")).limit(1)
    val plan = physical(round)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Exchange rangepartitioning"), "argmax must not global-sort")
  }

  test("top-terms df: partial aggregation feeds the exchange, no term-keyed window") {
    val plan = physical(CurateOps.txtTopTerms(spark, sf))
    // a count window partitioned by term would hand the hottest term's
    // full posting set to one task with NO map-side shrink — the df
    // must come from a partial_count HashAggregate instead
    assert(!plan.contains("windowspecdefinition(term"),
      "df must not be a window over the term partitioning")
    assert(plan.contains("partial_count"),
      "df exchange must be fed by map-side partial aggregation")
    // the only window left is the per-doc top-3 rank
    assert(plan.contains("windowspecdefinition(doc_id"), plan.take(3000))
  }

  test("knn classify: rectangular block equi-join with bounded top-k aggregate") {
    val plan = physical(SimilarityOps.simKnnClassify(spark, sf))
    assert(!plan.contains("CartesianProduct"), "test×train must block-tile, not cross")
    assert(plan.contains("knn_topk") && plan.contains("ObjectHashAggregate"),
      "per-test top-k must be the bounded knn_topk hash aggregate")
    assert(!plan.contains("Window"),
      "rank-limit must not plan as a window (sorts every scored pair)")
    assert(plan.contains("dot_i64"), "scoring must stay on the native kernel")
  }

  test("inverted index: bounded min_k aggregate, single term-keyed exchange") {
    val plan = executedPhysical(CurateOps.txtInvertedIndex(spark, sf))
    assert(plan.contains("min_k"), "posting cap must be the bounded min_k aggregate")
    assert(!plan.contains("collect_list"),
      "collect_list state grows with df — must not appear")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      "one distinct exchange + one term-keyed agg exchange expected")
  }

  test("boilerplate removal: partial-agg df, unforced anti-join strike set") {
    val df = TextOps.txtBoilerplateRemove(spark, sf)
    // the strike set must NOT carry a forced broadcast hint: the df>=3
    // segment set grows with the corpus (billions of distinct repeated
    // segments at 100 TB), so the hint would OOM executors at scale —
    // AQE decides at runtime from the measured size instead
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "strike set must not be force-broadcast — AQE chooses from runtime size")
    val plan = executedPhysical(df)
    // segment df must be a map-side-combined count (a corpus-wide banner
    // ships one partial row per map task), never a window over the hash
    assert(plan.contains("partial_count"), "df needs map-side partial aggregation")
    assert(!plan.contains("windowspecdefinition(h"),
      "df must not be a window over the segment-hash partitioning")
    // without the hint the anti-join still applies on the segment-hash
    // key `h`: either AQE broadcasts the (here tiny) strike set, or
    // both sides hash-partition on h — co-partitioned, no extra corpus
    // re-shuffle either way
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") ||
      "Exchange hashpartitioning\\(h".r.findAllIn(plan).nonEmpty,
      "anti-join must broadcast (AQE) or co-partition on h:\n" + plan.take(3000))
  }

  test("topic tag: lexicon joins as a broadcast, hits map-side combined") {
    val plan = executedPhysical(TextOps.txtTopicTag(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the literal lexicon must broadcast — shuffling the token stream by term for it would be absurd")
    assert(plan.contains("partial_count"), "(doc, topic) counts need map-side combine")
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("datacard: partial aggregates, no cartesian, no fp-keyed window") {
    val plan = executedPhysical(CurateOps.curateDatacard(spark, sf))
    assert(plan.contains("partial_count"), "source aggregates need map-side combine")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the dup-fp detection must stay a groupBy(fp) (map-side combined)
    // applied back as a join — never a count window partitioned by fp
    // (the hot-fingerprint straggler the top-terms fix removed)
    assert(!plan.contains("windowspecdefinition(fp"),
      "dup detection must not be a window over the fingerprint partitioning")
  }

  test("grouped quality quantiles: histogram collapse, no corpus range-sort") {
    val plan = executedPhysical(CurateOps.curateQualityQuantiles(spark, sf))
    // the corpus must collapse to the (source, score) histogram via
    // map-side partial aggregation; the quantile pick windows over that
    // bounded table — a percentile()/ntile() spelling would show a
    // range partitioning of corpus rows here
    assert(plan.contains("partial_count"), "histogram needs map-side combine")
    assert(!plan.contains("Exchange rangepartitioning"),
      "no global range-sort of the corpus:\n" + plan.take(2000))
    // the ≤3-row quantile table joins in as a broadcast
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
  }

  test("fertility: vocabulary joins as a broadcast; lang histogram map-side combined") {
    val plan = executedPhysical(TextOps.txtFertility(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the vocabulary-bounded segment table must broadcast")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "(lang, word) occurrences need map-side combine")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("dedup weight: cluster sizes join back co-partitioned, no corpus window") {
    val plan = executedPhysical(CurateOps.curateDedupWeight(spark, sf))
    // the weight is a doc_id-keyed left join of the bounded cluster
    // table — never a window over the full corpus partitioned by a
    // hot key
    assert(!plan.contains("windowspecdefinition(source"),
      "no source-partitioned window over the corpus")
    assert(plan.contains("LeftOuter") || plan.contains("BroadcastHashJoin"),
      plan.take(2000))
  }

  test("vocab coverage: cutoff is a literal predicate, no vocabulary sort") {
    val df = TextOps.txtVocabCoverage(spark, sf)
    val plan = executedPhysical(df)
    assert(plan.contains("partial_count"), "term counts need map-side combine")
    assert(!plan.contains("Exchange rangepartitioning"),
      "no global sort of the vocabulary")
    // the cutoff frequency was resolved driver-side from the
    // count-of-counts histogram and applied as a literal comparison
    assert(df.queryExecution.optimizedPlan.toString.contains(">= "),
      "in_vocab flag must be a literal threshold projection")
  }

  test("per-lang ccnet: threshold table broadcasts, no corpus-wide window") {
    val plan = executedPhysical(TextOps.txtCcnetLangBuckets(spark, sf))
    // the langs-sized threshold table must come back as a broadcast;
    // the tercile resolution happened driver-side off the bounded
    // (lang, millibits) histogram — no percentile window over docs
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("windowspecdefinition"),
      "no corpus-window percentile spelling")
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(2000))
  }

  test("paragraph dedup: pure row-parallel projection, zero exchanges") {
    val plan = executedPhysical(TextOps.txtParagraphDedup(spark, sf))
    // array_distinct over in-row segments — no shuffle of any kind;
    // throughput is linear in executors at any corpus size
    assert(!plan.contains("Exchange"), s"paragraph dedup must not shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("trigram LM: gram counts map-side combined, no corpus window or sort") {
    val plan = executedPhysical(TextOps.txtTrigramLm(spark, sf))
    assert(plan.contains("partial_count"),
      "gram count tables need map-side partial aggregation")
    assert(!plan.contains("Exchange rangepartitioning"),
      "no global ordering anywhere in LM scoring:\n" + plan.take(2000))
    assert(!plan.contains("windowspecdefinition"),
      "scoring is joins + one doc-keyed agg, not a window")
  }

  test("heaps curve: term windows are decile-bounded, finals are 10-row joins") {
    val plan = executedPhysical(TextOps.txtHeaps(spark, sf))
    // the only window partitions BY TERM (<=10 rows each), never a
    // corpus-wide ordering
    assert(plan.contains("windowspecdefinition(term"),
      "cumulative counts must window per term")
    assert(!plan.contains("Exchange rangepartitioning"),
      "no corpus range-sort:\n" + plan.take(2000))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "(term, decile) counts need map-side combine")
  }

  test("embedding outliers: threshold table joins back as a broadcast") {
    val plan = executedPhysical(SimilarityOps.embOutliers(spark, sf))
    // the per-cell p90 table is cells-bounded — it must come back as a
    // broadcast join, never a corpus re-shuffle on cell
    assert(plan.contains("BroadcastHashJoin"),
      "threshold join must broadcast:\n" + plan.take(2000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(2000))
  }

  test("event anomaly: corpus collapses to the day grid before the window") {
    val plan = executedPhysical(Events.qEventAnomaly(spark, sf))
    // raw events aggregate map-side to (type, day) counts FIRST; the
    // trailing-7 window runs over that bounded grid
    assert(plan.contains("partial_count"), "daily counts need map-side combine")
    assert(plan.contains("windowspecdefinition(event_type"),
      "trailing window must partition by event_type over the day grid")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("bitext mining: df-guarded postings equi-join, no cartesian") {
    val plan = executedPhysical(TextOps.txtBitextMine(spark, sf))
    assert(plan.contains("partial_count"), "term df needs map-side combine")
    assert(!plan.contains("CartesianProduct"),
      "candidate gen must be a token-keyed equi-join:\n" + plan.take(2000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(2000))
  }

  test("runtime bloom-filter join pushdown engages for a selective build side") {
    // scoped session (the RangeJoinRuleSpec pattern): drop the 10 GB
    // probe-scan threshold so the sf0.001 fixture demonstrates the
    // same injection a 100 TB fact-table join gets for free, and
    // disable broadcast so a shuffle join actually needs the bloom
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "50MB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = graft.sources.Tables.load(s2, sf, "lineitem")
    val ord = graft.sources.Tables.load(s2, sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
    val j = li.join(ord,
      org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
    val logical = j.queryExecution.optimizedPlan.toString
    assert(logical.contains("might_contain"),
      "the selective orders side must inject a bloom predicate into the lineitem scan:\n" +
        logical.take(2000))
  }

  test("equi-depth bins: literal edges, no corpus range-sort") {
    val df = ScaleOps.qEquidepthBins(spark, sf)
    val plan = executedPhysical(df)
    assert(!plan.contains("Exchange rangepartitioning"),
      "binning must be a row-parallel comparison chain, not NTILE:\n" + plan.take(2000))
    assert(!plan.contains("windowspecdefinition"), "no window at all")
    // the quantile edges were resolved driver-side and appear as
    // literal comparisons
    assert(df.queryExecution.optimizedPlan.toString.contains("<= "),
      "bin edges must be literals")
  }

  test("source quota: grouped prefix sum never windows a whole source") {
    val plan = executedPhysical(CurateOps.curateSourceQuota(spark, sf))
    // in-bucket windows must partition by (group, bucket) — bounded
    // partitions — and the per-group cumulative runs over the bucket
    // grid; a plain source-partitioned window would scan hot sources
    // in one task
    assert("windowspecdefinition\\(__g[^,]*, __bk".r.findFirstIn(plan).isDefined,
      "in-bucket window must partition by (group, bucket):\n" + plan.take(2000))
    assert(!plan.contains("windowspecdefinition(source"),
      "no whole-source window")
  }

  test("bitext align: b-side lookup is an equi-join on the computed seg id") {
    val plan = executedPhysical(TextOps.txtBitextAlign(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "per-pair work must be O(n_a) via the computed-seg equi-join:\n" + plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("rfm segments: one user-keyed aggregate, no windows") {
    val plan = executedPhysical(Events.qRfmSegments(spark, sf))
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      "per-user metrics need map-side combine")
    assert(!plan.contains("windowspecdefinition"),
      "banding is row-parallel after ONE user agg — no windows")
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(2000))
  }

  test("unimax: corpus collapses to the language grid before any window") {
    val df = CurateOps.curateUnimax(spark, sf)
    val plan = executedPhysical(df)
    // the ONLY corpus-wide work is one map-side-combined per-language
    // token aggregate; every window in the plan operates on the
    // bounded language table that aggregate produces
    assert(plan.contains("partial_sum"), "lang token totals need map-side combine")
    val firstWindow = plan.indexOf("Window")
    val agg = plan.lastIndexOf("HashAggregate")
    assert(firstWindow >= 0 && agg > firstWindow,
      "windows must sit ABOVE the corpus aggregate (bounded input)")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("delta-landed table: filters still push down to the multi-delta scan") {
    val work = java.nio.file.Files.createTempDirectory("plan_delta").toString
    val store = new graft.exec.RelationStore(spark, s"$work/wh")
    val sess = spark
    import sess.implicits._
    def b(lo: Long, hi: Long) = (lo until hi).map(i => (i, s"t$i")).toDF("id", "txt")
    store.appendDelta(b(0, 100), "t", 0L)
    store.appendDelta(b(100, 200), "t", 1L)
    store.write(b(200, 250), "t2") // plain versioned table for contrast
    val df = store.read("t").filter(org.apache.spark.sql.functions.col("id") > 150L)
      .select("id")
    val plan = physical(df)
    // the read is a plain multi-root parquet scan, so predicate
    // pushdown and column pruning apply exactly as on a base version —
    // the serving-path scan quality the delta layout must not cost
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,150)"),
      plan.take(2000))
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      "projection must prune the delta scan to the selected column")
  }

  test("snapshot diff: id diff co-partitioned, moved check is a semi join") {
    val df = CurateOps.curateSnapshotDiff(spark, sf)
    // join SHAPES pin on the logical plan: at tiny SF the moved side
    // can be runtime-empty and AQE's empty-relation propagation elides
    // the physical semi join entirely (which is itself correct)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("FullOuter"), "id diff must be a full-outer join")
    assert(logical.contains("LeftSemi"), "moved check must be a left-semi join")
    val plan = executedPhysical(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("link prediction: wedge/edge/degree joins are all equi, anti join for non-edges") {
    val df = GraphOps.graphLinkPred(spark, sf)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"), "existing edges must leave via an anti join")
    val plan = executedPhysical(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "wedge generation must be an equi join on the center key")
  }

  test("cdc dedup: codegen'd chunker, no UDF, chunk-hash equi join only") {
    val df = DedupOps.dedupCdc(spark, sf)
    val plan = executedPhysical(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "chunker must be the native expression, not a UDF")
    // the chunk explode runs inside whole-stage codegen (cdc_chunks
    // implements doGenCode, so the generate's child projection fuses)
    assert(plan.contains("cdc_chunks"), "native expression missing from plan")
    // "*(n)" prefixes mark whole-stage-codegen spans in the final plan
    assert(plan.contains("*("), "hot path fell out of codegen")
    // the corpus is chunked ONCE: the per-(h, doc) pre-aggregate is
    // resident, so both consumers (cross-doc frequency + join back)
    // read the in-memory table instead of re-running the scan+chunk
    // pipeline. In the AQE final-plan text, materialized stages print
    // as bare QueryStage references, so the pin is: the chunk Generate
    // appears at most once (only inside the cached lineage) and an
    // InMemoryTableScan serves it.
    val generates = "Generate explode".r.findAllIn(plan).size
    assert(generates <= 1, s"corpus chunked $generates times:\n${plan.take(3000)}")
    assert(plan.contains("InMemoryTableScan"),
      s"per-(h, doc) table must be resident:\n${plan.take(3000)}")
  }

  test("dp release: threshold table joins as a broadcast, histogram is one aggregate") {
    val df = CurateOps.curateDpRelease(spark, sf)
    val plan = executedPhysical(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "33-row threshold table must broadcast")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "range join against 33 rows must never sort-merge")
    // exactly one shuffle: the (source, lang) histogram's own exchange
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"unexpected shuffles ($exchanges):\n${plan.take(2000)}")
  }

  test("ivf radius: filter tail, one fewer ranking stage than top-k") {
    val radius = executedPhysical(SimilarityOps.simIvfRadius(spark, sf, 300L))
    assert(!radius.contains("CartesianProduct"), radius.take(2000))
    // the probe stage ranks (top-nProbe cells) in BOTH paths; the
    // radius TAIL is a row-local filter, so it must have strictly
    // fewer window stages than top-k's candidate ranking
    def wins(p: String) = "WindowGroupLimit|WindowExec|RunningWindowFunction|\\bWindow\\b".r
      .findAllIn(p).size
    val topk = executedPhysical(SimilarityOps.simIvfTopK(spark, sf))
    assert(wins(radius) < wins(topk),
      s"radius has ${wins(radius)} window stages vs top-k ${wins(topk)} — filter tail lost")
  }

  test("a fresh newSession() resolves the whole custom function catalog") {
    // spark.sql.extensions is the only registration path: every child
    // session must see every FunctionDefs entry without imperative help
    val child = spark.newSession()
    val missing = graft.functions.FunctionDefs.all.map(_._1)
      .filterNot(child.sessionState.catalog.isRegisteredFunction)
    assert(missing.isEmpty, s"unresolved in a fresh session: ${missing.mkString(", ")}")
  }
}
