package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.exec.{Materializer, RelationStore}

/** Focused materialization-strategy tests: on_schema_change variants and
  * insert_overwrite partition replacement (reference
  * tests/functional/incremental_schema_tests + materializations).
  */
class MaterializerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftSession.local(4)
  lazy val store = new RelationStore(spark,
    java.nio.file.Files.createTempDirectory("mat_wh").toString)
  lazy val mat = new Materializer(spark, store)
  import org.apache.spark.sql.functions._

  def node(name: String, osc: String = "ignore", keys: Seq[String] = Seq("id"),
      parts: Seq[String] = Nil): ModelNode =
    ModelNode(name, "p", "", NodeConfig(
      materialized = Materialized.Incremental,
      incrementalStrategy = Some(if (parts.nonEmpty) "insert_overwrite" else "merge"),
      uniqueKey = keys, onSchemaChange = osc, partitionBy = parts), Nil, Nil, Nil)

  def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("on_schema_change=ignore keeps the target schema") {
    val n = node("t_ignore")
    mat.incremental(n, df(Seq((1L, "a"), (2L, "b"))), fullRefresh = false)
    import spark.implicits._
    val wider = Seq((2L, "b2", 99L), (3L, "c", 100L)).toDF("id", "v", "extra")
    mat.incremental(n, wider, fullRefresh = false)
    val out = store.read("t_ignore")
    assert(out.columns.toSeq == Seq("id", "v"))
    assert(out.count() == 3)
    assert(out.filter("id = 2 AND v = 'b2'").count() == 1) // merged update
  }

  test("on_schema_change=append_new_columns null-fills history") {
    val n = node("t_append", osc = "append_new_columns")
    mat.incremental(n, df(Seq((1L, "a"))), fullRefresh = false)
    import spark.implicits._
    val wider = Seq((2L, "b", 7L)).toDF("id", "v", "extra")
    mat.incremental(n, wider, fullRefresh = false)
    val out = store.read("t_append")
    assert(out.columns.toSeq == Seq("id", "v", "extra"))
    assert(out.filter("id = 1 AND extra IS NULL").count() == 1)
    assert(out.filter("id = 2 AND extra = 7").count() == 1)
  }

  test("on_schema_change=sync_all_columns adopts the new schema (add + drop)") {
    val n = node("t_sync", osc = "sync_all_columns")
    mat.incremental(n, df(Seq((1L, "a"))), fullRefresh = false)
    import spark.implicits._
    val changed = Seq((2L, 5L)).toDF("id", "w") // drops v, adds w
    mat.incremental(n, changed, fullRefresh = false)
    val out = store.read("t_sync")
    assert(out.columns.toSeq == Seq("id", "w"))
    assert(out.filter("id = 1 AND w IS NULL").count() == 1)
  }

  test("on_schema_change=fail raises on drift") {
    val n = node("t_fail", osc = "fail")
    mat.incremental(n, df(Seq((1L, "a"))), fullRefresh = false)
    import spark.implicits._
    val wider = Seq((2L, "b", 7L)).toDF("id", "v", "extra")
    assertThrows[IllegalStateException](mat.incremental(n, wider, fullRefresh = false))
  }

  /** A version's manifest data files per leaf-partition key, resolved
    * to absolute paths against the table dir.
    */
  private def manifestByLeaf(version: java.nio.file.Path): Map[String, Seq[java.nio.file.Path]] = {
    val table = version.getParent
    val m = graft.artifacts.Json.parse(
      java.nio.file.Files.readString(version.resolve("_manifest.json")))
      .asInstanceOf[Map[String, Any]]
    val files = m.getOrElse("files", Nil).asInstanceOf[Seq[Any]].map(String.valueOf(_))
    files.groupBy(f => f.split('/').filter(_.contains('=')).mkString("/"))
      .map { case (leaf, fs) => leaf -> fs.map(table.resolve(_)).sorted }
  }

  private def partFiles(version: java.nio.file.Path, part: String): Seq[java.nio.file.Path] =
    manifestByLeaf(version).getOrElse(part, Nil)

  /** Untouched partitions must be the SAME physical files (manifest
    * carry-by-reference) across versions — the proof that the commit
    * wrote O(touched) bytes: the old leaf's files are not rewritten,
    * the new manifest just names them again.
    */
  private def assertLinked(v0: java.nio.file.Path, v1: java.nio.file.Path, parts: Seq[String]): Unit =
    parts.foreach { p =>
      val (olds, news) = (partFiles(v0, p), partFiles(v1, p))
      assert(olds.nonEmpty, s"$p: no files in the old version's manifest")
      assert(olds == news, s"$p: carried files differ — $olds vs $news")
      news.foreach(f => assert(java.nio.file.Files.exists(f), s"$p: carried file $f missing"))
    }

  test("insert_overwrite commit is partition-scoped: untouched dirs linked byte-identical") {
    import spark.implicits._
    val n = node("t_link", parts = Seq("day"))
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"), (3L, "c", "2024-01-03"))
      .toDF("id", "v", "day")
    mat.incremental(n, init, fullRefresh = false)
    val v0 = java.nio.file.Paths.get(store.currentPath("t_link").get)
    val batch = Seq((9L, "z", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, batch, fullRefresh = false)
    val v1 = java.nio.file.Paths.get(store.currentPath("t_link").get)
    assert(v0 != v1)
    assertLinked(v0, v1, Seq("day=2024-01-01", "day=2024-01-03"))
    val out = store.read("t_link")
    assert(out.count() == 3)
    assert(out.filter("day = '2024-01-02' AND id = 9").count() == 1)
    assert(out.filter("day = '2024-01-02' AND id = 2").count() == 0)
  }

  test("partitioned merge rewrites only partitions holding touched keys") {
    import spark.implicits._
    val n = ModelNode("t_pmerge", "p", "", NodeConfig(
      materialized = Materialized.Incremental,
      incrementalStrategy = Some("merge"),
      uniqueKey = Seq("id"), partitionBy = Seq("day")), Nil, Nil, Nil)
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"), (3L, "c", "2024-01-03"))
      .toDF("id", "v", "day")
    mat.incremental(n, init, fullRefresh = false)
    val v0 = java.nio.file.Paths.get(store.currentPath("t_pmerge").get)
    // update id=2 in place + insert id=9, both day 02 → days 01/03 untouched
    val batch = Seq((2L, "b2", "2024-01-02"), (9L, "z", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, batch, fullRefresh = false)
    val v1 = java.nio.file.Paths.get(store.currentPath("t_pmerge").get)
    assertLinked(v0, v1, Seq("day=2024-01-01", "day=2024-01-03"))
    val out = store.read("t_pmerge")
    assert(out.count() == 4)
    assert(out.filter("id = 2 AND v = 'b2'").count() == 1)
  }

  test("partitioned merge rewrites the OLD partition when a key moves partitions") {
    import spark.implicits._
    val n = ModelNode("t_pmove", "p", "", NodeConfig(
      materialized = Materialized.Incremental,
      incrementalStrategy = Some("merge"),
      uniqueKey = Seq("id"), partitionBy = Seq("day")), Nil, Nil, Nil)
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, init, fullRefresh = false)
    val v0 = java.nio.file.Paths.get(store.currentPath("t_pmove").get)
    // id=2 moves from day 02 to day 03: day 02 must drop it, day 01 untouched
    val batch = Seq((2L, "b3", "2024-01-03")).toDF("id", "v", "day")
    mat.incremental(n, batch, fullRefresh = false)
    val v1 = java.nio.file.Paths.get(store.currentPath("t_pmove").get)
    assertLinked(v0, v1, Seq("day=2024-01-01"))
    val out = store.read("t_pmove")
    assert(out.count() == 2)
    assert(out.filter("day = '2024-01-02'").count() == 0)
    assert(out.filter("day = '2024-01-03' AND v = 'b3'").count() == 1)
  }

  test("adding partition_by to an existing unpartitioned table falls back to a full re-layout") {
    import spark.implicits._
    // first build WITHOUT partition_by → flat parquet layout
    val flat = ModelNode("t_relayout", "p", "", NodeConfig(
      materialized = Materialized.Incremental,
      incrementalStrategy = Some("merge"), uniqueKey = Seq("id")), Nil, Nil, Nil)
    mat.incremental(flat, Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
      .toDF("id", "v", "day"), fullRefresh = false)
    assert(!store.isPartitionedLayout("t_relayout"))
    // config evolves: same model now partitioned — the merge must NOT
    // take the partition-scoped path (nothing to link) and must keep
    // every untouched row via the full rewrite
    val parted = flat.copy(config = flat.config.copy(partitionBy = Seq("day")))
    mat.incremental(parted, Seq((2L, "b2", "2024-01-02")).toDF("id", "v", "day"),
      fullRefresh = false)
    val out = store.read("t_relayout")
    assert(out.count() == 2)
    assert(out.filter("id = 1 AND v = 'a'").count() == 1) // untouched row survives
    assert(out.filter("id = 2 AND v = 'b2'").count() == 1)
    assert(store.isPartitionedLayout("t_relayout")) // re-laid-out partitioned
    // subsequent merges take the partition-scoped path again
    val v1 = java.nio.file.Paths.get(store.currentPath("t_relayout").get)
    mat.incremental(parted, Seq((2L, "b3", "2024-01-02")).toDF("id", "v", "day"),
      fullRefresh = false)
    val v2 = java.nio.file.Paths.get(store.currentPath("t_relayout").get)
    assertLinked(v1, v2, Seq("day=2024-01-01"))
  }

  test("incremental_predicates freeze target rows outside the predicate window") {
    import spark.implicits._
    val n = ModelNode("t_pred", "p", "", NodeConfig(
      materialized = Materialized.Incremental,
      incrementalStrategy = Some("merge"),
      uniqueKey = Seq("id"),
      incrementalPredicates = Seq("day >= '2024-01-02'")), Nil, Nil, Nil)
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, init, fullRefresh = false)
    val batch = Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, batch, fullRefresh = false)
    val out = store.read("t_pred")
    // id=2 is inside the predicate window → updated in place
    assert(out.filter("id = 2").count() == 1)
    assert(out.filter("id = 2 AND v = 'y'").count() == 1)
    // id=1 is OUTSIDE: the old row is frozen and the batch row inserts
    // alongside it — SQL MERGE semantics when predicates unmatch the
    // target row (the reference documents the same duplication hazard)
    assert(out.filter("id = 1").count() == 2)
    assert(out.filter("id = 1 AND v = 'a'").count() == 1)
    assert(out.filter("id = 1 AND v = 'x'").count() == 1)
  }

  test("incremental_predicates compose with partition-scoped commits") {
    import spark.implicits._
    val n = ModelNode("t_pred_part", "p", "", NodeConfig(
      materialized = Materialized.Incremental,
      incrementalStrategy = Some("merge"),
      uniqueKey = Seq("id"), partitionBy = Seq("day"),
      incrementalPredicates = Seq("day >= '2024-01-02'")), Nil, Nil, Nil)
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"), (3L, "c", "2024-01-03"))
      .toDF("id", "v", "day")
    mat.incremental(n, init, fullRefresh = false)
    val v0 = java.nio.file.Paths.get(store.currentPath("t_pred_part").get)
    // id=1 is outside the predicate window (frozen + batch row inserts);
    // id=2 is inside (updated); day 03 untouched → linked
    val batch = Seq((1L, "x", "2024-01-01"), (2L, "y", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, batch, fullRefresh = false)
    val v1 = java.nio.file.Paths.get(store.currentPath("t_pred_part").get)
    assertLinked(v0, v1, Seq("day=2024-01-03"))
    val out = store.read("t_pred_part")
    assert(out.filter("id = 2").count() == 1)
    assert(out.filter("id = 2 AND v = 'y'").count() == 1)
    assert(out.filter("id = 1").count() == 2) // frozen original + inserted batch row
    assert(out.filter("id = 1 AND v = 'a'").count() == 1)
    assert(out.count() == 4)
  }

  test("partition-scoped commit writes ZERO bytes for untouched partitions; store reads prune") {
    import spark.implicits._
    def fileStates(dir: java.nio.file.Path): Map[String, (Long, Long)] = {
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(dir).forEach { p =>
        val fn = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !fn.startsWith("_") && !fn.startsWith("."))
          out(dir.relativize(p).toString) =
            (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }
      out.toMap
    }
    val n = ModelNode("t_zerocopy", "p", "", NodeConfig(
      materialized = Materialized.Incremental,
      incrementalStrategy = Some("merge"),
      uniqueKey = Seq("id"), partitionBy = Seq("day")), Nil, Nil, Nil)
    val init = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"), (3L, "c", "2024-01-03"))
      .toDF("id", "v", "day")
    mat.incremental(n, init, fullRefresh = false)
    val table = java.nio.file.Paths.get(store.currentPath("t_zerocopy").get).getParent
    val before = fileStates(table)
    // touch day 02 only
    mat.incremental(n, Seq((2L, "b2", "2024-01-02")).toDF("id", "v", "day"),
      fullRefresh = false)
    val after = fileStates(table)
    // every pre-existing data file is byte-identical IN PLACE (same
    // size, same mtime — nothing was copied, linked, or rewritten)
    before.foreach { case (rel, st) =>
      assert(after.get(rel).contains(st), s"$rel was rewritten/copied by the commit")
    }
    // the only new data files belong to the touched partition
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.contains("day=2024-01-02")),
      s"commit must add only the touched partition's files, got $added")
    // and the read PRUNES through the manifest index: a day filter
    // scans exactly that day's files
    val pruned = store.read("t_zerocopy").filter(col("day") === "2024-01-01")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(scan.metrics.get("numFiles").exists(_.value ==
      partFiles(java.nio.file.Paths.get(store.currentPath("t_zerocopy").get),
        "day=2024-01-01").size),
      s"partition filter must prune the manifest scan: ${scan.metrics.get("numFiles")}")
    assert(scan.toString.contains("PartitionFilters"),
      "pushed partition filter missing from the scan")
  }

  test("manifest store: two-level and typed (date/int) partition columns round-trip") {
    import spark.implicits._
    // two-level layout with a DATE and an INT partition column — the
    // manifest's leaf keys carry both segments, values re-typed from
    // the stored schema on read
    val init = Seq(
      (1L, "a", java.sql.Date.valueOf("2024-01-01"), 1),
      (2L, "b", java.sql.Date.valueOf("2024-01-01"), 2),
      (3L, "c", java.sql.Date.valueOf("2024-01-02"), 1))
      .toDF("id", "v", "day", "region")
    store.write(init, "t_twolevel", partitionBy = Seq("day", "region"))
    val out = store.read("t_twolevel")
    assert(out.schema("day").dataType.typeName == "date")
    assert(out.schema("region").dataType.typeName == "integer")
    assert(out.count() == 3)
    // pruning crosses BOTH levels
    val pruned = out.filter(col("day") === "2024-01-01" && col("region") === 2)
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a partition-scoped replacement of ONE (day, region) leaf carries
    // the other two by manifest reference
    val v0 = java.nio.file.Paths.get(store.currentPath("t_twolevel").get)
    store.writePartitions(
      Seq((9L, "z", java.sql.Date.valueOf("2024-01-01"), 2)).toDF("id", "v", "day", "region"),
      "t_twolevel", Seq("day", "region"))
    val v1 = java.nio.file.Paths.get(store.currentPath("t_twolevel").get)
    assertLinked(v0, v1, Seq("day=2024-01-01/region=1", "day=2024-01-02/region=1"))
    val after = store.read("t_twolevel")
    assert(after.count() == 3)
    assert(after.filter("id = 9").count() == 1 && after.filter("id = 2").count() == 0)
    // time travel across the typed layout still works inside retention
    assert(store.read("t_twolevel", Some(0)).filter("id = 2").count() == 1)
  }

  test("insert_overwrite replaces only the incoming partitions") {
    import spark.implicits._
    val n = node("t_part", parts = Seq("day"))
    val day1 = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, day1, fullRefresh = false)
    // replace day 2 only; day 1 untouched
    val day2 = Seq((9L, "z", "2024-01-02")).toDF("id", "v", "day")
    mat.incremental(n, day2, fullRefresh = false)
    val out = store.read("t_part")
    assert(out.filter("day = '2024-01-01'").count() == 1)
    assert(out.filter("day = '2024-01-02'").count() == 1)
    assert(out.filter("day = '2024-01-02' AND id = 9").count() == 1)
  }

  test("compact coalesces fragmented partitions and links well-sized ones") {
    import spark.implicits._
    // day 1: eight tiny task files (fragmented); day 2: already one file
    val frag = (1L to 8L).map(i => (i, s"v$i", "2024-01-01")).toDF("id", "v", "day")
      .repartition(8)
    val fine = Seq((100L, "w", "2024-01-02")).toDF("id", "v", "day").coalesce(1)
    store.write(frag.unionAll(fine), "t_compact", partitionBy = Seq("day"))
    val v0 = java.nio.file.Paths.get(store.currentPath("t_compact").get)
    // hash split may leave some of the 8 tasks empty; several files remain
    assert(partFiles(v0, "day=2024-01-01").size >= 2)
    val before = store.read("t_compact").collect().map(_.toString).sorted
    val rewritten = store.compact("t_compact")
    assert(rewritten == 1)
    val v1 = java.nio.file.Paths.get(store.currentPath("t_compact").get)
    assert(v0 != v1)
    // fragmented partition now a single file; the fine one is hard-linked
    assert(partFiles(v1, "day=2024-01-01").size == 1)
    assertLinked(v0, v1, Seq("day=2024-01-02"))
    assert(store.read("t_compact").collect().map(_.toString).sorted.sameElements(before))
    // idempotent: a second compact finds nothing to rewrite, commits nothing
    assert(store.compact("t_compact") == 0)
    assert(java.nio.file.Paths.get(store.currentPath("t_compact").get) == v1)
  }

  test("compact on an unpartitioned table coalesces the root") {
    import spark.implicits._
    val many = (1L to 500L).map(i => (i, s"r$i")).toDF("id", "v").repartition(12)
    store.write(many, "t_compact_flat")
    val before = store.read("t_compact_flat").collect().map(_.toString).sorted
    assert(store.compact("t_compact_flat") == 1)
    val v1 = java.nio.file.Paths.get(store.currentPath("t_compact_flat").get)
    val files = java.nio.file.Files.list(v1).iterator()
    var n = 0
    while (files.hasNext) {
      if (files.next().getFileName.toString.endsWith(".parquet")) n += 1
    }
    assert(n == 1)
    assert(store.read("t_compact_flat").collect().map(_.toString).sorted.sameElements(before))
  }

  test("flat compaction converges: near-target outputs are never re-rewritten") {
    import spark.implicits._
    val cw = new RelationStore(spark,
      java.nio.file.Files.createTempDirectory("conv_wh").toString)
    val rnd = new scala.util.Random(7)
    def payloadDf(n: Int, files: Int, tag: String) =
      (1 to n).map(i => (s"$tag$i", rnd.alphanumeric.take(4096).mkString))
        .toDF("id", "payload").repartition(files)
    cw.write(payloadDf(64, 16, "init"), "t_conv")
    val table = java.nio.file.Paths.get(cw.currentPath("t_conv").get).getParent
    def manifestEntries(): Seq[String] = {
      val v = java.nio.file.Paths.get(cw.currentPath("t_conv").get)
      graft.artifacts.Json.parse(
        java.nio.file.Files.readString(v.resolve("_manifest.json"))) match {
        case m: Map[String @unchecked, Any @unchecked] =>
          m("files").asInstanceOf[Seq[Any]].map(String.valueOf(_))
      }
    }
    // target sized so the first compaction emits ~3 outputs that land
    // just under targetBytes — the exact regime where a `< target`
    // small-file cutoff would re-rewrite them forever
    val initialBytes = manifestEntries()
      .map(r => java.nio.file.Files.size(table.resolve(r))).sum
    val target = initialBytes / 3
    assert(cw.compact("t_conv", target) == 1)
    val outputs = manifestEntries().toSet
    val firstPass = cw.compactedBytes.get()
    assert(firstPass >= initialBytes, "first pass rewrites the fragmented files")
    // land a few fresh small files, then compact again: ONLY they are
    // rewritten; the near-target outputs carry over by reference
    (0 to 3).foreach(b => cw.appendDelta(payloadDf(4, 1, s"d$b"), "t_conv", b.toLong))
    assert(cw.compact("t_conv", target) == 1)
    val after = manifestEntries().toSet
    assert(outputs.subsetOf(after),
      s"prior compaction outputs must carry by reference: ${outputs -- after}")
    val secondPass = cw.compactedBytes.get() - firstPass
    assert(secondPass > 0 && secondPass < firstPass / 2,
      s"second pass must rewrite only the fresh small files ($secondPass vs $firstPass)")
    // converged: nothing left under the small cutoff
    assert(cw.compact("t_conv", target) == 0)
  }

  test("a gutted data pool's directory is swept once its last referencing manifest expires") {
    val gp = new RelationStore(spark,
      java.nio.file.Files.createTempDirectory("pool_wh").toString,
      retainVersions = 2, deltaFoldEvery = 2)
    gp.write(df(Seq((1L, "a"))), "t_pool") // v0: physical data files
    gp.appendDelta(df(Seq((2L, "b"))), "t_pool", 0L)
    gp.appendDelta(df(Seq((3L, "c"))), "t_pool", 1L) // fold → v1 references v0's files
    val table = java.nio.file.Paths.get(gp.currentPath("t_pool").get).getParent
    gp.write(df(Seq((9L, "z"))), "t_pool") // v2; GC expires v0 → gutted pool
    assert(java.nio.file.Files.exists(table.resolve("v0").resolve("_gutted")),
      "expired version with still-referenced files must become a tombstoned pool")
    assert(gp.versions("t_pool") == Seq(1, 2))
    assert(gp.read("t_pool", Some(1)).count() == 3) // v1 still reads through the pool
    gp.write(df(Seq((10L, "y"))), "t_pool") // v3; v1 expires → v0's files dereferenced
    assert(!java.nio.file.Files.exists(table.resolve("v0")),
      "a fully-drained pool dir (tombstone only) must be deleted, not leak forever")
    assert(!java.nio.file.Files.exists(table.resolve("v1")))
    assert(gp.read("t_pool").collect().map(_.getString(1)).toSeq == Seq("y"))
  }

  test("time travel reads past versions; vacuum reclaims beyond retention") {
    // wide retention: commits keep history, vacuum trims on demand
    val tt = new graft.exec.RelationStore(spark,
      java.nio.file.Files.createTempDirectory("tt_wh").toString, retainVersions = 10)
    tt.write(df(Seq((1L, "v0"))), "t_tt")
    tt.write(df(Seq((1L, "v1"), (2L, "v1"))), "t_tt")
    tt.write(df(Seq((1L, "v2"))), "t_tt")
    assert(tt.versions("t_tt") == Seq(0, 1, 2))
    assert(tt.read("t_tt", Some(0)).collect().map(_.getString(1)).toSeq == Seq("v0"))
    assert(tt.read("t_tt", Some(1)).count() == 2)
    assert(tt.read("t_tt").collect().map(_.getString(1)).toSeq == Seq("v2"))
    // keepLast=1 → only the current version survives
    assert(tt.vacuum("t_tt", keepLast = 1) == 2)
    assert(tt.versions("t_tt") == Seq(2))
    assert(tt.read("t_tt").count() == 1)
    val err = intercept[IllegalStateException](tt.read("t_tt", Some(0)))
    assert(err.getMessage.contains("version 0"))
    // vacuum is idempotent and never touches the current version
    assert(tt.vacuum("t_tt", keepLast = 1) == 0)
  }

  test("default retention keeps current + previous across commits") {
    store.write(df(Seq((1L, "a"))), "t_ret")
    store.write(df(Seq((1L, "b"))), "t_ret")
    store.write(df(Seq((1L, "c"))), "t_ret")
    assert(store.versions("t_ret") == Seq(1, 2))
    assert(store.read("t_ret", Some(1)).collect().map(_.getString(1)).toSeq == Seq("b"))
  }

  test("a manifest missing a required field fails the read and names the file") {
    // the store reads only the manifest shape it writes: a stripped
    // field is corruption to surface, never a value to guess
    val root = java.nio.file.Files.createTempDirectory("strict_wh").toString
    val writer = new graft.exec.RelationStore(spark, root)
    writer.write(df(Seq((1L, "a"), (2L, "b"))), "t_strict")
    // a bucketed manifest also requires its spec: read as entry-less,
    // retention would reclaim the files the version scans
    writer.writeBucketed(df(Seq((1L, "a"), (2L, "b"))), "t_bstrict", Seq("id"), 2)
    val fresh = new graft.exec.RelationStore(spark, root)
    val versionState = Seq("schema", "watermark", "absorbed", "batch")
    for ((t, keys) <- Seq("t_strict" -> (Seq("sizes", "ts") ++ versionState),
        "t_bstrict" -> Seq("buckets", "bucket_by"))) {
      val mf = java.nio.file.Paths.get(fresh.currentPath(t).get).resolve("_manifest.json")
      val raw = java.nio.file.Files.readString(mf)
      val fields = graft.artifacts.Json.parse(raw).asInstanceOf[Map[String, Any]]
      // rewritten outside Hadoop: drop the checksum sibling so the read
      // sees the edited content, not a checksum mismatch
      java.nio.file.Files.deleteIfExists(mf.resolveSibling("._manifest.json.crc"))
      for (k <- keys) {
        assert(fields.contains(k), raw)
        java.nio.file.Files.writeString(mf, graft.artifacts.Json.write(fields - k))
        for (op <- Seq(() => fresh.read(t), () => fresh.vacuum(t, keepLast = 1))) {
          val err = intercept[IllegalStateException](op())
          assert(err.getMessage.contains(mf.toString) && err.getMessage.contains(s"'$k'"),
            err.getMessage)
        }
      }
      java.nio.file.Files.writeString(mf, raw)
      assert(fresh.read(t).count() == 2)
    }
  }

  test("every committed version dir holds its manifest and data files only") {
    // the manifest is a version's one metadata file: schema, delta
    // marks and batch tag included, through every commit path
    val root = java.nio.file.Files.createTempDirectory("layout_wh").toString
    val st = new RelationStore(spark, root, retainVersions = 100, deltaFoldEvery = 100)
    st.write(df((0L until 40L).map(i => (i, s"r$i"))).repartition(4), "t", batchTag = Some(7L))
    assert(st.appendDelta(df(Seq((40L, "d0"))), "t", 0L))
    assert(st.appendDelta(df(Seq((41L, "d1"))), "t", 1L))
    assert(st.foldDeltas("t") == 2)
    assert(st.compact("t") == 1)
    // fold and compaction carry the batch tag and the delta marks
    assert(st.lastBatchTag("t").contains(7L) && st.landedBatchIds("t").isEmpty)
    assert(!st.appendDelta(df(Seq((1L, "replay"))), "t", 1L))
    // forced re-slot: a competitor commits while this write stages, so
    // the write re-commits above it, referencing its staged files
    val competitor = new RelationStore(spark, root, retainVersions = 100)
    st.write(df(Seq((1L, "mine"))), "t",
      validate = Some(_ => competitor.write(df(Seq((2L, "theirs"))), "t")))
    assert(st.read("t").collect().map(_.getString(1)).toSeq == Seq("mine"))
    assert(st.lastBatchTag("t").isEmpty)
    import spark.implicits._
    val parts = Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "p")
    st.write(parts, "tp", Seq("p"))
    st.writePartitions(Seq((3L, "c", 2)).toDF("id", "v", "p"), "tp", Seq("p"))
    assert(st.read("tp").count() == 2)
    import scala.jdk.CollectionConverters._
    def filesUnder(d: java.nio.file.Path): Seq[String] =
      java.nio.file.Files.walk(d).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(_.getFileName.toString)
        // filesystem checksum siblings (.crc) are not store files
        .filterNot(_.endsWith(".crc")).toSeq
    for (t <- Seq("t", "tp")) {
      val table = java.nio.file.Paths.get(root, "main", t)
      val committed = st.versions(t).map(v => table.resolve(s"v$v"))
      assert(committed.size == (if (t == "t") 5 else 2), committed)
      for (d <- committed) {
        val files = filesUnder(d)
        // `_SUCCESS` is the Spark writer's job marker, not store state
        val meta = files.filterNot(f => f.startsWith("part-") || f == "_SUCCESS")
        assert(meta == Seq("_manifest.json"), s"$d: $files")
      }
    }
    // the re-slotted head wrote no data of its own: its manifest names
    // the files staged in the slot it lost
    val head = java.nio.file.Paths.get(st.currentPath("t").get)
    assert(filesUnder(head) == Seq("_manifest.json"), filesUnder(head))
  }

  test("vacuum reclaims torn (uncommitted) versions, never committed history") {
    val tv = new graft.exec.RelationStore(spark,
      java.nio.file.Files.createTempDirectory("torn_wh").toString, retainVersions = 10)
    tv.write(df(Seq((1L, "a"))), "t_torn")
    tv.write(df(Seq((1L, "b"))), "t_torn")
    // simulate a crash mid-write: a version dir above the pointer
    val torn = java.nio.file.Paths.get(tv.currentPath("t_torn").get).getParent.resolve("v7")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-00000.parquet"), "partial garbage")
    assert(tv.versions("t_torn") == Seq(0, 1, 7))
    // time travel refuses the uncommitted version
    val err = intercept[IllegalStateException](tv.read("t_torn", Some(7)))
    assert(err.getMessage.contains("version 7"))
    // vacuum with wide retention removes ONLY the torn dir
    assert(tv.vacuum("t_torn", keepLast = 5) == 1)
    assert(tv.versions("t_torn") == Seq(0, 1))
    assert(tv.read("t_torn", Some(0)).first().getString(1) == "a")
    // a committed version whose manifest is gone is no version either:
    // v0's files are unreferenced, v1's are carried by the fold's head
    // v2. Neither lists nor time-travels, vacuum reclaims both as
    // versions (v0's dir entirely), and the head still reads whole
    assert(tv.appendDelta(df(Seq((2L, "c"))), "t_torn", 0L))
    assert(tv.foldDeltas("t_torn") == 1)
    val table = torn.getParent
    Seq("v0", "v1").foreach(v =>
      java.nio.file.Files.delete(table.resolve(v).resolve("_manifest.json")))
    assert(tv.versions("t_torn") == Seq(2))
    Seq(0, 1).foreach { v =>
      val gone = intercept[IllegalStateException](tv.read("t_torn", Some(v)))
      assert(gone.getMessage.contains(s"version $v of main.t_torn not found"), gone.getMessage)
    }
    tv.vacuum("t_torn", keepLast = 5)
    assert(!java.nio.file.Files.exists(table.resolve("v0")), "manifest-less v0 must be reclaimed")
    assert(tv.versions("t_torn") == Seq(2))
    assert(tv.read("t_torn").collect().map(_.getString(1)).sorted.toSeq == Seq("b", "c"))
  }

  test("failed commit leaves the previous version current and readable") {
    store.write(df(Seq((1L, "a"), (2L, "b"))), "t_crash")
    val v0 = store.currentPath("t_crash").get
    // a validation failure mid-commit (constraint check, write fault)
    // must leave the pointer on v0 and remove the staged version
    intercept[RuntimeException] {
      store.write(df(Seq((3L, "c"))), "t_crash",
        validate = Some(_ => throw new RuntimeException("constraint violated")))
    }
    assert(store.currentPath("t_crash").get == v0, "pointer must still name v0")
    assert(store.read("t_crash").count() == 2)
    val staged = java.nio.file.Paths.get(v0).getParent.resolve("v1")
    assert(!java.nio.file.Files.exists(staged), "failed staged version must be cleaned up")
    // and the next successful commit proceeds normally
    store.write(df(Seq((3L, "c"))), "t_crash")
    assert(store.read("t_crash").count() == 1)
  }
}
