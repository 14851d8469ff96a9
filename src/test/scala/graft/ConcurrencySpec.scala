package graft

import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.RelationStore

/** Optimistic concurrency: two independent store handles over ONE
  * warehouse root committing to the same table. The protocol under
  * test: version slots are reserved by atomic no-overwrite marker
  * creation, the manifest rename is the commit, and a commit that gets
  * shadowed by a concurrent higher commit withdraws and re-commits
  * above the new head (re-referencing its staged files cross-dir).
  * Required outcome: a LINEAR version chain, no lost updates, and no
  * leaked garbage after vacuum.
  */
class ConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = GraftSession.local(4)

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("occ_wh").toString

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  /** Run the thunks concurrently from a common start barrier; rethrow
    * the first failure.
    */
  private def inParallel(thunks: (() => Unit)*): Unit = {
    val start = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.map { t =>
      new Thread(() => {
        start.await()
        try t() catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    if (!errors.isEmpty) throw errors.peek()
  }

  /** Every data file under the table dir, relative to it. */
  private def dataFiles(root: String, table: String): Set[String] = {
    val base = java.nio.file.Paths.get(root, "main", table)
    if (!java.nio.file.Files.exists(base)) return Set.empty
    val out = scala.collection.mutable.Set[String]()
    java.nio.file.Files.walk(base).forEach { p =>
      val fn = p.getFileName.toString
      if (java.nio.file.Files.isRegularFile(p) && !fn.startsWith("_") && !fn.startsWith("."))
        out += base.relativize(p).toString
    }
    out.toSet
  }

  private def markers(root: String, table: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root, "main", table)
    if (!java.nio.file.Files.exists(base)) return Nil
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(base).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_rsv_v")).toSeq
  }

  test("concurrent full writes: linear chain, head is exactly one writer's content") {
    val root = newRoot()
    val a = new RelationStore(spark, root)
    val b = new RelationStore(spark, root)
    val rowsA = (0L until 50L).map(i => (i, "A"))
    val rowsB = (100L until 170L).map(i => (i, "B"))
    inParallel(
      () => a.write(df(rowsA), "t"),
      () => b.write(df(rowsB), "t"))
    // both committed: two versions, strictly ascending, head readable
    val fresh = new RelationStore(spark, root)
    val vs = fresh.versions("t")
    assert(vs.size == 2 && vs == vs.sorted, s"non-linear chain: $vs")
    val head = fresh.read("t").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(head == rowsA.toSet || head == rowsB.toSet,
      s"head must be exactly ONE writer's content, got ${head.size} rows")
    // the shadowed writer's commit is intact history, not a torn mix
    val prev = fresh.read("t", Some(vs.head)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(Set(rowsA.toSet, rowsB.toSet) == Set(head, prev))
    // every surviving data file is referenced; vacuum with an expired
    // horizon leaves zero reservation markers and a clean chain
    val sweeper = new RelationStore(spark, root, tornRetainMs = 0L)
    sweeper.vacuum("t", keepLast = 1)
    assert(sweeper.versions("t").size == 1)
    assert(markers(root, "t").isEmpty, s"leaked reservations: ${markers(root, "t")}")
    assert(sweeper.read("t").count() == head.size)
  }

  test("concurrent bucketed writes: linear chain, no writer throws, every version bucketed") {
    val root = newRoot()
    val writers = (0 until 3).map(_ => new RelationStore(spark, root, retainVersions = 10))
    // a bucketed commit that loses the race re-slots above the new head
    // like any other write: its staged files stay put
    inParallel(writers.zipWithIndex.map { case (w, i) =>
      () => w.writeBucketed(df((0L until 20L).map(k => (k, s"w$i"))), "t", Seq("id"), 4)
    }: _*)
    val fresh = new RelationStore(spark, root)
    val vs = fresh.versions("t")
    assert(vs.size == 3 && vs == vs.sorted, s"non-linear chain: $vs")
    assert(fresh.isBucketed("t"))
    val owners = vs.map { v =>
      val agg = fresh.read("t", Some(v)).groupBy(col("id")).agg(max(col("v")).as("w"))
      val rows = agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 4 out of 4") && !plan.contains("Exchange"), plan)
      assert(rows.length == 20, s"v$v: ${rows.length} keys")
      rows.map(_.getString(1)).toSet
    }
    assert(owners.toSet == Set(Set("w0"), Set("w1"), Set("w2")), s"torn versions: $owners")
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_")))
  }

  test("concurrent delta landings + racing folds: both writers' rows all present") {
    val root = newRoot()
    val a = new RelationStore(spark, root, deltaFoldEvery = 3)
    val b = new RelationStore(spark, root, deltaFoldEvery = 3)
    // disjoint batch ids (two sources feeding one table); folds trigger
    // on both sides and race each other
    inParallel(
      () => (0 until 12 by 2).foreach(i =>
        a.appendDelta(df(Seq((i.toLong, s"a$i"))), "t", i.toLong)),
      () => (1 until 12 by 2).foreach(i =>
        b.appendDelta(df(Seq((i.toLong, s"b$i"))), "t", i.toLong)))
    val fresh = new RelationStore(spark, root)
    val out = fresh.read("t").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == (0L until 12L), s"lost or duplicated landings: $out")
    val vs = fresh.versions("t")
    assert(vs == vs.sorted && vs.nonEmpty)
    // same-batch replay race: exactly one of two concurrent landings of
    // ONE batch id commits
    val landed = new java.util.concurrent.atomic.AtomicInteger(0)
    inParallel(
      () => if (a.appendDelta(df(Seq((77L, "x"))), "t", 77L)) landed.incrementAndGet(),
      () => if (b.appendDelta(df(Seq((77L, "y"))), "t", 77L)) landed.incrementAndGet())
    assert(landed.get() == 1, s"batch 77 landed ${landed.get()} times")
    assert(fresh.read("t").filter(col("id") === 77L).count() == 1)
  }

  test("concurrent partition-scoped commits to different partitions: no lost update") {
    val root = newRoot()
    val base = new RelationStore(spark, root)
    import spark.implicits._
    def pdf(rows: Seq[(Long, String, String)]) = rows.toDF("id", "v", "day")
    base.write(pdf(Seq(
      (1L, "old1", "d1"), (2L, "old2", "d2"), (3L, "old3", "d3"))), "t", Seq("day"))
    val a = new RelationStore(spark, root)
    val b = new RelationStore(spark, root)
    inParallel(
      () => a.writePartitions(pdf(Seq((10L, "newA", "d1"))), "t", Seq("day")),
      () => b.writePartitions(pdf(Seq((20L, "newB", "d2"))), "t", Seq("day")))
    // BOTH partition replacements survive (the shadowed commit re-bases
    // its carried set on the competitor's head), d3 carries untouched
    val out = new RelationStore(spark, root).read("t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set((10L, "newA", "d1"), (20L, "newB", "d2"), (3L, "old3", "d3")),
      s"lost update: $out")
  }

  test("stale reservations (crashed writers) are reclaimed; live ones are protected") {
    val root = newRoot()
    val store = new RelationStore(spark, root)
    store.write(df(Seq((1L, "a"))), "t")
    // fake a crashed writer: reservation marker + partial staged data
    val td = new HPath(s"$root/main/t")
    val fs = td.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new HPath(td, "v9"))
    val rsv = new HPath(td, "_rsv_v9")
    val out = fs.create(rsv, true); out.write("dead".getBytes); out.close()
    val junk = fs.create(new HPath(td, "v9/part-junk.parquet"), true)
    junk.write("partial".getBytes); junk.close()
    // young reservation: protected from a routine commit's GC
    store.write(df(Seq((2L, "b"))), "t")
    assert(fs.exists(rsv), "live-horizon reservation must survive routine GC")
    // stale reservation: reclaimed by vacuum under an expired horizon
    val sweeper = new RelationStore(spark, root, tornRetainMs = 0L)
    sweeper.vacuum("t", keepLast = 1)
    assert(!fs.exists(rsv), "stale reservation must be reclaimed")
    assert(!fs.exists(new HPath(td, "v9")), "crashed slot dir must be reclaimed")
    assert(sweeper.read("t").collect().map(_.getString(1)).toSeq == Seq("b"))
  }

  test("fold absorbs past a gap in landed ids; the gap id still lands later") {
    val root = newRoot()
    val store = new RelationStore(spark, root, deltaFoldEvery = 3)
    // two producers with interleaved ids: the even producer stalled
    // before landing id 2, the others landed 0, 1, 3
    Seq(0L, 1L, 3L).foreach(i => store.appendDelta(df(Seq((i, s"x$i"))), "t", i))
    // the third landing triggered a fold: ALL THREE absorbed — the tail
    // beyond the gap goes into the absorbed set instead of staying live
    // forever (pre-set behavior: id 3 could never fold while 2 was open)
    assert(store.landedBatchIds("t").isEmpty,
      s"stranded live deltas: ${store.landedBatchIds("t")}")
    assert(store.read("t").count() == 3)
    assert(store.batchLanded("t", 3L), "absorbed-above-gap id must read as landed")
    assert(!store.batchLanded("t", 2L), "the gap id must stay landable")
    // the stalled producer finally lands the gap id — accepted as new
    assert(store.appendDelta(df(Seq((2L, "x2"))), "t", 2L))
    assert(store.read("t").count() == 4)
    // a replay of the absorbed tail still skips (no double-append)
    assert(!store.appendDelta(df(Seq((3L, "dup"))), "t", 3L))
    // the next fold absorbs the gap id and the watermark catches up
    store.foldDeltas("t")
    assert(store.landedBatchIds("t").isEmpty)
    assert(store.read("t").collect().map(_.getLong(0)).sorted.toSeq == (0L to 3L))
    assert((0L to 3L).forall(store.batchLanded("t", _)))
  }

  test("crashed finalize is adopted only when its recorded base is still the head") {
    val root = newRoot()
    val store = new RelationStore(spark, root, tornRetainMs = 0L)
    store.write(df(Seq((1L, "A"))), "t") // v0
    store.write(df(Seq((2L, "B"))), "t") // v1 (base 0)
    store.write(df(Seq((3L, "C"))), "t") // v2 (base 1)
    val td = new HPath(s"$root/main/t")
    val fs = td.getFileSystem(spark.sessionState.newHadoopConf())
    def plantCrashAtV2(): Unit = {
      // the "verify passed, crash before marker delete" window: manifest
      // in place, reservation marker back, pointer still at the old head
      val o = fs.create(new HPath(td, "_rsv_v2"), true)
      o.write("crashed".getBytes); o.close()
      val p = fs.create(new HPath(td, "_current"), true)
      p.write("1".getBytes); p.close()
    }
    plantCrashAtV2()
    // readers must NOT resolve the unpublished orphan
    assert(new RelationStore(spark, root).read("t").first().getString(1) == "B")
    // GC adopts: the orphan sits at head+1 AND records base 1 == head
    store.vacuum("t", keepLast = 10)
    assert(!fs.exists(new HPath(td, "_rsv_v2")), "matching-base orphan must be adopted")
    assert(new RelationStore(spark, root).read("t").first().getString(1) == "C")
  }

  test("crashed finalize with a conflicted base is demoted, never adopted") {
    val root = newRoot()
    val store = new RelationStore(spark, root, tornRetainMs = 0L)
    store.write(df(Seq((1L, "A"))), "t") // v0
    store.write(df(Seq((2L, "B"))), "t") // v1 (base 0) — the committed head
    store.write(df(Seq((3L, "C"))), "t") // v2 (base 1)
    val td = new HPath(s"$root/main/t")
    val fs = td.getFileSystem(spark.sessionState.newHadoopConf())
    // plant the ADVICE scenario: the v2 writer actually built on v0 and
    // never saw v1's commit (its verify would have FAILED); it crashed
    // in the rename→verify window — rewrite v2's recorded base to 0
    val mf = new HPath(td, "v2/_manifest.json")
    val raw = {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(raw.contains("\"base\":1"), raw.take(200))
    val out = fs.create(mf, true)
    out.write(raw.replace("\"base\":1", "\"base\":0").getBytes); out.close()
    val o = fs.create(new HPath(td, "_rsv_v2"), true)
    o.write("crashed".getBytes); o.close()
    val p = fs.create(new HPath(td, "_current"), true)
    p.write("1".getBytes); p.close()
    // adoption must refuse (publishing would silently lose v1 = B), and
    // the stale orphan demotes into GC instead of leaking forever
    store.vacuum("t", keepLast = 10)
    val after = new RelationStore(spark, root)
    assert(after.read("t").first().getString(1) == "B",
      "conflicted orphan must never resurrect over the committed head")
    assert(!after.versions("t").contains(2), s"orphan leaked: ${after.versions("t")}")
    assert(!fs.exists(mf), "demoted orphan keeps no manifest")
  }

  test("stores without atomic create-no-overwrite refuse concurrent-writer commits") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockobj.impl", classOf[MockObjectStoreFs].getName)
    hc.set("fs.AbstractFileSystem.mockobj.impl",
      classOf[MockObjectStoreAbstractFs].getName)
    val root = "mockobj://" + newRoot()
    // default (concurrent-writer) mode: the first commit refuses with a
    // capability error that NAMES the problem and the ways out
    val occ = new RelationStore(spark, root)
    val e = intercept[IllegalStateException](occ.write(df(Seq((1L, "a"))), "t"))
    assert(e.getMessage.contains("create-no-overwrite") &&
      e.getMessage.contains("mockobj") &&
      e.getMessage.contains("concurrentWriters=false") &&
      e.getMessage.contains("CommitCoordinator"), e.getMessage)
    // delta landings are commits too: the same gate fires before any
    // epoch-dir rename could race another session's replay
    val eDelta = intercept[IllegalStateException](
      occ.appendDelta(df(Seq((1L, "a"))), "t_d", 0L))
    assert(eDelta.getMessage.contains("atomic rename") &&
      eDelta.getMessage.contains("mockobj"), eDelta.getMessage)
    // single-writer mode works end-to-end on the very same root:
    // commit, overwrite, delta landing, fold-free read-back, time travel
    val single = new RelationStore(spark, root, concurrentWriters = false)
    single.write(df(Seq((1L, "a"))), "t")
    single.write(df(Seq((2L, "b"))), "t")
    assert(single.read("t").collect().map(_.getString(1)).toSeq == Seq("b"))
    assert(single.appendDelta(df(Seq((9L, "d"))), "t_d", 0L))
    assert(single.read("t_d").count() == 1)
    val fresh = new RelationStore(spark, root, concurrentWriters = false)
    assert(fresh.versions("t").size == 2)
    assert(fresh.read("t", Some(fresh.versions("t").head))
      .first().getString(1) == "a")
    // an external coordinator that DECLARES atomicity re-enables
    // concurrent-writer mode on the same scheme (the pluggable seam)
    val fs = new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())
    val ext = new graft.exec.CommitCoordinator {
      val inner = graft.exec.CommitCoordinator.forStore(fs,
        org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri,
          spark.sessionState.newHadoopConf()))
      override def atomicReservation = true // e.g. DynamoDB-backed
      override def describe = "test lock service"
      override def reserve(m: HPath, t: String) = inner.reserve(m, t)
      override def heartbeat(m: HPath) = inner.heartbeat(m)
      override def release(m: HPath) = inner.release(m)
    }
    val withExt = new RelationStore(spark, root, coordinator = Some(ext))
    withExt.write(df(Seq((3L, "c"))), "t")
    assert(withExt.read("t").first().getString(1) == "c")
  }

  test("reservation heartbeat rewrites the marker in place — never an absent instant") {
    val root = newRoot()
    val p = new HPath(s"$root/_rsv_v1")
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val coord = graft.exec.CommitCoordinator.forStore(fs,
      org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf))
    assert(coord.atomicReservation, "local FS coordinator must declare atomicity")
    assert(coord.reserve(p, "tok1"))
    assert(!coord.reserve(p, "tok2"), "second reserve of one slot must lose")
    def content(): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    assert(content() == "tok1")
    val before = fs.getFileStatus(p).getModificationTime
    Thread.sleep(20)
    coord.heartbeat(p)
    // liveness clock advanced via CONTENT rewrite (works on stores
    // where setTimes throws), marker still present and still reserved
    assert(fs.exists(p))
    assert(content() != "tok1", "heartbeat must rewrite the marker content")
    assert(fs.getFileStatus(p).getModificationTime >= before)
    assert(!coord.reserve(p, "tok3"))
  }

  test("a published head above a stale pointer and a trace-less gap stays visible") {
    // the adversarial layout a probe-upward head resolution would go
    // blind on: pointer stale at v0 (crash in the marker-delete→
    // pointer-write window), slot v1 fully released by a failed
    // staging (no dir, no marker — trace-less), committed head at v2
    val root = newRoot()
    val store = new RelationStore(spark, root, retainVersions = 10)
    store.write(df(Seq((1L, "A"))), "t") // v0
    store.write(df(Seq((2L, "B"))), "t") // v1
    store.write(df(Seq((3L, "C"))), "t") // v2
    val td = new HPath(s"$root/main/t")
    val fs = td.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new HPath(td, "v1"), true) // released slot: zero trace
    val p = fs.create(new HPath(td, "_current"), true)
    p.write("0".getBytes); p.close()
    // head resolution must still find v2 across the gap
    val fresh = new RelationStore(spark, root)
    assert(fresh.read("t").first().getString(1) == "C",
      "committed head above a trace-less gap must stay visible")
  }

  test("concurrent op chaos with gapped ids: the exact union survives folds, compaction, vacuum") {
    // three writers over one root, interleaved batch ids (id % 3 ==
    // writer), each HOLDING BACK a random subset to land late — so
    // folds keep hitting gaps in the landed sequence while compaction
    // and retention run underneath. The durability contract under this
    // storm: every fresh id lands (even when folds already absorbed
    // PAST it), every replay skips, and the final content is EXACTLY
    // the union of landed rows.
    val root = newRoot()
    val stores = (0 until 3).map(_ => new RelationStore(spark, root, deltaFoldEvery = 4))
    val perThread = 10
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    inParallel(stores.zipWithIndex.map { case (st, t) =>
      () => {
        val rnd = new scala.util.Random(1000 + t)
        val ids = (0 until perThread).map(k => (t + 3 * k).toLong)
        val (now, late) = ids.partition(_ => rnd.nextInt(4) > 0)
        def land(id: Long): Unit = {
          assert(st.appendDelta(df(Seq((id, s"t$t"))), "t", id), s"fresh id $id must land")
          landed.add(id)
          assert(!st.appendDelta(df(Seq((id, "dup"))), "t", id), s"replay of $id must skip")
        }
        now.foreach { id =>
          land(id)
          rnd.nextInt(6) match {
            case 0 => st.foldDeltas("t")
            case 1 => st.vacuum("t")
            case 2 => st.compact("t")
            case _ => ()
          }
        }
        late.foreach(land) // the gap ids arrive last
      }
    }: _*)
    val fresh = new RelationStore(spark, root)
    fresh.foldDeltas("t")
    val got = fresh.read("t").collect().map(_.getLong(0)).sorted.toSeq
    import scala.jdk.CollectionConverters._
    val want = landed.iterator().asScala.map(_.toLong).toSeq.sorted
    assert(want.size == 3 * perThread, s"every id must have landed: ${want.size}")
    assert(got == want, s"extra=${got.diff(want)} missing=${want.diff(got)}")
    // quiesced retention: no leaked reservations, content still exact
    val sweeper = new RelationStore(spark, root, tornRetainMs = 0L)
    sweeper.vacuum("t", keepLast = 1)
    assert(markers(root, "t").isEmpty, s"leaked: ${markers(root, "t")}")
    assert(sweeper.read("t").count() == want.size)
  }

  test("staging writes heartbeat their reservation against the GC horizon") {
    val root = newRoot()
    // horizon 8 s ⇒ heartbeat cadence 2 s (horizon/4, clamped ≥ 1 s)
    val store = new RelationStore(spark, root, tornRetainMs = 8000L)
    val fs = new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    // the validate callback runs mid-staging (slot reserved, data
    // written, manifest not yet committed) — exactly where a long
    // write used to age toward the torn-reservation horizon
    store.write(df(Seq((1L, "a"))), "t", validate = Some { _ =>
      val rsv = new HPath(s"$root/main/t/_rsv_v0")
      def content(): String = {
        val in = fs.open(rsv)
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
      seen += content()
      Thread.sleep(3200) // one heartbeat interval (2 s) + slack
      seen += content()
    })
    assert(seen.size == 2 && seen(0) != seen(1),
      s"marker must be rewritten during a long staging write: $seen")
    assert(store.read("t").count() == 1) // and the commit still lands
  }

  test("absorbed-range merging stays O(#gaps) at 10k+ landed ids") {
    // the pure merge kernel at dead-lane scale: 20k absorbed ids
    // around two permanent gaps cost TWO ranges, not 20k entries
    val ids = ((1L to 10000L) ++ (20001L to 30000L)).reverse
    val merged = RelationStore.mergeRanges(ids.map(i => (i, i)))
    assert(merged == Seq((1L, 10000L), (20001L, 30000L)))
    // overlap + adjacency coalesce
    assert(RelationStore.mergeRanges(Seq((1L, 3L), (4L, 6L), (5L, 9L), (12L, 12L))) ==
      Seq((1L, 9L), (12L, 12L)))
  }

  test("a dead producer lane keeps the manifest's absorbed list tiny") {
    val root = newRoot()
    val store = new RelationStore(spark, root, deltaFoldEvery = 4)
    // lane id 0 never lands; survivors land a dense band and a far band
    // (folds keep firing under the open gap the whole time)
    (1L to 24L).foreach(i => store.appendDelta(df(Seq((i, s"x$i"))), "t", i))
    (100000L to 100011L).foreach(i => store.appendDelta(df(Seq((i, s"y$i"))), "t", i))
    store.foldDeltas("t")
    // (watermark, absorbed ranges) as the head's manifest records them
    def marks(): (Any, Any) = {
      val v = store.versions("t").max
      val p = java.nio.file.Paths.get(root, "main", "t", s"v$v", "_manifest.json")
      val m = graft.artifacts.Json.parse(java.nio.file.Files.readString(p))
        .asInstanceOf[Map[String, Any]]
      (m("watermark"), m("absorbed"))
    }
    // 36 absorbed ids above the open gap → exactly two ranges, O(1) bytes
    assert(marks() == ((-1L, Seq(Seq(1L, 24L), Seq(100000L, 100011L)))), marks())
    assert(store.read("t").count() == 36)
    // replay of an absorbed id skips; the gap id itself still lands
    assert(!store.appendDelta(df(Seq((24L, "dup"))), "t", 24L))
    assert(store.appendDelta(df(Seq((0L, "late"))), "t", 0L))
    store.foldDeltas("t")
    // the filled gap drains the leading range into the watermark
    assert(marks() == ((24L, Seq(Seq(100000L, 100011L)))), marks())
    assert(store.read("t").count() == 37)
    assert((0L to 24L).forall(store.batchLanded("t", _)))
    assert(store.batchLanded("t", 100011L) && !store.batchLanded("t", 50000L))
  }

  test("a failed read of a PRESENT manifest fails loudly, never as row duplication") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.flaky.impl", classOf[FlakyReadFs].getName)
    hc.set("fs.AbstractFileSystem.flaky.impl", classOf[FlakyReadAbstractFs].getName)
    val root = "flaky://" + newRoot()
    // flaky is an unknown scheme (declared non-atomic) → single-writer
    val store = new RelationStore(spark, root,
      deltaFoldEvery = 3, concurrentWriters = false)
    // land with a gap so the fold's manifest records absorbed ranges
    Seq(0L, 1L, 3L).foreach(i => store.appendDelta(df(Seq((i, s"x$i"))), "t", i))
    assert(store.read("t").count() == 3)
    FlakyReadFs.failSubstring = "_manifest.json"
    try {
      // treating the unreadable manifest as ABSENT would read no delta
      // as absorbed, and a fallback to the live deltas would union their
      // files over the entries that already carry them — silent
      // duplication; the store must name the file and stop instead
      val e = intercept[IllegalStateException](store.read("t").count())
      assert(e.getMessage.contains("_manifest.json") &&
        e.getMessage.contains("refusing"), e.getMessage)
    } finally FlakyReadFs.failSubstring = ""
    // with reads healthy again the table is intact
    assert(store.read("t").count() == 3)
  }

  test("out-of-domain directory-lock coordinator: chaos storm on a non-atomic store") {
    // THE deployment shape the coordinator seam exists for: the store
    // root is on a scheme with NO atomic create-no-overwrite (mockobj,
    // standing in for plain S3), and arbitration happens in a SEPARATE
    // domain — a lock directory on the local filesystem shared by all
    // writers. reserve() must still materialize the store-side marker
    // (GC's reservedLive reads its mtime) — the full gapped-id storm
    // plus retention exercises exactly that contract.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockobj.impl", classOf[MockObjectStoreFs].getName)
    hc.set("fs.AbstractFileSystem.mockobj.impl",
      classOf[MockObjectStoreAbstractFs].getName)
    val root = "mockobj://" + newRoot()
    val lockDir = new HPath(
      java.nio.file.Files.createTempDirectory("graft_locks").toUri.toString)
    val conf = spark.sessionState.newHadoopConf()
    def mkStore(foldEvery: Int): RelationStore = {
      val storeFs = new HPath(root).getFileSystem(conf)
      new RelationStore(spark, root, deltaFoldEvery = foldEvery,
        coordinator = Some(new graft.exec.DirectoryLockCoordinator(
          lockDir, conf, storeFs)))
    }
    val stores = (0 until 3).map(_ => mkStore(4))
    val perThread = 8
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    inParallel(stores.zipWithIndex.map { case (st, t) =>
      () => {
        val rnd = new scala.util.Random(2000 + t)
        val ids = (0 until perThread).map(k => (t + 3 * k).toLong)
        val (now, late) = ids.partition(_ => rnd.nextInt(4) > 0)
        def land(id: Long): Unit = {
          assert(st.appendDelta(df(Seq((id, s"t$t"))), "t", id), s"fresh id $id must land")
          landed.add(id)
          assert(!st.appendDelta(df(Seq((id, "dup"))), "t", id), s"replay of $id must skip")
        }
        now.foreach { id =>
          land(id)
          rnd.nextInt(6) match {
            case 0 => st.foldDeltas("t")
            case 1 => st.vacuum("t")
            case 2 => st.compact("t")
            case _ => ()
          }
        }
        late.foreach(land)
      }
    }: _*)
    val readerFs = new HPath(root).getFileSystem(conf)
    val fresh = mkStore(4)
    fresh.foldDeltas("t")
    val got = fresh.read("t").collect().map(_.getLong(0)).sorted.toSeq
    import scala.jdk.CollectionConverters._
    val want = landed.iterator().asScala.map(_.toLong).toSeq.sorted
    assert(want.size == 3 * perThread, s"every id must have landed: ${want.size}")
    assert(got == want, s"extra=${got.diff(want)} missing=${want.diff(got)}")
    // concurrent full writes arbitrated by the external domain commit a
    // linear chain too (the versioned-commit half of the protocol)
    val (wa, wb) = (mkStore(64), mkStore(64))
    inParallel(
      () => wa.write(df(Seq((1L, "A"))), "u"),
      () => wb.write(df(Seq((2L, "B"))), "u"))
    assert(fresh.versions("u").size == 2)
    assert(mkStore(64).read("u").count() == 1)
    // quiesced retention releases BOTH domains: no store markers, no locks
    val sweeper = new RelationStore(spark, root, tornRetainMs = 0L,
      coordinator = Some(new graft.exec.DirectoryLockCoordinator(
        lockDir, conf, readerFs)))
    sweeper.vacuum("t", keepLast = 1)
    sweeper.vacuum("u", keepLast = 1)
    assert(sweeper.read("t").count() == want.size)
    val lockFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(new java.net.URI(lockDir.toString)))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(lockFiles.isEmpty, s"leaked external locks: $lockFiles")
  }

  test("stranded external lock files are reclaimed past the age horizon") {
    // the two crash windows: (a) between lock-win and marker
    // materialization, (b) between release's marker delete and its lock
    // delete — both leave a lock file whose arbitrated marker is absent
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockobj.impl", classOf[MockObjectStoreFs].getName)
    hc.set("fs.AbstractFileSystem.mockobj.impl",
      classOf[MockObjectStoreAbstractFs].getName)
    val root = "mockobj://" + newRoot()
    val lockDir = new HPath(
      java.nio.file.Files.createTempDirectory("graft_locks_gc").toUri.toString)
    val conf = spark.sessionState.newHadoopConf()
    val storeFs = new HPath(root).getFileSystem(conf)
    val coord = new graft.exec.DirectoryLockCoordinator(lockDir, conf, storeFs)
    def lockNames(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(
        java.nio.file.Paths.get(new java.net.URI(lockDir.toString)))
        .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    }
    // simulate crash window (b): win + materialize, then lose only the
    // marker (release's first delete landed, the crash hit before the
    // second) — equivalently window (a)'s end state
    val stranded = new HPath(root + "/locksgc/_rsv_stranded")
    assert(coord.reserve(stranded, "tok-a"))
    assert(storeFs.delete(stranded, false))
    // a LIVE reservation for contrast: marker present (heartbeats
    // refresh the MARKER, so lock-file age alone must never reclaim it)
    val live = new HPath(root + "/locksgc/_rsv_live")
    assert(coord.reserve(live, "tok-b"))
    assert(lockNames().size == 2)
    // even at horizon 0, marker-present locks survive; the stranded one goes
    assert(coord.reclaimStranded(0L) == 1)
    assert(lockNames().size == 1, s"locks after reclaim: ${lockNames()}")
    assert(storeFs.exists(live))
    // idempotent: nothing else is provably stranded
    assert(coord.reclaimStranded(0L) == 0)
    // the store's GC pass routes the reclaim: strand another lock, then
    // vacuum a real table on a store built with tornRetainMs = 0
    val store = new RelationStore(spark, root, tornRetainMs = 0L,
      coordinator = Some(coord))
    store.write(df(Seq((1L, "A"))), "t")
    store.write(df(Seq((2L, "B"))), "t")
    val stranded2 = new HPath(root + "/locksgc/_rsv_stranded2")
    assert(coord.reserve(stranded2, "tok-c"))
    assert(storeFs.delete(stranded2, false))
    store.vacuum("t", keepLast = 1)
    assert(lockNames().size == 1,
      s"vacuum must sweep the stranded lock and keep the live one: ${lockNames()}")
    assert(storeFs.exists(live))
    // release still clears both domains for the live reservation
    coord.release(live)
    assert(lockNames().isEmpty, s"leaked locks: ${lockNames()}")
    assert(store.read("t").count() == 1)
  }

  test("timestamp time travel resolves the newest commit at-or-before; age vacuum retains") {
    val root = newRoot()
    val store = new RelationStore(spark, root, retainVersions = 10)
    store.write(df(Seq((1L, "A"))), "t") // v0
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    store.write(df(Seq((2L, "B"))), "t") // v1
    // "as of yesterday" resolves to the newest commit AT OR BEFORE the
    // instant — the Delta/Iceberg timestamp-travel contract
    assert(store.readAsOf("t", between).first().getString(1) == "A")
    assert(store.readAsOf("t", System.currentTimeMillis()).first().getString(1) == "B")
    // an instant predating every retained snapshot is a real error, not
    // a silent earliest-version read
    val e = intercept[IllegalStateException](store.readAsOf("t", between - 600_000L))
    assert(e.getMessage.contains("no committed version"), e.getMessage)
    val Seq(v0, v1) = store.versions("t")
    assert(store.commitTimestamp("t", v0).get <= store.commitTimestamp("t", v1).get)
    assert(store.versionAsOf("t", between).contains(v0))
    // age-based retention: a generous horizon retains BOTH versions
    // even at keepLast=1 (versions inside the horizon stay travelable)…
    assert(store.vacuum("t", keepLast = 1, olderThanMs = Some(3_600_000L)) == 0)
    assert(store.versions("t").size == 2)
    assert(store.readAsOf("t", between).first().getString(1) == "A")
    // …and a zero horizon trims to the pointer floor, which always
    // survives regardless of age
    assert(store.vacuum("t", keepLast = 1, olderThanMs = Some(0L)) == 1)
    assert(store.versions("t") == Seq(v1))
    assert(store.read("t").first().getString(1) == "B")
  }

  test("contended many-writer burst settles into a linear readable chain") {
    val root = newRoot()
    val writers = (0 until 4).map(_ => new RelationStore(spark, root))
    inParallel(writers.zipWithIndex.map { case (w, i) =>
      () => (0 until 3).foreach(r => w.write(df(Seq((i * 10L + r, s"w$i-r$r"))), "t"))
    }: _*)
    val fresh = new RelationStore(spark, root)
    val vs = fresh.versions("t")
    assert(vs == vs.sorted && vs.nonEmpty)
    // head = exactly one writer's final round (single full row)
    val head = fresh.read("t").collect()
    assert(head.length == 1, s"full write must fully replace, got ${head.length} rows")
    assert(head.head.getString(1).matches("w\\d-r2"), head.head.toString)
    val sweeper = new RelationStore(spark, root, tornRetainMs = 0L)
    sweeper.vacuum("t", keepLast = 1)
    assert(markers(root, "t").isEmpty)
    // every data file still on disk is referenced by the retained head
    val referenced = sweeper.read("t").inputFiles.map { f =>
      val marker = "/main/t/"
      f.substring(f.lastIndexOf(marker) + marker.length)
    }.toSet
    val onDisk = dataFiles(root, "t")
    assert(onDisk.subsetOf(referenced ++ onDisk.filter(_.startsWith("delta/"))),
      s"unreferenced leftovers: ${onDisk -- referenced}")
  }
}
