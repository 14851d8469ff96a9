package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The parquet source metadata memo: schemas, row counts and listing
  * fingerprints come from one per-path entry, so an unchanged table
  * loads without a footer-inference job, and a table rewritten in place
  * (even under the same file name) re-infers.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = GraftSession.local(4) }

  /** A scratch dir holding `t.parquet`, a single-file copy of `src`. */
  private def scratchTable(src: String): Path = {
    val dir = Files.createTempDirectory("graft_tables")
    Files.copy(Paths.get(s"$sf/$src.parquet"), dir.resolve("t.parquet"))
    dir
  }

  private def rewrite(dir: Path, src: String): Unit =
    Files.copy(Paths.get(s"$sf/$src.parquet"), dir.resolve("t.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  private def entriesFor(path: String): Int =
    Tables.memo.keySet.toArray(Array.empty[(String, Map[String, String])]).count(_._1 == path)

  test("a second load of an unchanged table runs zero Spark jobs, same schema") {
    val dir = scratchTable("region").toString
    val (first, inferJobs) = JobCount(spark)(Tables.load(spark, dir, "t"))
    assert(inferJobs >= 1, "the first load infers the schema with a footer job")
    val (second, jobs) = JobCount(spark)(Tables.load(spark, dir, "t"))
    assert(jobs == 0, "a memoized load must not read a footer")
    assert(second.schema == first.schema)
    assert(second.collect().toSet == first.collect().toSet)
  }

  test("a table rewritten in place under the same file name re-infers") {
    val d = scratchTable("region")
    val dir = d.toString
    val before = Tables.load(spark, dir, "t").schema
    assert(Tables.rowCount(spark, dir, "t") == 5L)
    val fp0 = Tables.listingFingerprint(spark, dir, "t")
    rewrite(d, "nation")
    val after = Tables.load(spark, dir, "t")
    assert(after.schema != before)
    assert(after.columns.toSeq == spark.read.parquet(s"$sf/nation.parquet").columns.toSeq)
    assert(after.count() == 25L)
    assert(Tables.rowCount(spark, dir, "t") == 25L)
    assert(Tables.listingFingerprint(spark, dir, "t") != fp0)
  }

  test("rewrites replace the path's entry: one entry after N rewrites") {
    val d = scratchTable("region")
    val dir = d.toString
    val path = s"$dir/t.parquet"
    Seq("nation", "supplier", "region", "nation").foreach { src =>
      rewrite(d, src)
      Tables.load(spark, dir, "t")
      Tables.rowCount(spark, dir, "t")
      Tables.loadFanout(spark, dir, "t")
      assert(entriesFor(path) == 1)
    }
    assert(Tables.rowCount(spark, dir, "t") == 25L)
  }

  test("events yields ts_us and ts_t through the memoized schema") {
    val first = Tables.load(spark, sf, "events")
    val (second, jobs) = JobCount(spark)(Tables.load(spark, sf, "events"))
    assert(jobs == 0)
    assert(second.columns.contains("ts_us") && second.columns.contains("ts_t"))
    val cols = Seq("ts_us", "ts_t")
    assert(second.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSet ==
      first.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSet)
  }

  test("dbt parquet sources read through the memo: a second registration runs no job") {
    import graft.core._
    import graft.exec.Sources
    val dir = scratchTable("nation").toString
    val src = SourceNode("raw", "nation", "p", s"$dir/t.parquet")
    val manifest = Manifest(Map.empty, Map(src.uniqueId -> src))
    Sources.registerAll(spark, manifest, Map.empty)
    val (_, jobs) = JobCount(spark)(Sources.registerAll(spark, manifest, Map.empty))
    assert(jobs == 0)
    assert(spark.table(Sources.viewName(src)).count() == 25L)
  }
}
