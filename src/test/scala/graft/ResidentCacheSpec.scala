package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CurateOps, GraphOps, ResidentCache}

/** Keyed operator memos are stamped by the listing of the tables they
  * read: rewriting `documents` in place — same file name — re-memoizes
  * the DSIR model and the cluster fixpoint, and each slot keeps one
  * entry however many rewrites it sees.
  */
class ResidentCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = GraftSession.local(4) }

  /** A single-file parquet copy of the corpus without every third doc. */
  private lazy val variant: Path = {
    val out = Files.createTempDirectory("graft_rc_variant").resolve("out").toString
    spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") % 3 =!= 0)
      .coalesce(1).write.parquet(out)
    Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet")).findFirst().get
  }

  private val original = Paths.get(s"$sf/documents.parquet")

  private def corpusDir(docs: Path): Path = {
    val d = Files.createTempDirectory("graft_rc")
    Files.copy(docs, d.resolve("documents.parquet"))
    d
  }

  private def rewrite(dir: Path, docs: Path): Unit =
    Files.copy(docs, dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** (DSIR selection, duplicate clusters) of the corpus under `dir`. */
  private def results(dir: Path): (Set[Seq[Any]], Set[Seq[Any]]) =
    (rows(CurateOps.curateDsirSelect(spark, dir.toString)),
      rows(GraphOps.dedupClusters(spark, dir.toString)))

  test("a documents table rewritten in place re-memoizes DSIR and the cluster fixpoint") {
    val a = corpusDir(original)
    val before = results(a)
    rewrite(a, variant)
    val after = results(a)
    // the reference: a first computation over a copy of the new file in
    // a dir no memo has seen
    val fresh = results(corpusDir(variant))
    assert(fresh._1 != before._1 && fresh._2 != before._2,
      "the variant corpus must change both results")
    assert(after._1 == fresh._1, "DSIR served the model trained on the old file")
    assert(after._2 == fresh._2, "dedupClusters served the fixpoint of the old file")
  }

  test("after N rewrites each slot keeps one entry") {
    val a = corpusDir(original)
    results(a)
    val live = ResidentCache.liveEntries(spark.sparkContext)
    Seq(variant, original, variant, original).foreach { docs =>
      rewrite(a, docs)
      results(a)
      assert(ResidentCache.liveEntries(spark.sparkContext) == live,
        "a rewrite must replace its slots' entries, not add to them")
    }
  }
}
