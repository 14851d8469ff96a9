package graft.parser

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.core.FileHash

/** Partial-parsing gate (reference core/dbt/parser/partial.py:68 +
  * msgpack state manifest.py:778-941): cache the parsed project keyed
  * by every project file's checksum; when nothing changed, reload the
  * manifest from the cache; when ONLY content edits to root-project
  * model .sql, singular test .sql, analysis .sql or seed .csv files
  * changed, re-parse just those files into the cached project
  * ([[ProjectLoader.reparseFile]]) — the reference's headline "edit one
  * model of a 2,000-model project" case. SQL files go through the same
  * node builder a full parse uses, so a partial parse yields the
  * manifest a full parse of the same tree would; a seed edit refreshes
  * the seed's checksum.
  *
  * Anything with cross-file parse effects falls back to a full parse,
  * mirroring partial.py's own conservative scheduling: file adds or
  * deletes (selection/test wiring may change), yml/csv/py edits,
  * macro edits (every caller's expansion changes), package files,
  * dbt_project.yml / selectors.yml, cli-var changes, and models
  * targeted by unit tests with macro/var overrides (their
  * overrideCode was baked from the old model text).
  */
object PartialParse {
  private val CacheName = "partial_parse.bin"

  /** How a load was satisfied — surfaced in logs and pinned by
    * PartialParseSpec.
    */
  sealed trait Outcome
  case object Hit extends Outcome
  case object Full extends Outcome
  final case class Partial(reparsed: Seq[String]) extends Outcome

  def fileHashes(projectDir: String): Map[String, String] = {
    val root = Paths.get(projectDir)
    if (!Files.exists(root)) return Map.empty
    def hashTree(base: Path, prefix: String): Map[String, String] =
      Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => (p, base.relativize(p).toString))
        .filter { case (_, rel) =>
          // output directories are matched INSIDE the hashed tree: the
          // tree's own location may lie under a `target` or `warehouse`
          val r = "/" + rel
          (r.endsWith(".sql") || r.endsWith(".yml") || r.endsWith(".yaml") ||
            r.endsWith(".csv") || r.endsWith(".py")) &&
            !r.contains("/target/") && !r.contains("/warehouse/")
        }
        .map { case (p, rel) => (prefix + rel) -> FileHash.of(Files.readString(p)).checksum }
        .toMap
    // local dependency packages may live OUTSIDE the project tree —
    // their edits must invalidate the cache too
    val pkgDirs: Seq[Path] = ProjectLoader.localPackageDirs(root)
    hashTree(root, "") ++ pkgDirs.filter(Files.exists(_)).zipWithIndex.flatMap {
      case (d, i) => hashTree(d, s"__pkg${i}__/")
    }
  }

  /** Load with cache; second element reports whether the load avoided a
    * full parse (cache hit or fine-grained re-parse), mirroring the
    * reference's partial-parse events.
    */
  def loadCached(
      projectDir: String,
      cliVars: Map[String, String],
      targetDir: String): (ProjectLoader.Project, Boolean) = {
    val (p, outcome) = loadCachedDetailed(projectDir, cliVars, targetDir)
    (p, outcome != Full)
  }

  def loadCachedDetailed(
      projectDir: String,
      cliVars: Map[String, String],
      targetDir: String): (ProjectLoader.Project, Outcome) = {
    val cachePath = Paths.get(targetDir, CacheName)
    val hashes = fileHashes(projectDir)
    def full(): (ProjectLoader.Project, Outcome) = {
      val project = ProjectLoader.resolveRefs(ProjectLoader.load(projectDir, cliVars))
      writeCache(cachePath, hashes, cliVars, project)
      (project, Full)
    }
    if (!Files.exists(cachePath)) return full()
    val cached =
      try {
        val in = new ObjectInputStream(new ByteArrayInputStream(Files.readAllBytes(cachePath)))
        val cachedHashes = in.readObject().asInstanceOf[Map[String, String]]
        val cachedVars = in.readObject().asInstanceOf[Map[String, String]]
        val cachedProject = in.readObject().asInstanceOf[ProjectLoader.Project]
        Some((cachedHashes, cachedVars, cachedProject))
      } catch {
        case _: Exception => None // cache unreadable (version skew) → full parse
      }
    cached match {
      case Some((cachedHashes, cachedVars, cachedProject)) if cachedVars == cliVars =>
        if (cachedHashes == hashes) (cachedProject, Hit)
        else partialDelta(cachedHashes, hashes, cachedProject) match {
          case Some(changed) =>
            try {
              val patched = changed.foldLeft(cachedProject) { (p, rel) =>
                ProjectLoader.reparseFile(p, projectDir, cliVars, rel)
              }
              writeCache(cachePath, hashes, cliVars, patched)
              (patched, Partial(changed))
            } catch {
              case _: Exception => full() // any re-parse surprise → full parse
            }
          case None => full()
        }
      case _ => full()
    }
  }

  /** The changed files iff EVERY change is a content edit to a file
    * class with a single-file re-parser (reference partial.py
    * schedules per file class): root model .sql (no override-bearing
    * unit test — its overrideCode was baked from the old text), seed
    * .csv (checksum-only refresh), singular test .sql, or analysis
    * .sql. Unit-test fixtures (under tests/fixtures/) and everything
    * else with cross-file parse effects ⇒ None ⇒ full parse.
    */
  private def partialDelta(
      old: Map[String, String],
      nw: Map[String, String],
      p: ProjectLoader.Project): Option[Seq[String]] = {
    if (old.keySet != nw.keySet) return None // adds/deletes rewire the graph
    val changed = nw.keys.filter(k => old(k) != nw(k)).toSeq.sorted
    def baseName(rel: String, ext: String): String =
      rel.substring(rel.lastIndexOf('/') + 1).stripSuffix(ext)
    def nodeIs[T <: graft.core.Node : scala.reflect.ClassTag](uid: String): Boolean =
      p.manifest.nodes.get(uid).exists {
        n => scala.reflect.classTag[T].runtimeClass.isInstance(n)
      }
    def eligible(rel: String): Boolean = {
      val isModel = rel.startsWith("models/") && rel.endsWith(".sql") && {
        val mname = baseName(rel, ".sql")
        nodeIs[graft.core.ModelNode](s"model.${p.name}.$mname") &&
          !p.manifest.unitTests.values.exists(u => u.model == mname && u.overrideCode.isDefined)
      }
      val isSeed = rel.startsWith("seeds/") && rel.endsWith(".csv") &&
        nodeIs[graft.core.SeedNode](s"seed.${p.name}.${baseName(rel, ".csv")}")
      val isSingularTest = rel.startsWith("tests/") && rel.endsWith(".sql") &&
        !rel.startsWith("tests/fixtures/") &&
        nodeIs[graft.core.TestNode](s"test.${p.name}.${baseName(rel, ".sql")}")
      val isAnalysis = (rel.startsWith("analyses/") || rel.startsWith("analysis/")) &&
        rel.endsWith(".sql") &&
        nodeIs[graft.core.AnalysisNode](s"analysis.${p.name}.${baseName(rel, ".sql")}")
      isModel || isSeed || isSingularTest || isAnalysis
    }
    if (changed.nonEmpty && changed.forall(eligible)) Some(changed) else None
  }

  private def writeCache(
      cachePath: Path,
      hashes: Map[String, String],
      cliVars: Map[String, String],
      project: ProjectLoader.Project): Unit = {
    try {
      Files.createDirectories(cachePath.getParent)
      val bos = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bos)
      out.writeObject(hashes)
      out.writeObject(cliVars)
      out.writeObject(project)
      out.close()
      Files.write(cachePath, bos.toByteArray)
    } catch {
      case e: Exception =>
        System.err.println(s"[partial-parse] cache write failed: ${e.getMessage}")
    }
  }
}
