package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.artifacts.Json

/** State shared by one workload run: its inputs, the tracer and Spark
  * listener of a traced run, the timed operations and the output checks.
  * Everything it records goes to `<work>/raw.json` for run.py to reduce.
  */
final class Ctx(val seed: Long, val seconds: Double, val traced: Boolean,
    val work: Path, val cpus: Int, val corpus: Path) {
  val tracer = new Tracer
  val jobs = new SparkJobs
  val ops = ArrayBuffer[Map[String, Any]]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val extra = scala.collection.mutable.Map[String, Any]()
  var firstOpMs = 0L
  var sentinelMs = 0.0
  val machine = ArrayBuffer[Map[String, Any]]()
  private var traceIds = 0L
  private var sparkSession: Option[SparkSession] = None

  def inputs(name: String): Path = work.resolve("inputs").resolve(name)
  def lines(name: String): Seq[String] = {
    Files.readAllLines(inputs(name)).asScala.toSeq.filter(_.nonEmpty)
  }

  def spark: SparkSession = sparkSession.getOrElse {
    val s = graft.GraftSession.local(cpus)
    s.sparkContext.addSparkListener(jobs)
    sparkSession = Some(s)
    s
  }
  def sparkGroups: Map[String, Map[String, Any]] =
    sparkSession.map(s => jobs.byGroup(s.sparkContext)).getOrElse(Map.empty)
  def stop(): Unit = sparkSession.foreach(_.stop())

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** Machine-state sample; its own wall time is kept out of `setup_s`. */
  def sampleMachine(at: String): Unit = {
    val t0 = System.nanoTime()
    machine += (Machine.sample(cpus) + ("at" -> at))
    if (firstOpMs == 0L) sentinelMs += (System.nanoTime() - t0) / 1e6
  }

  /** Sets whether the next passes are traced (only in a traced run). */
  def tracing(on: Boolean): Unit = {
    tracer.on = on && traced
    jobs.on = on && traced
  }

  /** One timed operation of the closed loop. A failure is recorded, never
    * dropped: run.py counts it as attempted and failed.
    */
  def op(kind: String, fields: Map[String, Any] = Map.empty)(
      body: => Map[String, Any]): Boolean = {
    if (firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
    traceIds += 1
    tracer.trace = traceIds
    val t0 = System.nanoTime()
    val (ok, more, err) =
      try tracer.span(s"op.$kind") { (true, body, "") }
      catch { case e: Exception => (false, Map.empty[String, Any], String.valueOf(e.getMessage).take(300)) }
    val t1 = System.nanoTime()
    ops += (fields ++ more ++ Map("kind" -> kind, "trace" -> traceIds,
      "traced" -> tracer.on, "start_ns" -> t0, "end_ns" -> t1, "ok" -> ok, "err" -> err))
    ok
  }

  /** Runs `passes` untimed passes, inside set-up: JIT and Spark codegen
    * caches fill here instead of inside the timed passes.
    */
  def warm(passes: Int)(pass: Int => Unit): Unit =
    extra("warm_pass_s") = (0 until passes).map { i =>
      val t0 = System.nanoTime(); pass(i); (System.nanoTime() - t0) / 1e9
    }.toList

  def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong

  def record: Map[String, Any] = Map(
    "ops" -> ops.toList, "checks" -> checks.toList,
    "spans" -> tracer.all.map(_.toMap),
    "spark_groups" -> sparkGroups,
    "first_op_ms" -> firstOpMs, "sentinel_ms" -> sentinelMs,
    "machine" -> machine.toList, "threads" -> cpus) ++ extra
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --cpus N --corpus DIR`: runs one workload over the inputs
  * run.py generated under DIR/inputs and writes DIR/raw.json.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = new Ctx(a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Paths.get(a("work")), a("cpus").toInt, Paths.get(a("corpus")))
    val (stealBefore, totalBefore) = Machine.steal()
    c.sampleMachine("before")
    try {
      a("workload") match {
        case "project" => ProjectWorkload.run(c)
        case "battery" => BatteryWorkload.run(c)
        case "calibrate" => BatteryWorkload.calibrate(c)
        case "corpus" => Corpus.ensure(c)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      c.tracing(false)
      c.sampleMachine("after")
      val (stealAfter, totalAfter) = Machine.steal()
      c.extra("steal_jiffies") = stealAfter - stealBefore
      c.extra("total_jiffies") = totalAfter - totalBefore
      Files.writeString(c.work.resolve("raw.json"), Json.write(c.record))
    } finally c.stop()
  }
}

/** The sf0.1 tables the Spark workloads read. ScaleGen's seed is fixed,
  * so the corpus is the same for every run of one build: run.py generates
  * it once per build (workload `corpus`), before any timed run starts,
  * and it is kept beside the build.
  */
object Corpus {
  val Sf = 0.1

  def ensure(c: Ctx): String = {
    if (!Files.exists(c.corpus.resolve("_READY"))) {
      Files.createDirectories(c.corpus.getParent)
      val tmp = Files.createTempDirectory(c.corpus.getParent, "gen-")
      graft.tools.ScaleGen.generate(c.spark, Sf, tmp.toString)
      Files.writeString(tmp.resolve("_READY"), "")
      try Files.move(tmp, c.corpus, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // another run got there first
        case _: java.nio.file.FileSystemException if Files.exists(c.corpus.resolve("_READY")) =>
          deleteTree(tmp)
      }
    }
    c.corpus.toString
  }

  /** Copies one table into the run's own dir, where it may be appended to. */
  def copy(c: Ctx, table: String, to: Path): Unit = {
    val from = Paths.get(ensure(c), s"$table.parquet")
    Files.createDirectories(to.getParent)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString))
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}
