package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** `battery`: a seeded draw from `SparkEntry.queries` over the sf0.1
  * [[Corpus]]. Each query is built, planned and fully materialized, so
  * every column is computed (a `.count()` would let Catalyst prune
  * columns away).
  */
object BatteryWorkload {
  /** Timed passes per run at least; a fixed floor keeps the sample count,
    * and so the tail percentile, the same from run to run. */
  private val MinPasses = 3
  /** Pass times measured on a 4-core x86 VM (s): 25.5, 4.9, 3.8, 3.4,
    * 3.2, 3.3. The first pass compiles and fills the resident slot; after
    * the fourth the times are flat within the machine's noise. */
  private val WarmPasses = 4

  /** Builds the query's DataFrame, plans it, then runs its executed plan
    * to completion, dropping every row as the noop sink does. Planning and
    * execution use the one QueryExecution, so `plan_ns` is the planning of
    * the plan that runs.
    */
  def runQuery(c: Ctx, spark: SparkSession, dir: String, q: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val fn = graft.SparkEntry.queries.getOrElse(q,
      throw new NoSuchElementException(s"no query named $q"))
    sc.setJobGroup(s"build|$q", q)
    val t0 = System.nanoTime()
    val df = try c.tracer.span("operators.build")(fn(spark, dir)) finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    sc.setJobGroup(s"exec|$q", q)
    try {
      val qe = df.queryExecution
      val plan = c.tracer.span("spark.plan")(qe.executedPlan)
      val t2 = System.nanoTime()
      c.tracer.span("spark.exec")(SQLExecution.withNewExecutionId(qe, Some("noop")) {
        plan.execute().foreach(_ => ())
      })
      Map("query" -> q, "build_ns" -> (t1 - t0), "plan_ns" -> (t2 - t1),
        "exec_ns" -> (System.nanoTime() - t2))
    } finally sc.clearJobGroup()
  }

  /** Writes each query's result as parquet plus its oracle SQL, for the
    * DuckDB comparison run.py makes after the workload.
    */
  def dumpOutputs(c: Ctx, spark: SparkSession, dir: String, names: Seq[String],
      limit: (() => Unit) => Unit = f => f()): Unit = {
    val out = c.work.resolve("outputs")
    val oracles = names.map { q =>
      try limit(() => graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
        .parquet(out.resolve(q).toString))
      catch { case e: Exception => c.check(s"battery.$q.output", ok = false, String.valueOf(e.getMessage).take(300)) }
      q -> graft.SparkEntry.oracleSql.get(q)
    }.toMap
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"), graft.artifacts.Json.write(oracles))
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val dir = Corpus.ensure(c)
    val draw = c.lines("draw.txt")
    def pass(timed: Boolean, p: Int): Unit = draw.foreach { q =>
      if (timed) c.op("query", Map("pass" -> p, "query" -> q))(runQuery(c, spark, dir, q))
      else try runQuery(c, spark, dir, q) catch { case _: Exception => () }
    }
    // a fixed count, since a stop at the first two close passes can end on
    // a plateau of the JIT's warm-up. The second warm pass writes the
    // outputs the oracle check reads: the resident slot is filled by then,
    // so the check sees the cache-hit path that the timed passes run.
    c.warm(WarmPasses) { i =>
      if (i == 1) dumpOutputs(c, spark, dir, draw.distinct) else pass(timed = false, -1)
    }
    val resident0 = graft.operators.ResidentCache.counters
    val end = c.deadline()
    var p = 0
    // a traced run alternates untraced and traced passes, so the two
    // halves see the same machine state and their ratio is the overhead
    while (p < MinPasses || System.nanoTime() < end) {
      c.tracing(p % 2 == 1)
      pass(timed = true, p)
      p += 1
    }
    c.tracing(false)
    val resident1 = graft.operators.ResidentCache.counters
    c.extra("resident") = resident1.map { case (k, v) => k -> (v - resident0.getOrElse(k, 0L)) }
    c.extra("retained_heap_mb") = Machine.retainedHeapMb()
    if (c.traced) {
      // sources layer: Tables.load of every generated table, each under
      // its own job group so the listener counts the jobs a load runs
      c.tracing(true)
      graft.sources.Tables.all.foreach { t =>
        spark.sparkContext.setJobGroup(s"sources|$t", t)
        try c.tracer.span("sources.load")(graft.sources.Tables.load(spark, dir, t))
        finally spark.sparkContext.clearJobGroup()
      }
      c.tracing(false)
    }
  }

  /** Times every registered query (one cold and one warm run) and dumps
    * its output, so calibrate.py can rebuild battery_catalog.tsv. A query
    * still running after `CalibrateLimitMs` is cancelled and left out.
    */
  def calibrate(c: Ctx): Unit = {
    val spark = c.spark
    val dir = Corpus.ensure(c)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val timer = new java.util.Timer(true)
    def limited[A](body: => A): A = {
      val cancel = new java.util.TimerTask { def run(): Unit = spark.sparkContext.cancelAllJobs() }
      timer.schedule(cancel, CalibrateLimitMs)
      try body finally cancel.cancel()
    }
    c.tracing(true)
    val ok = names.filter { q =>
      (0 until 2).forall(rep => limited(c.op("query", Map("rep" -> rep, "query" -> q))(
        runQuery(c, spark, dir, q))))
    }
    c.tracing(false)
    dumpOutputs(c, spark, dir, ok, f => limited(f()))
  }

  private val CalibrateLimitMs = 10000L
}
