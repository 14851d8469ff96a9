package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify/Bench/tests/CLI all run with the
  * same Catalyst-friendly settings.
  *
  * Scale notes (the same config is what we'd ship to a 1000-executor
  * cluster, minus `master`):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting,
  *    which is what keeps the TPC-H-style joins healthy at 100 TB.
  *  - shuffle.partitions sized to the local core count here; on a real
  *    cluster this would be ~2-3x total cores and AQE coalesces down.
  *  - `nanosAsLong`: the `events` table carries TIMESTAMP(NANOS) parquet
  *    columns, which Spark's vectorized reader rejects; reading them as
  *    raw nanos-since-epoch longs keeps the scan vectorized and we convert
  *    with integer arithmetic (`ts div 1000`) — never through doubles,
  *    which cannot represent 1.7e18 exactly.
  */
object GraftSession {
  def tune(b: SparkSession.Builder, cpus: Int): SparkSession.Builder = b
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Respect the advisory partition SIZE when coalescing instead of
    // stopping at defaultParallelism (the default parallelismFirst=true
    // keeps every post-shuffle stage at >= 32 partitions here no matter
    // how few bytes flow through it). Each task costs a fixed ~10-15 ms
    // of dispatch + task-binary deserialization (measured: a 224k-row
    // groupBy over 64 partitions runs SLOWER than the same groupBy over
    // 100x the rows — the tax is per task, not per row), so tiny
    // shuffles at 32-64 tasks pay pure overhead. Sizing partitions by
    // bytes is exactly the guide §2.2 rule ("fewer, larger reduce
    // partitions... let AQE coalesce"), and the Spark tuning docs
    // recommend parallelismFirst=false in production; at 100 TB the
    // same setting yields bytes/64MB partitions — full parallelism
    // where there is data to justify it.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // Let AQE rewrite sort-merge joins to shuffled-hash at runtime when
    // every post-shuffle partition of the build side is ≤ 64 MB (guide
    // §3.1; the knob ships disabled). Runtime-size-gated, so it is
    // immune to the estimator blind spots this engine already works
    // around statically (candidateJoinPlan) — a genuinely large build
    // side keeps its sort-merge. A/B over the join-heavy family
    // (linkpred, q2/q21, minhash, ppjoin, equidepth): 10–25% faster
    // per query, no regressions (OPTIMIZATION_r16.md).
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
    // One shuffle file per map task (the serialized/Tungsten sort
    // writer) instead of the bypass-merge writer's one-file-PER-REDUCER
    // (numReducers creates + a concat per task: at 32 reduce partitions
    // a 64-task map stage touches 2k files for kilobytes of data —
    // measured ~50-130 ms CPU per task of pure writer overhead, guide
    // §2.2's per-block cost on the write side). SQL exchanges use a
    // relocatable serializer, so 0 routes them to UnsafeShuffleWriter —
    // the same writer any >200-partition shuffle at cluster scale
    // already uses; this aligns the small-partition-count case with it.
    .config("spark.shuffle.sort.bypassMergeThreshold", "0")
    // Shuffle/spill scratch on the fastest local storage available
    // (Spark's own guidance for spark.local.dir). This box's java
    // tmpdir is journaled ext4 on a virtual disk; /dev/shm is
    // memory-backed — the synthetic A/B (OPTIMIZATION_r16.md) measured
    // the tiny-shuffle stage tax at 3-6x between them. On a real
    // cluster this is the NVMe array via SPARK_LOCAL_DIRS, which
    // takes precedence over spark.local.dir by Spark's own rules.
    .config("spark.local.dir", GraftSession.localDirDefault)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    // partition columns read back as written (string) — type inference
    // would turn "2024-01-05" into DATE and the restoring cast would
    // then block partition pruning
    .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    // FAIR scheduling so the Runner's concurrent DAG nodes share
    // executors instead of FIFO-starving each other (SURVEY.md §3.1)
    .config("spark.scheduler.mode", "FAIR")
    // ObjectHashAggregate (TypedImperativeAggregate ops like
    // minhash_sig) falls back to SORT-BASED aggregation after only 128
    // in-memory groups by default — that silently turns the one-pass
    // signature scan into a full sort of every shingle row. 100k
    // groups × 256-byte buffers ≈ 25 MB/task: cheap insurance.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000")
    // runtime Bloom-filter join pushdown: a selective build side
    // injects a bloom predicate into the probe-side SCAN, so a 100 TB
    // fact table skips row groups that cannot match — free selectivity
    // the planner can only prove at runtime (PlanSpec pins it engages)
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "50MB")
    // engine Catalyst extensions: the custom function catalog (the only
    // path by which it reaches a session, newSession() children
    // included) and automatic range-join bucketing (inert until
    // spark.graft.rangeJoin.binSize is set)
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")

  private def localDirDefault: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm/spark-local"
    else System.getProperty("java.io.tmpdir")
  }

  /** Local session with N threads (driver/test entry points). */
  def local(cpus: Int): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
