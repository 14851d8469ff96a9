package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Skew-resilience utilities (SURVEY.md §"Optimize for scale":
  * "skewed keys → salting or AQE skew-join").
  *
  * AQE's skew-join split handles joins; aggregation hot keys are the
  * other classic skew shape — one group holding 30% of a 100 TB table
  * funnels through a single reducer. [[saltedAgg]] is the standard
  * two-phase fix: pre-aggregate on (key, salt) so every hot key fans
  * out over `buckets` reducers, then combine the partials. Counts and
  * sums are exact under any salting (associative + commutative), so
  * the result is oracle-identical to the direct groupBy.
  */
object ScaleOps {
  /** Two-phase salted count+sum aggregation. The salt derives from the
    * partition id — zero extra hashing, stable within a task, and the
    * partial fan-out matches the actual data distribution.
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      sumCol: Column,
      buckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id(), lit(buckets)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__n"), sum(sumCol).as("__s"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("sum_value_cents"))
  }

  /** Oracle-checked demonstration: salted two-phase aggregation over
    * events produces exactly the direct GROUP BY result.
    */
  def qSkewSaltedAgg(s: SparkSession, dir: String): DataFrame =
    saltedAgg(
      Tables.load(s, dir, "events"),
      Seq("event_type"),
      Relational.cents(col("value")))
      .select(col("event_type"), col("n"),
        col("sum_value_cents").cast("long").as("sum_value_cents"))

  /** Global heavy hitters WITHOUT a groupBy(item) shuffle: the
    * Misra–Gries sketch ([[graft.functions.FreqSketch]]) aggregates
    * map-side into <=k-entry buffers, so the exchange carries one tiny
    * sketch per partition no matter the item cardinality. Emits the
    * sketch rows next to exact counts (computed here at test scale);
    * OpsSpec bounds the estimates. Rows-only driver check — the
    * surviving counter SET below the guarantee threshold is
    * partitioning-dependent by design.
    */
  def qHeavyUsers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val sk = e.agg(graft.functions.FreqSketch.freqSketch(col("user_id"), 32).as("sk"))
      .select(explode(col("sk")).as("x"))
      .select(col("x.item").as("user_id"), col("x.est").as("est"))
    val exact = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_true"))
    sk.join(exact, Seq("user_id"))
  }

  /** Approximate distinct users per event type via Spark's native
    * HLL++ (`approx_count_distinct`, rsd 1%), emitted next to the
    * exact distinct count. The sketch aggregates map-side into
    * fixed-size register blocks — the exchange carries one block per
    * (group, partition) regardless of user cardinality, which is the
    * 100 TB shape for COUNT(DISTINCT) over high-cardinality keys
    * (the exact form below needs the full (type, user) pair stream
    * shuffled before its second aggregate; at billions of users the
    * sketch is the only one that finishes). Rows-only driver check
    * like q_heavy_users: estimates are engine-specific; OpsSpec
    * bounds the relative error and proves partitioning invariance
    * (HLL register merge is a pointwise max — commutative).
    */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val approx = e.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("est_users"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    approx.join(exact, Seq("event_type"))
  }

  /** Point-frequency estimates from a Count-min sketch
    * ([[graft.functions.CountMin]]) next to exact counts: the corpus
    * token stream folds into ONE d×w counter table (map-side combined,
    * pointwise-merged — the exchange carries d*w longs per partition,
    * never a per-item shuffle), probes are the 20 lexically-smallest
    * tokens, and each estimate is the min over the d addressed
    * counters. Unlike the Misra–Gries survivor set the sketch content
    * is partitioning-INdependent (pointwise sums commute), so est is
    * deterministic and the query is oracle-hashed, with the CMS
    * guarantee est >= n_true visible in the output. Width 16 here
    * (vocabulary-scale, forces real collisions so the test is not
    * trivially exact); production default is [[graft.functions
    * .CountMin.DefaultWidth]].
    */
  def qCmsCounts(s: SparkSession, dir: String, w: Int = 16): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(explode(split(TextOps.normalized(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
    val sketch = toks.agg(graft.functions.CountMin.cmsSketch(col("t"), w).as("cms"))
    val probes = toks.groupBy(col("t")).agg(count(lit(1)).as("n_true"))
      .orderBy(col("t")).limit(20)
    val ests = (0 until graft.functions.CountMin.Depth).map { r =>
      element_at(col("cms"),
        (pmod(DedupOps.md5Hash64(concat(lit(s"$r:"), col("t"))), lit(w.toLong))
          + lit(r.toLong * w) + 1L).cast("int"))
    }
    probes.crossJoin(broadcast(sketch))
      .select(col("t").as("token"), col("n_true"), least(ests: _*).as("est"))
  }

  /** Salted join for skewed keys: replicate the dimension side `buckets`
    * times (explode over the salt domain) and salt the fact side from
    * its partition id, so one hot key spreads over `buckets` reducers
    * instead of funnelling through one. Exact — every fact row still
    * matches its dimension row exactly once (on (key, salt)).
    *
    * This is the MANUAL fix for join skew; AQE's runtime skew split
    * (`spark.sql.adaptive.skewJoin`) handles the same shape
    * transparently when partition-size stats reveal it. The salted form
    * matters when the skew is known ahead of time (a null-heavy foreign
    * key, a celebrity user) or the join is sort-merge with a skewed
    * build side AQE can't split.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      buckets: Int = 16): DataFrame = {
    val saltedFact = fact.withColumn("__salt", pmod(spark_partition_id(), lit(buckets)))
    val repDim = dim.withColumn("__salt", explode(array((0 until buckets).map(lit): _*)))
    saltedFact.join(repDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Oracle-checked demonstration: per-event-type totals joined through
    * a salted key join equal the plain join's result. event_type is a
    * genuinely hot key (5 distinct values over the whole events table —
    * an unsalted shuffle join would use at most 5 reducers).
    */
  def qSkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(s, dir, "events")
    // exact integer mean test (cents * n > sum) — a float AVG could
    // flip boundary rows between engines
    val typeDim = events.groupBy(col("event_type"))
      .agg(sum(Relational.cents(col("value"))).as("type_sum_cents"),
        count(lit(1)).as("type_n"))
    saltedJoin(events, typeDim, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((Relational.cents(col("value")) * col("type_n") > col("type_sum_cents"))
          .cast("long")).as("n_above_avg"))
      .select(col("event_type"), col("n"), col("n_above_avg"))
  }

  /** Bits per dimension in the Z-order interleave (8 → a 16-bit
    * Z-value over a 256×256 normalized grid); the file id is the top
    * [[ZorderFileBits]] bits of the Z-value, i.e. a fixed Z-prefix
    * region of the 2-D key space. Dimensions are range-normalized to
    * the grid first (integer min/max binning) — raw keys rarely fill
    * their bit-width, and Z-prefix regions are only meaningful over
    * the occupied range.
    */
  val ZorderBits = 8
  val ZorderFileBits = 6

  /** Morton/Z-order bit interleave of two non-negative integer columns:
    * bit i of x lands at position 2i, bit i of y at 2i+1. Pure shift/
    * mask/or — codegen'd, row-parallel, zero shuffles to compute.
    */
  def zValue(x: Column, y: Column, bits: Int = ZorderBits): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-order data-layout assignment (the engine-side analogue of Delta
    * OPTIMIZE ZORDER BY / the classic UB-tree layout): assign every
    * lineitem row to a "file" by the top bits of the Morton interleave
    * of (l_partkey, l_suppkey), then report each file's row count and
    * per-dimension min/max envelope. Because a fixed Z-prefix IS a
    * rectangular region of the key space, every file's envelope is
    * tight in BOTH dimensions — the property that lets a scan prune
    * files for predicates on EITHER column. At scale the write path is
    * `repartitionByRange($"zval")` + sortWithinPartitions (range
    * exchange, no global sort); this query returns the deterministic
    * layout stats the pruning argument rests on.
    */
  /** Store write→stats→skip→read round trip as an ORACLE-checked query:
    * land lineitem RANGE-CLUSTERED into a versioned store table (the
    * commit collects per-file min/max column stats into the manifest),
    * then answer a selective key predicate through the manifest-backed
    * scan — file-level data skipping opens only the range-overlapping
    * files. ManifestIndexSpec pins the opened-file COUNTS; this query
    * pins, inside the DuckDB correctness gate, that skipping never
    * changes the ANSWER: the oracle filters the raw parquet directly,
    * so any unsound skip (a dropped row) or store round-trip drift
    * hash-mismatches. The key predicate is an ABSOLUTE range, so its
    * row count is scale-invariant while its selectivity — the skipping
    * win — grows with the table.
    */
  /** One JVM-wide scratch warehouse for [[qStoreSkipping]]: repeat
    * invocations (bench reps, repeated sweeps) re-WRITE the same table
    * — the store's own retention GC bounds the versions kept — instead
    * of leaking a fresh lineitem copy per call, and a shutdown hook
    * removes the whole root when the JVM exits.
    */
  private lazy val skipBenchRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_store_skip")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scala.util.Try {
        java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      }))
    d.toString
  }

  /** Land `table` once per lineitem listing: the write is SETUP
    * (deterministic content, one immutable version), so bench reps 2+
    * time the thing the query exists to show — the manifest-index read
    * with file skipping, not parquet write throughput. The landing is a
    * [[ResidentCache.value]]: a concurrent first invocation BLOCKS until
    * it commits (instead of reading a not-yet-committed table), a
    * rewritten lineitem re-lands, and a FAILED landing records nothing
    * — the next invocation rebuilds rather than failing forever on a
    * poisoned "already built" entry.
    */
  private def landOnce(s: SparkSession, dir: String, table: String)(land: => Unit): Unit =
    ResidentCache.value(s, s"$table@$dir", Tables.listingFingerprint(s, dir, "lineitem"))(land)

  def qStoreSkipping(s: SparkSession, dir: String): DataFrame = {
    val store = new graft.exec.RelationStore(s, skipBenchRoot)
    // table name keyed by source dir: a JVM driving two scale factors
    // (verify + smoke) must not serve one dir's landing for the other
    val table = "li_clustered_" + Integer.toHexString(dir.hashCode)
    landOnce(s, dir, table) {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        // a DECIMAL measure column (q6's shape) so the scan's pushed
        // decimal predicate exercises the decimal file-stats path too
        .withColumn("l_qty_dec", col("l_quantity").cast("decimal(12,2)"))
      store.write(li.repartitionByRange(8, col("l_orderkey")), table)
    }
    store.read(table)
      .filter(col("l_orderkey") < 1000L &&
        expr("l_qty_dec < CAST(24 AS DECIMAL(12,2))"))
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"))
  }

  /** Partitioned + Z-ordered store round trip as an ORACLE-checked
    * query — the composition `q_store_skipping` leaves uncovered: land
    * lineitem PARTITIONED by l_returnflag with deliberately
    * hash-fragmented files, OPTIMIZE with a two-column Morton
    * interleave (the Delta `OPTIMIZE … ZORDER BY` shape), then answer
    * predicates on the partition column AND both Z columns through the
    * manifest-backed scan. Partition pruning × file skipping × Z-order
    * opened-file counts are pinned in ManifestIndexSpec; THIS query
    * pins — inside the DuckDB gate — that the full composition never
    * changes the ANSWER (the oracle filters the raw parquet directly,
    * so an unsound prune/skip or a compaction row loss
    * hash-mismatches). Landing memoized per source dir like
    * q_store_skipping, so bench reps time the steady-state
    * pruned+skipped read.
    */
  def qStoreZorder(s: SparkSession, dir: String): DataFrame = {
    val store = new graft.exec.RelationStore(s, skipBenchRoot)
    val table = "li_zorder_" + Integer.toHexString(dir.hashCode)
    landOnce(s, dir, table) {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag"))
      // hash-scattered small files per partition: the pre-OPTIMIZE
      // state where neither Z dimension can skip anything
      store.write(li.repartition(16), table, partitionBy = Seq("l_returnflag"))
      store.compact(table, targetBytes = 256L << 20,
        clusterColumns = Seq("l_partkey", "l_suppkey"))
    }
    store.read(table)
      .filter(col("l_returnflag") === "A" &&
        col("l_partkey") < 200L && col("l_suppkey") < 15L)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"))
  }

  def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    // column bounds: one metadata-sized aggregate, broadcast to every row
    val bounds = li.agg(
      min(col("l_partkey")).as("min_p"), max(col("l_partkey")).as("max_p"),
      min(col("l_suppkey")).as("min_s"), max(col("l_suppkey")).as("max_s"))
    val gmax = (1 << ZorderBits) - 1
    li.crossJoin(broadcast(bounds))
      .withColumn("xn", expr(s"((l_partkey - min_p) * $gmax) div greatest(max_p - min_p, 1)"))
      .withColumn("yn", expr(s"((l_suppkey - min_s) * $gmax) div greatest(max_s - min_s, 1)"))
      .withColumn("file_id",
        shiftright(zValue(col("xn"), col("yn")), 2 * ZorderBits - ZorderFileBits))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
  }

  /** EXACT quantiles of an integer column WITHOUT a global sort — the
    * two-pass bucketed histogram (the classic distributed exact-median
    * construction; same discipline as the CCNet threshold pass, scaled
    * to high-cardinality domains): pass 1 histograms `v div B` (bounded
    * by range/B rows, map-side combined), the driver prefix-sums that
    * metadata-sized table to locate each quantile's bucket; pass 2
    * histograms exact values WITHIN the located buckets only (≤ B
    * distinct values per bucket; the bucket membership is spelled as
    * value-range predicates, which reach the parquet scan's min/max
    * pruning when the value is a plain column). Non-negative values
    * assumed (shift a signed domain before calling). The q-th
    * (discrete, percent) quantile is
    * min{v : 100·cum(v) ≥ q·N} — integer arithmetic end to end, so the
    * oracle replay hashes exactly.
    *
    * `bucketWidth <= 0` (the default) derives the width from a min/max
    * pre-pass targeting ≤ 2¹⁶ coarse buckets: a fixed width is only
    * driver-safe when the value domain is dense — on a sparse 64-bit
    * domain (epoch-nanos) fixed-width non-empty buckets approach the
    * distinct-value count and the coarse collect is unbounded. The
    * derived width caps the coarse table at ~1M rows for ANY domain.
    * An explicit positive width is honored for callers that know their
    * domain (it applies to the TOP pass; refinement passes re-derive).
    * Quantile VALUES are width-independent (OpsSpec proves invariance
    * across widths).
    *
    * The fine pass is bounded by RECURSIVE REFINEMENT: a located
    * bucket whose coarse count exceeds `fineLimit` is re-bucketed
    * WITHIN its value range (the same derived-width device, one more
    * bounded corpus-filter pass) instead of having its distinct values
    * collected — the guard for dense-narrow-band domains (epoch-nanos
    * within one day: derived width ~8·10⁷, so one hot bucket could
    * otherwise put tens of millions of distinct values on the driver).
    * Width-1 buckets resolve arithmetically (the bucket IS the value),
    * so a single hot VALUE never reaches the driver at all. Every
    * driver collect is therefore ≤ max(2¹⁶ + 1, |quantiles|·fineLimit)
    * rows by construction; `collectProbe` (test hook) observes each
    * collect's size so OpsSpec can pin the bound.
    *
    * A `percentile`/`ntile` spelling would range-partition the full
    * column through a sort; this touches the corpus O(log_2¹⁶(range))
    * times — 2 passes for any domain narrower than 2³² and ≤ 5 ever — with only
    * bounded aggregates crossing the wire: the shape that survives a
    * 100 TB fact column.
    */
  def exactQuantiles(df: DataFrame, valueCol: Column, qs: Seq[Int],
      bucketWidth: Long = 0L, fineLimit: Long = 1L << 20,
      collectProbe: Long => Unit = _ => ()): Seq[(Int, Long)] = {
    // bucket by INTEGER division: a double `/` disagrees with the
    // driver's Long arithmetic above 2^53 (epoch-nanos territory)
    val v = valueCol.cast("long")
    val vals = df.select(v.as("__v")).filter(col("__v").isNotNull)
    val mm = vals.agg(min(col("__v")), max(col("__v")), count(lit(1))).head()
    require(!mm.isNullAt(0), "exactQuantiles: no non-null values")
    val (lo, hi, n) = (mm.getLong(0), mm.getLong(1), mm.getLong(2))
    require(hi - lo >= 0L, "exactQuantiles: value range exceeds Long.MaxValue")
    // the q-th quantile = the ceil(q·n/100)-th value (1-based) in
    // sorted order; resolve all distinct ranks in one recursion
    val ranks = qs.map(q => q -> math.max(1L, (q.toLong * n + 99L) / 100L))
    val resolved = ranksWithin(vals, ranks.map(_._2).distinct.sorted, lo, hi,
      bucketWidth, fineLimit, collectProbe)
    ranks.map { case (q, r) => q -> resolved(r) }
  }

  /** Resolve sorted-order ranks (1-based) among the rows of `vals`
    * (one non-null long column `__v`, all values within [lo, hi]).
    * Rebased bucketing — `(__v - lo) div width` — keeps bucket ids
    * non-negative so truncating `div` is a true floor and bucket
    * membership stays a contiguous value range on ANY signed domain.
    */
  private def ranksWithin(vals: DataFrame, ranks: Seq[Long], lo: Long, hi: Long,
      forcedWidth: Long, fineLimit: Long, probe: Long => Unit): Map[Long, Long] = {
    val range = hi - lo
    // coarse target 2^16 buckets: the histogram collect is driver-side
    // row decode, and 2^20 buckets measured ~1 M collected rows per
    // invocation on a ~2^24-wide cents domain (the sf0.1 bench charged
    // q_exact_quantiles ~2.8 s, mostly this collect) — 2^16 keeps every
    // level's collect ≤ 65 k rows and the recursion still resolves any
    // domain in ≤ ceil(64/16) = 4 bounded passes, quantile values
    // unchanged (exactness never depended on the bucketing; OpsSpec
    // drives widths 1 / 16384 / 2^40 / adaptive to the same answers)
    val width =
      if (forcedWidth > 0) forcedWidth
      else math.max(1L, range / (1L << 16) + (if (range % (1L << 16) == 0) 0L else 1L))
    val coarse = vals.select(expr(s"(__v - ${lo}L) div ${width}L").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    probe(coarse.length.toLong)
    // locate each rank's bucket + rank-within-bucket via the driver
    // prefix sum over the metadata-sized coarse histogram
    val cum = coarse.scanLeft(0L)(_ + _._2).tail
    val locs: Seq[(Long, Long, Long)] = ranks.map { r =>
      val i = cum.indexWhere(_ >= r) match { case -1 => coarse.length - 1; case x => x }
      val before = if (i == 0) 0L else cum(i - 1)
      (r, coarse(i)._1, r - before)
    }
    val cnts = coarse.toMap
    val out = scala.collection.mutable.Map[Long, Long]()
    if (width == 1L) {
      // width-1 buckets hold exactly one value — arithmetic, no scan
      locs.foreach { case (r, b, _) => out(r) = lo + b }
    } else {
      val (hot, small) = locs.partition { case (_, b, _) => cnts(b) > fineLimit }
      if (small.nonEmpty) {
        // bucket membership spelled as RANGE predicates on the value —
        // min/max-pushable into the parquet scan when valueCol is a
        // plain column (a `div`-expression filter never is)
        val pred = small.map(_._2).distinct.map { b =>
          col("__v").between(lo + b * width, math.min(hi, lo + b * width + width - 1))
        }.reduce(_ || _)
        val fine = vals.filter(pred)
          .groupBy(col("__v")).agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        probe(fine.length.toLong)
        small.foreach { case (r, b, rIn) =>
          var c = 0L
          val inB = fine.filter(x => (x._1 - lo) / width == b)
          out(r) = inB.find { case (_, k) => c += k; c >= rIn }
            .map(_._1).getOrElse(inB.last._1)
        }
      }
      // recursive refinement: a denser-than-fineLimit bucket re-buckets
      // within its own value range instead of collecting its values
      hot.groupBy(_._2).foreach { case (b, rs) =>
        val bLo = lo + b * width
        val bHi = math.min(hi, bLo + width - 1)
        val sub = ranksWithin(vals.filter(col("__v").between(bLo, bHi)),
          rs.map(_._3).distinct.sorted, bLo, bHi, 0L, fineLimit, probe)
        rs.foreach { case (r, _, rIn) => out(r) = sub(rIn) }
      }
    }
    out.toMap
  }

  /** Oracle-checked demonstration over lineitem: exact p25/p50/p75/p99
    * of the (bounded-domain) quantity column and the (high-cardinality)
    * extended-price-in-cents column, via [[exactQuantiles]].
    */
  def qExactQuantiles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val qs = Seq(25, 50, 75, 99)
    // the two columns' quantile recursions are independent chains of
    // small driver-blocking jobs (min/max, coarse histogram, fine
    // pass); submitted from one thread they serialize ~6 jobs of
    // mostly fixed latency. Overlapping them (guide-standard driver
    // thread pool; the scheduler backfills each chain's idle gaps with
    // the other's tasks) cuts the wall to the slower chain — results
    // are unchanged, each chain is deterministic in isolation.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val qtyF = Future(exactQuantiles(li, col("l_quantity"), qs))
    val centsF = Future(
      exactQuantiles(li, expr("cast(round(l_extendedprice * 100) as bigint)"), qs))
    val qty = Await.result(qtyF, Duration.Inf)
    val cents = Await.result(centsF, Duration.Inf)
    import s.implicits._
    (qty.map { case (q, v) => ("quantity", q.toLong, v) } ++
      cents.map { case (q, v) => ("price_cents", q.toLong, v) })
      .toDF("col_name", "q", "value")
  }

  /** Equi-depth (quartile) binning WITHOUT a global sort: bin edges
    * come from the exact two-pass quantile machinery (bounded
    * histograms, driver-resolved literals), and bin assignment is a
    * row-parallel comparison chain — the plan a statistics collector
    * or layout optimizer wants at 100 TB, where the naive `NTILE(4)
    * OVER (ORDER BY v)` spelling funnels the corpus through one
    * range-sorted task (PlanSpec pins the absence of
    * rangepartitioning). Output: per bin, row count + min/max/sum —
    * counts within one value-tie of n/4 by construction.
    */
  def qEquidepthBins(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val v = expr("cast(round(l_extendedprice * 100) as bigint)")
    val edges = exactQuantiles(li, v, Seq(25, 50, 75)).map(_._2)
    val binned = li.select(v.as("cents"))
      .withColumn("bin",
        when(col("cents") <= edges(0), 0L)
          .when(col("cents") <= edges(1), 1L)
          .when(col("cents") <= edges(2), 2L)
          .otherwise(3L))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        sum(col("cents")).as("sum_cents"))
  }

  /** Streaming-mergeable approximate quantiles via the native
    * Munro-Paterson sketch ([[graft.functions.QuantileSketch]]):
    * per event_type, ONE pass builds an O(k log n) sketch whose
    * (value, weight) support is then reduced to p50/p90/p99 by a
    * bounded running-weight scan — the window partitions over the
    * SKETCH (≤ k·levels rows per type), never raw events. The
    * single-pass complement of [[exactQuantiles]]' two-pass exact
    * form: at 100 TB this is what a monitoring loop affords every
    * tick. Approximate (deterministic bounded rank error, proven
    * under 1/4/32 partitionings in OpsSpec) → rows-only driver check,
    * like the HLL/CMS/MG members of the sketch family.
    */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame =
    quantileSketchOf(
      Tables.load(s, dir, "events")
        .select(col("event_type"), Relational.cents(col("value")).as("cents")))

  def quantileSketchOf(events: DataFrame, k: Int = 256): DataFrame =
    quantileEstimatesOf(quantileSketchAgg(events, k))

  /** The streaming-safe half: a plain grouped aggregate (runs in
    * Complete mode over an unbounded stream — sketch merge IS the
    * state). Extraction ([[quantileEstimatesOf]]) happens per
    * micro-batch in foreachBatch, where windows are legal.
    */
  def quantileSketchAgg(events: DataFrame, k: Int = 256): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketch.quantileSketch(col("cents"), k).as("sk"),
        count(lit(1)).as("n"))

  def quantileEstimatesOf(sk: DataFrame): DataFrame = {
    val pts = sk.select(col("event_type"), col("n"), explode(col("sk")).as("p"))
      .select(col("event_type"), col("n"), col("p.v").as("v"), col("p.w").as("w"))
    val W = org.apache.spark.sql.expressions.Window
    val ord = W.partitionBy(col("event_type")).orderBy(col("v"), col("w"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    pts
      .withColumn("tot", sum(col("w")).over(W.partitionBy(col("event_type"))))
      .withColumn("cum", sum(col("w")).over(ord))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"),
        min(when(col("cum") * 2L >= col("tot"), col("v"))).as("p50"),
        min(when(col("cum") * 10L >= col("tot") * 9L, col("v"))).as("p90"),
        min(when(col("cum") * 100L >= col("tot") * 99L, col("v"))).as("p99"))
  }
}
