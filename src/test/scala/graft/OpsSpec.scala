package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Quality tests for the approximate operators: the approximations must
  * actually approximate their exact counterparts (recall bounds), and
  * every emitted pair must be verified-precise.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  override def beforeAll(): Unit = { spark = GraftSession.local(4) }

  test("q_store_skipping: a failed landing never poisons the memoized build") {
    // the landing is memoized per source dir; a FAILED build (bogus
    // dir) must leave no "already built" record — otherwise every later
    // invocation would fail with 'relation not found' instead of
    // retrying the landing
    val bogus = "/nonexistent/graft_sf_dir"
    val e1 = intercept[Exception](ScaleOps.qStoreSkipping(spark, bogus).count())
    val e2 = intercept[Exception](ScaleOps.qStoreSkipping(spark, bogus).count())
    // both failures are the SOURCE-load failure, not a poisoned-cache
    // store miss
    Seq(e1, e2).foreach { e =>
      assert(!String.valueOf(e.getMessage).contains("relation not found"),
        s"poisoned build cache: ${e.getMessage}")
    }
    // and a good dir still builds + answers after the failed attempts
    assert(ScaleOps.qStoreSkipping(spark, sf).count() > 0)
  }

  test("minhash LSH: precision 1.0 (exact verify) and high recall on strong pairs") {
    val exact = DedupOps.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = DedupOps.dedupMinHashLsh(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision: every LSH pair is also an exact pair (the pipeline
    // re-verifies candidates with exact Jaccard)
    assert(lsh.forall(exact.contains), s"unverified pairs: ${lsh.filterNot(exact.contains)}")
    // recall on strong pairs (J >= 0.8): banding theory gives ~0.99 at
    // 8 bands x 4 rows; the hash choice is deterministic so this is a
    // stable property of the corpus, not a flaky sample
    val strong = exact.filter(_._2 >= 0.8).keySet
    assert(strong.nonEmpty, "corpus should contain strong near-dups")
    val found = strong.intersect(lsh).size.toDouble / strong.size
    assert(found >= 0.9, s"recall $found on ${strong.size} strong pairs")
  }

  test("sampled recall evaluation tracks full recall and is subset-consistent") {
    def byBucket(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val full = byBucket(DedupOps.dedupRecallEval(spark, sf))
    val sampled = byBucket(DedupOps.dedupRecallEvalSampled(spark, sf, pct = 50, seed = 42))
    assert(full.nonEmpty, "corpus should contain truth pairs")
    assert(sampled.nonEmpty, "seeded 50% sample should retain truth pairs")
    // the sampled subgraph is a SUBSET of the truth: per bucket its
    // pair count never exceeds the full count
    sampled.foreach { case (b, (nTruth, _)) =>
      assert(full.contains(b) && nTruth <= full(b)._1,
        s"bucket $b sampled truth $nTruth vs full ${full.get(b)}")
    }
    // recall estimate stays in a tolerance band of the full measurement
    // on buckets the sample retains meaningfully (small-n buckets are
    // legitimately noisy); the hash seed is fixed so this is a stable
    // property of the corpus, not a flaky sample
    sampled.foreach { case (b, (nTruth, recallPpm)) =>
      if (nTruth >= 10) {
        val fullPpm = full(b)._2
        assert(math.abs(recallPpm - fullPpm) <= 200000L,
          s"bucket $b sampled recall $recallPpm vs full $fullPpm (n=$nTruth)")
      }
    }
    // determinism: same seed → identical result
    val replay = byBucket(DedupOps.dedupRecallEvalSampled(spark, sf, pct = 50, seed = 42))
    assert(replay == sampled)
  }

  test("hot-shingle df guard leaves the Jaccard pair set invariant") {
    def pairs(maxDf: Int) = DedupOps.ngramJaccard(spark, sf, maxDf)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val unguarded = pairs(0)
    assert(unguarded.nonEmpty)
    // production threshold: pair set identical (fast path when the
    // corpus has no hot shingles at all)
    val guarded = pairs(DedupOps.HotShingleMaxDf)
    assert(guarded == unguarded,
      s"guard changed the result: missing=${unguarded -- guarded} extra=${guarded -- unguarded}")
    // force the two-phase branch with a tight df cut (df <= 2 — the
    // corpus HAS shingles above that, so candidate generation actually
    // filters): every emitted pair must carry EXACT unguarded values
    // (the full-shingle re-score), i.e. the guard can only lose pairs
    // whose every shared shingle is hot, never corrupt one
    val tight = pairs(2)
    assert(tight.nonEmpty)
    assert(tight.subsetOf(unguarded), s"two-phase emitted wrong values: ${tight -- unguarded}")
  }

  test("ppjoin: prefix/length/positional filters are lossless at J >= 0.8") {
    import org.apache.spark.sql.functions._
    // ground truth: the UNGUARDED all-pairs plan at the same threshold
    val brute = DedupOps.ngramJaccard(spark, sf, maxDf = 0)
      .filter(col("n_inter") * 9 >= (col("n_a") + col("n_b")) * 4)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(brute.nonEmpty, "corpus should contain J >= 0.8 pairs")
    val pp = DedupOps.dedupPpjoin(spark, sf)
      .select("doc_a", "doc_b", "n_inter", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(pp == brute,
      s"ppjoin diverged: missing=${brute -- pp} extra=${pp -- brute}")

    // planted boundary pairs: J exactly AT the threshold must survive
    // the integer spelling, just-below must not (9I >= 4(na+nb) at
    // na=nb=9, I=8: J=0.8 exactly; at I=7: J ~ 0.636 < 0.8)
    val sess = spark
    import sess.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ppjoin")
    // 11 words -> 9 word-3-gram shingles; the pair differs in the last
    // word only -> 8 shared shingles, J = 8/10 = 0.8 exactly... but
    // sets of size 9 sharing 8: J = 8/(9+9-8) = 0.8 - AT threshold
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    Seq((1L, s"$w tail1"), (2L, s"$w tail2"), // share 8 of 9 shingles
        (3L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val planted = DedupOps.dedupPpjoin(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(planted == Set((1L, 2L, 8L)),
      s"boundary pair must survive at exactly J = 0.8: $planted")

    // the rational-threshold form is lossless at OTHER thresholds too:
    // the same brute-force comparison at t = 1/2 and t = 9/10
    for ((p, q) <- Seq((1L, 2L), (9L, 10L))) {
      val bruteT = DedupOps.ngramJaccard(spark, sf, maxDf = 0)
        .filter(col("n_inter") * (p + q) >= (col("n_a") + col("n_b")) * p)
        .select("doc_a", "doc_b", "n_inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ppT = DedupOps.dedupPpjoinAt(spark, sf, p, q)
        .select("doc_a", "doc_b", "n_inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(ppT == bruteT,
        s"t=$p/$q diverged: missing=${bruteT -- ppT} extra=${ppT -- bruteT}")
    }
  }

  test("ppjoin+ suffix filter: admissible bound, strict candidate shrink at sf0.1") {
    // (a) admissibility on adversarial arrays: the depth-limited bound
    // must NEVER undercount the true intersection (undercounting would
    // silently drop true pairs) — deterministic pseudo-random sweep
    val rnd = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val a = Array.fill(1 + rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      val b = Array.fill(1 + rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      val exact = a.toSet.intersect(b.toSet).size.toLong
      (0 to 5).foreach { d =>
        val bd = graft.functions.SuffixBound.compute(a, b, d)
        assert(bd >= exact, s"depth-$d bound $bd < exact $exact")
        assert(bd <= math.min(a.length, b.length), "bound above trivial cap")
      }
    }
    // identical arrays: bound is tight at every depth
    val same = (1L to 40L).toArray
    assert(graft.functions.SuffixBound.compute(same, same, 3) == 40L)
    // disjoint interleaved arrays: depth exposes the emptiness
    val odd = Array.tabulate(32)(i => 2L * i + 1)
    val even = Array.tabulate(32)(i => 2L * i)
    assert(graft.functions.SuffixBound.compute(odd, even, 5) < 32L)

    // (b) the counter pin on the sf0.1 corpus: the suffix filter keeps
    // every true pair (>= the result count) while STRICTLY shrinking
    // the candidate set the scoring join must pay for
    val big = "/root/testdata/sf0.1"
    val (before, after) = DedupOps.ppjoinCandidateCounts(spark, big, 4L, 5L)
    val results = DedupOps.dedupPpjoin(spark, big).count()
    assert(after < before, s"suffix filter must prune: $after !< $before")
    assert(after >= results, s"suffix filter dropped true pairs: $after < $results")
  }

  test("PQ ADC: distances are non-negative and recall vs exact L2 top-5 is useful") {
    import org.apache.spark.sql.functions._
    val pq = SimilarityOps.simPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // squared-L2 ADC distances are sums of non-negative subspace terms
    assert(pq.forall(_._3 >= 0L), "negative ADC distance")
    // exact integer squared-L2 ranking, recomputed independently from
    // the raw table (not via any SimilarityOps helper)
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val byId = vecs.toMap
    val exact = vecs.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (cid, cv) => (l2(qv, cv), cid) }.sorted.take(5).map(_._2).toSet
    }.toMap
    val got = pq.groupBy(_._1).map { case (qid, rows) => qid -> rows.map(_._2).toSet }
    assert(got.keySet == exact.keySet, "one top-5 list per probe")
    val recall = exact.keys.toSeq
      .map(q => got(q).intersect(exact(q)).size.toDouble / 5).sum / exact.size
    val exact50 = vecs.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (cid, cv) => (l2(qv, cv), cid) }.sorted.take(50).map(_._2).toSet
    }.toMap
    val shortlist = exact.keys.toSeq
      .map(q => got(q).intersect(exact50(q)).size.toDouble / 5).sum / exact.size
    // K=8 3-bit codebooks on synthetic (near-worst-case: random, no
    // cluster structure) data are coarse by design — PQ's production
    // role is CANDIDATE GENERATION before exact re-rank. The pipeline
    // is fully deterministic, so these floors are stable measurements
    // with margin, not flaky samples: measured recall@5 = 0.10 (random
    // ≈ 5/499 = 0.01) and top-50 shortlist hit rate = 0.60 (random
    // ≈ 50/499 = 0.10).
    assert(recall >= 0.08, s"PQ recall@5 $recall vs exact L2")
    assert(shortlist >= 0.5, s"PQ shortlist-in-top50 $shortlist")
    assert(byId.size > 100, "corpus sanity")
  }

  test("incremental dedup equals the full-corpus run restricted to (new, index) pairs") {
    def isNew(id: Long) = id % 10 >= 8
    val inc = DedupOps.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // expected near counts: the FULL-corpus LSH pair set (both
    // orientations), restricted to new x index — the incremental run
    // must see exactly these pairs because band keys and the exact-
    // Jaccard verify arithmetic are shared
    val nearExp = DedupOps.dedupMinHashLsh(spark, sf)
      .select("doc_a", "doc_b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .filter { case (n, i) => isNew(n) && !isNew(i) }
      .groupBy(_._1).map { case (k, v) => (k, v.size.toLong) }
    // expected exact dups: fingerprint groups straddling the boundary
    val fps = DedupOps.dedupExact(spark, sf).select("doc_id", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val idxFps = fps.collect { case (id, fp) if !isNew(id) => fp }.toSet
    val exactExp = fps.collect { case (id, fp) if isNew(id) =>
      (id, if (idxFps(fp)) 1L else 0L) }.toMap
    assert(inc.keySet == exactExp.keySet, "one output row per new doc")
    exactExp.foreach { case (id, e) =>
      val (gotE, gotN, gotA) = inc(id)
      assert(gotE == e, s"doc $id exact_dup: got $gotE want $e")
      assert(gotN == nearExp.getOrElse(id, 0L),
        s"doc $id n_near: got $gotN want ${nearExp.getOrElse(id, 0L)}")
      assert(gotA == (if (e == 0L && gotN == 0L) 1L else 0L), s"doc $id admit")
    }
  }

  test("growth curve: guarded/banded candidate pairs scale linearly with the corpus") {
    import org.apache.spark.sql.functions._
    // Synthetic corpora at N, 2N, 4N docs with FIXED structure: every
    // doc carries a hot boilerplate shingle (df = corpus size, far
    // above the guard), 1/6 of docs have one near-duplicate. The 100 TB
    // claim under test: candidate-pair cardinality — the widest
    // intermediate in both dedup pipelines — tracks the true duplicate
    // count (linear in N), not the hot-shingle join (quadratic in N).
    def corpus(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"growth_$n")
      val rows: Seq[(Long, String)] = (0 until n).map { i =>
        val base = (0 until 20).map(j => s"d${i}a$j").mkString(" ")
        (i.toLong, s"$base common boiler plate")
      } ++ (0 until n / 6).map { i =>
        // near-dup of doc i: one token inserted before the boilerplate
        val base = (0 until 20).map(j => s"d${i}a$j").mkString(" ")
        ((n + i).toLong, s"$base zz$i common boiler plate")
      }
      val sess = spark
      import sess.implicits._
      rows.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      dir.toString
    }
    // mirror of ngramJaccard's candidate stage (DedupOps.scala:109-117;
    // keep in sync) — pairs sharing a rare (df <= maxDf) shingle
    def ngramCands(dir: String, maxDf: Int): Long = {
      val sh = DedupOps.shingles(spark, dir)
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
      val joinable = if (maxDf <= 0) sh else sh.join(
        sh.groupBy(col("h")).agg(count(lit(1)).as("df")).filter(col("df") <= maxDf),
        Seq("h"), "left_semi")
      joinable.select(col("doc_id").as("doc_a"), col("h"))
        .join(joinable.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct().count()
    }
    // mirror of dedupMinHashLsh's banding stage (DedupOps.scala:150-170;
    // keep in sync) — pairs colliding in >= 1 of 8 bands
    def bandCands(dir: String): Long = {
      val nPerm = 32; val rowsPerBand = 4; val nBands = nPerm / rowsPerBand
      val sh = DedupOps.shinglesRaw(spark, dir)
        .select(col("doc_id"), DedupOps.md5Hash64(col("s")).as("h"))
      val sigs = sh.groupBy(col("doc_id"))
        .agg(graft.functions.MinHashAgg.minhashSig(col("h"), nPerm).as("sig"))
      val bandCols = (0 until nBands).map { b =>
        val slots = (0 until rowsPerBand).map(r => s"sig[${b * rowsPerBand + r}]").mkString(", ")
        DedupOps.md5Hash64(expr(s"concat_ws(',', $b, $slots)")).as(s"band$b")
      }
      val banded = sigs.select(col("doc_id") +: bandCols: _*)
        .select(col("doc_id"),
          explode(array((0 until nBands).map(b => col(s"band$b")): _*)).as("bk"))
      banded.alias("x").join(banded.alias("y"), col("x.bk") === col("y.bk"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct().count()
    }
    val dirs = Seq(120, 240, 480).map(corpus)
    val guarded = dirs.map(ngramCands(_, DedupOps.HotShingleMaxDf))
    assert(guarded.head > 0)
    // true dup pairs are n/6 → doubling the corpus doubles candidates
    assert(guarded(1).toDouble / guarded(0) <= 2.6,
      s"guarded ngram candidates superlinear: $guarded")
    assert(guarded(2).toDouble / guarded(0) <= 5.2,
      s"guarded ngram candidates superlinear: $guarded")
    // without the guard, the hot shingle joins all-pairs: quadratic
    val unguarded = dirs.map(ngramCands(_, 0))
    assert(unguarded(1).toDouble / unguarded(0) >= 3.0,
      s"expected quadratic unguarded growth: $unguarded")
    assert(unguarded(2).toDouble / unguarded(0) >= 10.0,
      s"expected quadratic unguarded growth: $unguarded")
    // LSH banding never sees the hot-shingle explosion at all: band
    // collisions track near-dups (J≈0.8 here → P(candidate)≈0.98)
    val banded = dirs.map(bandCands)
    assert(banded.head > 0)
    assert(banded(1).toDouble / banded(0) <= 2.9,
      s"banded candidates superlinear: $banded")
    assert(banded(2).toDouble / banded(0) <= 5.8,
      s"banded candidates superlinear: $banded")
  }

  test("simhash banding retrieves EXACTLY the brute-force hamming pairs") {
    val sigs = DedupOps.dedupSimHash(spark, sf)
      .select("doc_id", "simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute-force ground truth, driver-side (500 docs → 125k pairs)
    val brute = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= DedupOps.SimHashMaxHamming
    } yield {
      val (a, b) = (sigs(i), sigs(j))
      (math.min(a._1, b._1), math.max(a._1, b._1), h.toLong)
    }).toSet
    val banded = DedupOps.dedupSimHashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pigeonhole guarantees recall 1; the hamming filter precision 1
    assert(banded == brute,
      s"missing=${brute -- banded} extra=${banded -- brute}")
    assert(brute.nonEmpty, "corpus should contain simhash near-dups")
  }

  test("wide-radius hamming join (chunk-pair multi-index) retrieves EXACTLY brute force") {
    // maxHamming = 8 routes through the pair-of-chunks scheme (the
    // single 7-bit chunk key's N²/128 candidate volume was the sf2
    // probe's worst offender, BENCH_SCALE.md) — recall must still be
    // exactly 1 by the pigeonhole argument (c=10 chunks, ≤8 errors ⇒
    // ≥2 chunks agree ⇒ some chunk PAIR agrees). Fixture plants pairs
    // at hamming exactly 8 (must appear) and exactly 9 (must not),
    // plus clusters of small perturbations.
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    def flip(v: Long, k: Int): Long = {
      var x = v
      val picked = scala.collection.mutable.Set[Int]()
      while (picked.size < k) picked += rnd.nextInt(64)
      picked.foreach(b => x ^= 1L << b)
      x
    }
    val bases = Seq.fill(40)(rnd.nextLong())
    val sigs = bases.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 10L, v), (i * 10L + 1, flip(v, 8)), (i * 10L + 2, flip(v, 9)),
        (i * 10L + 3, flip(v, 2)), (i * 10L + 4, flip(v, 5)))
    }
    val df = sigs.toDF("doc_id", "sg")
    val got = DedupOps.hammingPairs(df, "sg", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 8
    } yield {
      val (a, b) = (sigs(i), sigs(j))
      (math.min(a._1, b._1), math.max(a._1, b._1), h.toLong)
    }).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(brute.exists(_._3 == 8L), "fixture must contain hamming-8 pairs")
  }

  test("chunk-TRIPLE multi-index (the >1M-payload escalation) retrieves EXACTLY brute force") {
    // nRows above the escalation knee routes hammingPairs through the
    // C(c,3) position-triple keys (c = d+3 full-64-bit uneven chunks).
    // Pigeonhole: ≤ d errors over d+3 chunks leave ≥ 3 agreeing chunks
    // ⇒ some chunk TRIPLE agrees ⇒ recall exactly 1. Planted pairs at
    // hamming exactly d (must appear) and d+1 (must not), same shape
    // as the pair-index fixture, at BOTH d = 8 and d = 9.
    val sp = spark
    import sp.implicits._
    for (d <- Seq(8, 9)) {
      val rnd = new scala.util.Random(100 + d)
      def flip(v: Long, k: Int): Long = {
        var x = v
        val picked = scala.collection.mutable.Set[Int]()
        while (picked.size < k) picked += rnd.nextInt(64)
        picked.foreach(b => x ^= 1L << b)
        x
      }
      val bases = Seq.fill(40)(rnd.nextLong())
      val sigs = bases.zipWithIndex.flatMap { case (v, i) =>
        Seq((i * 10L, v), (i * 10L + 1, flip(v, d)), (i * 10L + 2, flip(v, d + 1)),
          (i * 10L + 3, flip(v, 2)), (i * 10L + 4, flip(v, 5)))
      }
      val df = sigs.toDF("doc_id", "sg")
      // force the triple arm: claim a corpus size past the knee
      val got = DedupOps.hammingPairs(df, "sg", d, nRows = Some(5_000_000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = (for {
        i <- sigs.indices; j <- (i + 1) until sigs.length
        h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
        if h <= d
      } yield {
        val (a, b) = (sigs(i), sigs(j))
        (math.min(a._1, b._1), math.max(a._1, b._1), h.toLong)
      }).toSet
      assert(got == brute, s"d=$d missing=${brute -- got} extra=${got -- brute}")
      assert(brute.exists(_._3 == d.toLong), s"fixture must contain hamming-$d pairs")
      // and below the knee the SAME call keeps the pair index: results identical
      val gotPair = DedupOps.hammingPairs(df, "sg", d, nRows = Some(1000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotPair == brute, s"d=$d pair-arm drift")
    }
  }

  test("hamming candidate join: large corpora pin sort-merge, small keep broadcast") {
    // Catalyst estimates a Generate (explode) at its CHILD's size, so
    // the exploded chunk-key table of a large corpus looks broadcast-
    // able to the planner — the r15 500k-doc probe arm built an ~82M-row
    // broadcast and died on driver memory. candidateJoinPlan knows the
    // TRUE exploded size (nRows × key fanout) and pins sort-merge past
    // the session broadcast threshold; below it the planner's broadcast
    // stays (it saves the shuffle and genuinely fits).
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(64)(rnd.nextLong()).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("doc_id", "sg")
    def planOf(nRows: Long): String =
      DedupOps.hammingPairs(df, "sg", 8, nRows = Some(nRows))
        .queryExecution.executedPlan.toString
    // the CANDIDATE join is the one keyed on (ci, chunk) — the
    // post-verify expansion joins broadcast the (small) verified
    // sig-pair side by design, so the pin is asserted per join key
    // claimed-huge corpus (still pair arm: below the triple knee):
    // 500k × C(10,2) keys × 28B ≈ 630 MB ≫ 10 MB threshold
    val big = planOf(500_000L)
    assert(big.contains("SortMergeJoin [ci"), s"expected SMJ pin, got:\n$big")
    assert(!big.contains("BroadcastHashJoin [ci"),
      "candidate join broadcast must be pinned away")
    // claimed-small corpus: exploded side ~2.5 MB < threshold — the
    // planner keeps its broadcast (results already proven identical by
    // the planted fixtures above)
    val small = planOf(2_000L)
    assert(small.contains("BroadcastHashJoin [ci"),
      s"small corpora should keep the broadcast candidate plan, got:\n$small")
  }

  test("IVF top-k: meaningful overlap with brute-force top-k") {
    val exact = SimilarityOps.simTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.simIvfTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    info(s"IVF recall vs brute force: $recall")
    // 4 of 16 cells probed on isotropic synthetic data — recall is
    // bounded but must be far above the 25%-of-corpus floor
    assert(recall >= 0.25, s"recall $recall")
  }

  test("simhash: near-identical docs have small hamming distance") {
    val sig = DedupOps.dedupSimHash(spark, sf)
    sig.createOrReplaceTempView("simhash_sig")
    // take the strongest exact near-dup pair and compare signatures
    val top = DedupOps.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy(org.apache.spark.sql.functions.col("jaccard").desc).limit(1).collect()(0)
    val (a, b) = (top.getLong(0), top.getLong(1))
    val d = spark.sql(
      s"""SELECT bit_count(x.simhash ^ y.simhash) FROM
         |  (SELECT simhash FROM simhash_sig WHERE doc_id = $a) x,
         |  (SELECT simhash FROM simhash_sig WHERE doc_id = $b) y""".stripMargin)
      .first().getInt(0)
    assert(d <= 12, s"hamming distance $d for a near-dup pair (J=${top.getDouble(2)})")
  }

  test("freq_sketch: Misra-Gries guarantees hold under any partitioning") {
    val ss = spark
    import ss.implicits._
    // skewed stream: item 1 × 500, item 2 × 200, 300 distinct tail items
    val data = Seq.fill(500)(1L) ++ Seq.fill(200)(2L) ++ (100L until 400L)
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = data.size
    val k = 16
    for (parts <- Seq(1, 4, 32)) {
      val rows = new scala.util.Random(7).shuffle(data).toDF("item").repartition(parts)
        .agg(org.apache.spark.sql.functions.expr(s"freq_sketch(item, $k)").as("sk"))
        .selectExpr("explode(sk) AS x").selectExpr("x.item", "x.est")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.size <= k)
      // every estimate bounded: f - n/(k+1) <= est <= f
      rows.foreach { case (item, est) =>
        val f = exact(item)
        assert(est <= f, s"parts=$parts item $item overestimated: $est > $f")
        assert(est >= f - n / (k + 1), s"parts=$parts item $item est $est below bound")
      }
      // every true heavy hitter (f > n/(k+1)) must be present
      exact.filter(_._2 > n / (k + 1)).keys.foreach { hh =>
        assert(rows.contains(hh), s"parts=$parts heavy hitter $hh missing")
      }
    }
  }

  test("q_heavy_users: sketch rows respect bounds against exact counts") {
    val rows = ScaleOps.qHeavyUsers(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = spark.read.parquet(s"$sf/events.parquet").count()
    rows.foreach { r =>
      val (est, t) = (r.getLong(1), r.getLong(2))
      assert(est <= t && est >= t - n / 33, s"user ${r.getLong(0)}: est $est true $t")
    }
  }

  test("approx sketches: HLL++ and approx-median stay within error bounds") {
    Relational.qApproxSketch(spark, sf).collect().foreach { r =>
      val (approxNd, exactNd) = (r.getLong(1), r.getLong(2))
      assert(math.abs(approxNd - exactNd).toDouble / exactNd < 0.05,
        s"${r.getString(0)}: HLL $approxNd vs exact $exactNd drifts > 5%")
      val (approxP50, exactP50) = (r.getDouble(3), r.getDouble(4))
      // quantity is 1..50 integral — accuracy 10000 must land within one step
      assert(math.abs(approxP50 - exactP50) <= 1.0,
        s"${r.getString(0)}: approx p50 $approxP50 vs exact $exactP50")
    }
  }

  test("connected components: chains close transitively, components stay apart") {
    val ss = spark
    import ss.implicits._
    // 1-2-3-4 is one chain (diameter 3 — needs multiple propagation
    // rounds), 10-11 a separate pair, 20-21-22 a triangle with a
    // redundant edge; 30 never appears (singletons are not emitted)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val got = GraphOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("approx distinct: HLL estimate within rsd bound, partitioning-invariant") {
    val base = ScaleOps.qApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(base.nonEmpty)
    base.foreach { case (tpe, (est, exact)) =>
      // rsd 0.01 → generous 5% acceptance so the test never flakes on
      // a different hash seed across Spark upgrades
      assert(math.abs(est - exact) <= math.max(1L, (0.05 * exact).toLong),
        s"$tpe: est $est vs exact $exact")
    }
    // register merge is a pointwise max — the estimate must not depend
    // on how the rows were partitioned
    val e = graft.sources.Tables.load(spark, sf, "events")
    def estOf(parts: Int) = e.repartition(parts)
      .groupBy(org.apache.spark.sql.functions.col("event_type"))
      .agg(org.apache.spark.sql.functions
        .approx_count_distinct(org.apache.spark.sql.functions.col("user_id"), 0.01)
        .as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estOf(1) == estOf(32))
  }

  test("triangle counts: degree-ordered node-iterator == brute force on a skewed graph") {
    val ss = spark
    import ss.implicits._
    // deterministic skewed graph: a hub (0) wired to everything, plus a
    // pseudo-random sparse layer — exercises the orientation tie-breaks
    // (hub degree >> others) and zero-triangle nodes
    val n = 40
    val hub = (1 until n).map(i => (0L, i.toLong))
    val sparse = for {
      i <- 1 until n; j <- i + 1 until n
      if (i * 31 + j * 17) % 13 == 0
    } yield (i.toLong, j.toLong)
    val all = (hub ++ sparse).distinct
    val edges = all.toDF("a", "b")
    val got = GraphOps.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // brute force on the driver
    val adj = all.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val triBrute = adj.keys.map { v =>
      val nb = adj(v).toSeq
      v -> nb.combinations(2).count { case Seq(x, y) => adj(x)(y) }.toLong
    }.toMap
    assert(got.keySet == adj.keySet)
    got.foreach { case (node, (deg, tri, ccPpm)) =>
      assert(deg == adj(node).size.toLong, s"deg($node)")
      assert(tri == triBrute(node), s"tri($node): got $tri want ${triBrute(node)}")
      val want = if (deg > 1) 2000000L * tri / (deg * (deg - 1)) else 0L
      assert(ccPpm == want, s"cc_ppm($node)")
    }
    // the graph must actually contain triangles for this to mean anything
    assert(triBrute.values.sum > 0)
  }

  test("connected components: reliable-checkpoint mode gives identical labels") {
    val ss = spark
    import ss.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("src", "dst")
    val local = GraphOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = GraphOps.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      // the reliable path actually wrote checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode produced no checkpoint files")
    } finally {
      // SparkContext has no unsetCheckpointDir; null restores the
      // localCheckpoint fallback for the suite's remaining tests
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("bloom decontamination: zero false negatives, bounded FPR, exact-equal output") {
    val (train, eval, cand) = CurateOps.bloomCandidateGrams(spark, sf)
    val trainSet = train.select("g").distinct().collect().map(_.getString(0)).toSet
    val evalSet = eval.collect().map(_.getString(0)).toSet
    val candSet = cand.select("g").distinct().collect().map(_.getString(0)).toSet
    // no false negatives: every truly-shared gram survives the prefilter
    val trueShared = trainSet.intersect(evalSet)
    assert(trueShared.subsetOf(candSet))
    // realized FPR on the non-shared grams stays far under the 0.5% design
    // point (generous 5% bound to keep the test robust at tiny SF)
    val nonShared = trainSet.diff(evalSet)
    if (nonShared.nonEmpty) {
      val fpr = candSet.diff(trueShared).size.toDouble / nonShared.size
      assert(fpr <= 0.05, s"bloom FPR $fpr")
    }
    // the full operator output is bit-identical to the exact one
    val exact = CurateOps.dedupDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val bloom = CurateOps.dedupDecontaminateBloom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(bloom == exact)
  }

  test("substring spans: coverage bounds and cross-doc consistency") {
    val rows = DedupOps.dedupSubstringSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nTok, nDup, nCov, millis) =>
      if (nDup == 0) assert(nCov == 0, s"doc $id covered without dup grams")
      else {
        // one dup gram covers 8 positions; k grams cover at most 7+k
        // (max overlap) and at most all tokens
        assert(nCov >= 8 && nCov <= math.min(nTok, nDup + 7), s"doc $id cov=$nCov")
      }
      assert(millis == 1000 * nCov / nTok)
    }
    // dup-ness is symmetric: a corpus can't have exactly one doc with spans
    assert(rows.count(_._3 > 0) != 1)
  }

  test("substring removal: bounded by span coverage, token accounting exact") {
    val spans = DedupOps.dedupSubstringSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val removed = DedupOps.dedupSubstringRemove(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(removed.length == spans.size)
    removed.foreach { case (id, nTok, nRm, cleaned) =>
      val (nTokSpans, nCov) = spans(id)
      assert(nTok == nTokSpans)
      // removal marks only NON-keeper occurrences; coverage counts all
      assert(nRm <= nCov, s"doc $id removed $nRm > covered $nCov")
      val keptToks = cleaned.split(" ").count(_.nonEmpty)
      assert(nTok - nRm == keptToks, s"doc $id accounting: $nTok - $nRm != $keptToks")
    }
    // the corpus has cross-doc spans, so something must actually be removed
    assert(removed.exists(_._3 > 0))
  }

  test("substring removal: keeper keeps the span, later docs lose exactly it") {
    val dir = java.nio.file.Files.createTempDirectory("substr_rm")
    val span = (0 until 8).map(i => s"shared$i").mkString(" ")
    val sess = spark
    import sess.implicits._
    Seq(
      (1L, s"alpha one $span beta two"),   // keeper (lowest doc_id with the span)
      (2L, s"gamma three $span delta four"), // loses the 8 span tokens only
      (3L, "totally unrelated text with no duplicated grams here at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val out = DedupOps.dedupSubstringRemove(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((0L, s"alpha one $span beta two")))
    assert(out(2L) == ((8L, "gamma three delta four")))
    assert(out(3L)._1 == 0L)
  }

  test("knn graph: every vector gets exactly k mutual-consistent neighbors") {
    val out = SimilarityOps.simKnnGraph(spark, sf, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    val n = graft.sources.Tables.load(spark, sf, "embeddings").count()
    assert(out.length == n * 5, s"expected ${n * 5} edges, got ${out.length}")
    val bySrc = out.groupBy(_._1)
    assert(bySrc.size == n)
    for ((src, edges) <- bySrc) {
      assert(edges.map(_._5).sorted.toSeq == Seq(1, 2, 3, 4, 5), s"src $src ranks")
      assert(!edges.exists(_._2 == src), s"src $src lists itself")
      // ranks follow (cos desc, nbr asc)
      val ordered = edges.sortBy(_._5)
      ordered.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._2 < b._2), s"src $src order")
      case _ => ()
      }
      // pair symmetry: the dot product of (src, nbr) equals that of (nbr, src)
      edges.foreach { case (s0, nb, dot, _, _) =>
        out.find(e => e._1 == nb && e._2 == s0)
          .foreach(rev => assert(rev._3 == dot, s"asymmetric dot $s0 <-> $nb"))
      }
    }
  }

  test("semantic dedup: removal rule replays exactly from the emitted cells") {
    val out = SimilarityOps.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val emb = graft.sources.Tables.load(spark, sf, "embeddings").collect()
      .map { r =>
        val q = r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000.0)).toArray
        (r.getLong(0), q, math.sqrt(q.map(v => v * v).sum.toDouble))
      }.map(t => t._1 -> (t._2, t._3)).toMap
    assert(out.length == emb.size)
    def cos(a: Long, b: Long): Double = {
      val ((qa, na), (qb, nb)) = (emb(a), emb(b))
      qa.zip(qb).map { case (x, y) => x * y }.sum / (na * nb)
    }
    // kept(b) == 0 iff some lower-id cell-mate has cosine >= 0.3
    val byCell = out.groupBy(_._2)
    for ((_, members) <- byCell; (b, _, keptB) <- members) {
      val hasCloseEarlier = members.exists { case (a, _, _) => a < b && cos(a, b) >= 0.3 }
      assert((keptB == 0L) == hasCloseEarlier, s"vec $b kept=$keptB close=$hasCloseEarlier")
    }
  }

  test("dedup clusters: exactly one keeper per cluster, id = component min") {
    val rows = GraphOps.dedupClusters(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid, s"cluster $cid id is not its min doc")
      assert(members.count(_.getLong(3) == 1L) == 1, s"cluster $cid keeper count != 1")
      assert(members.forall(_.getLong(2) == members.length), s"cluster $cid size column wrong")
    }
  }

  test("zorder layout: file assignment matches a driver interleave; envelopes prune") {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select("l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (minP, maxP) = (li.map(_._1).min, li.map(_._1).max)
    val (minS, maxS) = (li.map(_._2).min, li.map(_._2).max)
    val gmax = (1L << ScaleOps.ZorderBits) - 1
    def mortonFile(p: Long, s: Long): Long = {
      val x = (p - minP) * gmax / math.max(maxP - minP, 1)
      val y = (s - minS) * gmax / math.max(maxS - minS, 1)
      var z = 0L
      for (i <- 0 until ScaleOps.ZorderBits)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z >> (2 * ScaleOps.ZorderBits - ScaleOps.ZorderFileBits)
    }
    val files = ScaleOps.qZorderLayout(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // totals and per-file assignment agree with the driver-side Morton code
    assert(files.values.map(_._1).sum == li.length)
    val expected = li.groupBy { case (p, s) => mortonFile(p, s) }.view.mapValues(_.length.toLong).toMap
    assert(files.view.mapValues(_._1).toMap == expected)
    // pruning property: a point predicate on l_partkey touches only files
    // whose min/max envelope contains it — strictly fewer than all files
    val probe = li.head._1
    val touched = files.values.count { case (_, minP, maxP, _, _) => probe >= minP && probe <= maxP }
    assert(touched < files.size, s"envelope pruning eliminated nothing ($touched/${files.size})")
  }

  test("fuzzy parts: blocked pairs equal a brute-force levenshtein recount") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) => if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = graft.sources.Tables.load(spark, sf, "part")
      .select("p_name").collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter { case (n, _) => n.split(" ").length == 2 }
    val expected = (for {
      (a, na) <- names; (b, nb) <- names
      if a < b && a.split(" ")(1) == b.split(" ")(1) && lev(a, b) <= 3
    } yield (a, b, lev(a, b).toLong, na, nb)).toSet
    val got = DedupOps.dedupFuzzyParts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(got.nonEmpty, "corpus should contain fuzzy-similar part names")
  }

  test("count-min: est >= exact for every item, conserves mass, partitioning-invariant") {
    import org.apache.spark.sql.functions._
    val w = 16
    val toks = graft.sources.Tables.load(spark, sf, "documents")
      .select(explode(split(TextOps.normalized(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
    def sketchOf(parts: Int): Array[Long] =
      toks.repartition(parts)
        .agg(graft.functions.CountMin.cmsSketch(col("t"), w))
        .head().getSeq[Long](0).toArray
    val sk = sketchOf(4)
    // pointwise merge commutes => identical under any partitioning
    assert(sketchOf(1).sameElements(sk) && sketchOf(32).sameElements(sk))
    val exact = toks.groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    // each of the d rows distributes ALL n items over its buckets
    (0 until graft.functions.CountMin.Depth).foreach { r =>
      assert((0 until w).map(b => sk(r * w + b)).sum == total)
    }
    // CMS one-sided bound: min over addressed counters never underestimates
    exact.foreach { case (t, n) =>
      val est = (0 until graft.functions.CountMin.Depth)
        .map(r => sk(r * w + graft.functions.CountMin.bucket(r, t, w))).min
      assert(est >= n, s"underestimate for '$t': $est < $n")
    }
  }

  test("phash pigeonhole banding == brute-force pairs at radius 3 and 8") {
    val sigs = Multimodal.mmPhash(spark, sf)
      .select("doc_id", "phash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute-force ground truth: all pairs within each radius
    def brute(maxHam: Int) = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= maxHam
    } yield (ida, idb, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    // radius 8 exercises the 9-chunk x 7-bit generalization (bit 63
    // uncovered — pigeonhole must still hold); radius 3 the 16-bit path
    for (r <- Seq(3, 8)) {
      val got = Multimodal.mmPhashPairs(spark, sf, r).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(got == brute(r), s"radius $r: missing=${brute(r) -- got} extra=${got -- brute(r)}")
    }
  }

  /** Quantized corpus collected once for the driver-side recounts of
    * the k-center / hard-negative operators (sf0.001 is small by
    * construction; the operators themselves never collect it).
    */
  private lazy val vecs: Array[(Long, Array[Long], Long)] =
    graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint)) as q")
      .collect()
      .map { r =>
        val q = r.getSeq[Long](1).toArray
        (r.getLong(0), q, q.map(x => x * x).sum)
      }

  test("k-center: matches a driver-side greedy replay; radii non-increasing") {
    val got = SimilarityOps.simKcenterSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // greedy farthest-point replay over the collected corpus
    def d2(a: Array[Long], na: Long, b: Array[Long], nb: Long): Long = {
      var dot = 0L; var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      na + nb - 2 * dot
    }
    var centers = Vector(vecs.minBy(_._1))
    var expect = Vector((1L, centers.head._1, 0L))
    for (r <- 2 to 8) {
      val cand = vecs.filter(v => !centers.exists(_._1 == v._1))
        .map(v => (v, centers.map(c => d2(v._2, v._3, c._2, c._3)).min))
      val best = cand.minBy { case (v, mind) => (-mind, v._1) }
      centers = centers :+ best._1
      expect = expect :+ ((r.toLong, best._1._1, best._2))
    }
    assert(got.toSeq == expect, s"got=${got.toSeq}\nexpect=$expect")
    // Gonzalez invariant: the max-min radius achieved at each selection
    // never increases as the set grows
    val radii = got.toSeq.drop(1).map(_._3)
    assert(radii == radii.sorted.reverse, s"radii not non-increasing: $radii")
  }

  test("hard negatives: label partition correct, top-3 per kind by brute force") {
    val labels = graft.sources.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val got = SimilarityOps.simHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
    // every emitted row's kind agrees with the label table
    got.foreach { case (qid, cid, kind, _, _) =>
      val expectKind = if (labels(qid) == labels(cid)) "pos" else "neg"
      assert(kind == expectKind, s"($qid,$cid) tagged $kind, labels say $expectKind")
    }
    // brute-force recount per (probe, kind)
    val byQ = vecs.map(v => (v._1, v)).toMap
    for (qid <- got.map(_._1).distinct; kind <- Seq("pos", "neg")) {
      val (_, qv, qn) = byQ(qid)
      val want = vecs.filter(v => v._1 != qid)
        .filter(v => (labels(v._1) == labels(qid)) == (kind == "pos"))
        .map { case (cid, cv, cn) =>
          var dot = 0L; var i = 0
          while (i < cv.length) { dot += qv(i) * cv(i); i += 1 }
          (cid, dot / (math.sqrt(qn.toDouble) * math.sqrt(cn.toDouble)))
        }
        .sortBy { case (cid, cos) => (-cos, cid) }.take(3).map(_._1).toSeq
      val have = got.filter(g => g._1 == qid && g._3 == kind)
        .sortBy(_._5).map(_._2).toSeq
      assert(have == want, s"qid=$qid kind=$kind: have=$have want=$want")
    }
  }

  test("k-core: matches a driver peel; converges within bound; clique/chain fixture") {
    val sp = spark
    import sp.implicits._
    // corpus graph: output equals a driver-side peel to fixpoint AND
    // an extra round changes nothing (the 8-round unroll is exact)
    val edges = DedupOps.dedupSimHashPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    def peel(k: Int): Map[Long, Long] = {
      var alive = edges.flatMap(e => Seq(e._1, e._2)).toSet
      var removedAt = Map.empty[Long, Long]
      var r = 1L
      var changed = true
      while (changed) {
        val deg = alive.map(n => n -> edges.count(e =>
          (e._1 == n && alive(e._2)) || (e._2 == n && alive(e._1))).toLong).toMap
        val drop = alive.filter(deg(_) < k)
        changed = drop.nonEmpty
        removedAt = removedAt ++ drop.map(_ -> r)
        alive = alive -- drop
        r += 1
      }
      removedAt.withDefaultValue(0L)
    }
    val expect = peel(2)
    for (rounds <- Seq(8, 9)) {
      val got = GraphOps.kCore(
        DedupOps.dedupSimHashPairs(spark, sf)
          .selectExpr("doc_a as src", "doc_b as dst"), 2, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      got.foreach { case (n, rr, core) =>
        assert(rr == expect(n), s"node $n removed at $rr, expected ${expect(n)}")
        assert(core == (if (expect(n) == 0L) 1L else 0L))
      }
    }
    // synthetic: a 4-clique survives the 2-core, a pendant chain peels
    val fixture = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 10L), (10L, 11L), (11L, 12L)).toDF("src", "dst")
    val out = GraphOps.kCore(fixture, 2, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    for (n <- Seq(1L, 2L, 3L, 4L)) assert(out(n) == (0L, 1L), s"clique node $n peeled")
    assert(out(12L)._2 == 0L && out(11L)._2 == 0L && out(10L)._2 == 0L,
      "chain must peel out of the 2-core")
    // peeling order: the chain unravels outside-in
    assert(out(12L)._1 < out(11L)._1 || out(12L)._1 == 1L)
  }

  test("matryoshka eval: overlap matches a driver recount of both rankings") {
    val rows = SimilarityOps.simMatryoshkaEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 10)
    def top5(qid: Long, dims: Int): Seq[Long] = {
      val (_, qv, _) = vecs.find(_._1 == qid).get
      val qs = qv.take(dims)
      val qn = math.sqrt(qs.map(x => x * x).sum.toDouble)
      vecs.filter(_._1 != qid).map { case (cid, cv, _) =>
        val cs = cv.take(dims)
        var dot = 0L; var i = 0
        while (i < dims) { dot += qs(i) * cs(i); i += 1 }
        (cid, dot / (qn * math.sqrt(cs.map(x => x * x).sum.toDouble)))
      }.sortBy { case (cid, cos) => (-cos, cid) }.take(5).map(_._1).toSeq
    }
    rows.foreach { case (qid, nExact, nOverlap, top1, overlapMilli) =>
      val t64 = top5(qid, 64)
      val t16 = top5(qid, 16)
      assert(nExact == 5)
      assert(nOverlap == t64.toSet.intersect(t16.toSet).size.toLong,
        s"qid=$qid overlap $nOverlap vs driver ${t64.toSet.intersect(t16.toSet).size}")
      assert(top1 == (if (t64.head == t16.head) 1L else 0L))
      assert(overlapMilli == 1000 * nOverlap / 5)
    }
  }

  test("canonical-by-quality: one keeper per cluster, keeper maximizes (quality, -id)") {
    val rows = GraphOps.dedupCanonicalQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val keepers = members.filter(_._5 == 1L)
      assert(keepers.length == 1, s"cluster $cid has ${keepers.length} keepers")
      val best = members.maxBy { case (id, _, q, _, _) => (q, -id) }
      assert(keepers.head._1 == best._1, s"cluster $cid keeper ${keepers.head._1} != ${best._1}")
      members.foreach { m => assert(m._4 == best._1, "keeper_id must be uniform per cluster") }
    }
    // same clusters as the min-id rule — only the survivor choice differs
    val minIdKeepers = GraphOps.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, cid, _, _, _) => assert(minIdKeepers(id) == cid) }
  }

  test("dsir model artifacts stay bounded as the corpus doubles") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val doubled = docs.unionByName(docs.selectExpr("doc_id + 1000000 as doc_id",
      "text", "lang", "source", "n_chars"))
    val (w1, n1) = CurateOps.dsirModel(docs)
    val (w2, n2) = CurateOps.dsirModel(doubled)
    // the model is the 64-bucket table + 1 normalizer row at ANY corpus
    // size — the property that makes it broadcastable at 100 TB
    assert(w1.count() <= 64 && w2.count() <= 64)
    assert(n1.count() == 1 && n2.count() == 1)
    // duplicating every document doubles all counts: the +1 smoothing
    // can shift a floored log by at most one bit per bucket
    val m1 = w1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = w2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1.keySet == m2.keySet)
    m1.foreach { case (b, w) => assert(math.abs(m2(b) - w) <= 1000, s"bucket $b: $w vs ${m2(b)}") }
  }

  test("recall eval: hits bounded by n_exact, recall in [0,1000], consistent") {
    val rows = SimilarityOps.simRecallEval(spark, sf).collect()
    assert(rows.length == 10, "one row per probe")
    rows.foreach { r =>
      val (n, lh, ih) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (lr, ir) = (r.getLong(4), r.getLong(5))
      assert(n == 5)
      assert(lh >= 0 && lh <= n && ih >= 0 && ih <= n)
      assert(lr == 1000 * lh / n && ir == 1000 * ih / n)
    }
    // the recall this operator reports must agree with a direct
    // intersection of the underlying operators' outputs
    val exact = SimilarityOps.simTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.simIvfTopK(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val qid = r.getLong(0)
      val want = ivf.filter(_._1 == qid).count(exact.contains)
      assert(r.getLong(3) == want, s"ivf_hits for $qid: ${r.getLong(3)} != $want")
    }
  }

  test("min_k: buffer stays O(k) at any group size; equals sorted-take-k") {
    import graft.functions.{MinK, MinKBuffer}
    // buffer-level bound: feed a buffer far more values than k and
    // assert the serialized state never exceeds the fixed 4+8k bytes —
    // the exact property collect_list-then-slice lacks (its buffer is
    // O(group), which OOMs on a stop-word term at corpus scale)
    val k = 20
    val buf = new MinKBuffer(k)
    val rng = new scala.util.Random(11)
    val fed = Array.fill(100000)(rng.nextLong())
    fed.foreach(buf.insert)
    val agg = MinK(org.apache.spark.sql.catalyst.expressions.Literal(0L), k)
    assert(agg.serialize(buf).length == 4 + 8 * k,
      "aggregate state must be the fixed k-slot buffer regardless of group size")
    assert(java.util.Arrays.copyOfRange(buf.slots, 0, buf.n).toSeq ==
      fed.sorted.take(k).toSeq)
    // merge: two disjoint halves merge to the global min-k
    val (l, r) = (new MinKBuffer(k), new MinKBuffer(k))
    fed.take(50000).foreach(l.insert); fed.drop(50000).foreach(r.insert)
    val m = l.mergeWith(r)
    assert(java.util.Arrays.copyOfRange(m.slots, 0, m.n).toSeq == fed.sorted.take(k).toSeq)
    // end-to-end: a term present in EVERY document (the hot-key case)
    // aggregates under multiple partitionings to the same bounded list
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val docsDf = (1L to 500L).map(i => (i, s"the doc$i")).toDF("doc_id", "text")
    def run(parts: Int) = docsDf.repartition(parts)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 3).distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", graft.functions.MinKAgg.minK(col("doc_id"), k)).as("postings"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    val one = run(1)
    assert(one("the")._1 == 500L, "hot term must keep its true df")
    assert(one("the")._2 == (1L to 20L).mkString(","),
      s"hot term postings must be the 20 smallest doc_ids: ${one("the")._2}")
    assert(run(7) == one && run(32) == one, "result must be partitioning-invariant")
  }

  test("graph family on a power-law hub: exact at 1x/2x/4x hub degree") {
    // the 100 TB graph hazard is the skewed key: one hub node whose
    // degree is ~half the node count. CC, k-core, and triangles must
    // stay EXACT as the hub degree doubles twice — the degree-ordered
    // wedge orientation and the semi-join peels are the mechanisms;
    // this pins their output on a graph shaped to break naive
    // formulations (a hub wedge set is O(deg²) if oriented wrong).
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions._
    def hubGraph(n: Int) = {
      val hub = (1 to n).map(i => (0L, i.toLong))          // star: hub 0 → 1..n
      val fan = (1 until n).map(i => (i.toLong, (i + 1).toLong)) // spoke path: triangles (0,i,i+1)
      val clique = for { i <- 1 to 4; j <- i + 1 to 4 }
        yield ((n + i).toLong, (n + j).toLong)             // detached 4-clique
      val chain = (0 until 9).map(i => ((n + 5 + i).toLong, (n + 6 + i).toLong))
      (hub ++ fan ++ clique ++ chain).toDF("src", "dst")
    }
    for (n <- Seq(500, 1000, 2000)) {
      val edges = hubGraph(n)
      val labs = GraphOps.connectedComponents(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert((0 to n).forall(i => labs(i.toLong) == 0L), s"hub component broken at n=$n")
      assert((n + 1 to n + 4).forall(i => labs(i.toLong) == (n + 1).toLong))
      assert((n + 5 to n + 14).forall(i => labs(i.toLong) == (n + 5).toLong))
      // k=3, 8 bounded peels: path-end spokes (degree 2) cascade inward
      // one step per round, so after 8 rounds the cascade has removed
      // exactly the 8 outermost spokes each side — hub and interior
      // spokes are alive (bounded-peel semantics), the 4-clique
      // (degree 3 each) survives any number of rounds, the chain
      // peels entirely within 5 rounds
      val core = GraphOps.kCore(edges.select(col("src"), col("dst")), 3, 8).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toMap
      assert((n + 1 to n + 4).forall(i => core(i.toLong) == 1L), "clique must be in the 3-core")
      assert((n + 5 to n + 14).forall(i => core(i.toLong) == 0L), "chain must peel")
      assert(core(0L) == 1L && core((n / 2).toLong) == 1L,
        "hub and interior spokes must survive 8 peels at k=3")
      assert(core(1L) == 0L && core(8L) == 0L && core(9L) == 1L,
        "cascade must reach exactly depth 8 in 8 rounds")
      // triangles: each path edge (i, i+1) closes with the hub → n−1
      // hub triangles; the clique adds C(4,3)=4. Hub count = n−1 —
      // LINEAR in hub degree, which only holds when wedges are
      // generated from the degree-ordered orientation
      val tri = GraphOps.triangleCounts(
          edges.select(col("src").as("a"), col("dst").as("b")))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(tri(0L) == (n - 1).toLong, s"hub triangle count at n=$n: ${tri(0L)}")
      assert((n + 1 to n + 4).forall(i => tri(i.toLong) == 3L), "clique corners close 3 each")
      assert(tri(1L) == 1L && tri(2L) == 2L, "path ends close 1, interior spokes 2")
    }
  }

  test("k-center: literal and broadcast center paths select identically; broadcast plan flat in k") {
    // equality at the default k: the operator dispatches to the literal
    // path at k=8 — re-run the same greedy loop through the broadcast
    // path and require the identical selection
    val lit8 = SimilarityOps.simKcenterSelect(spark, sf, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint))").as("q"))
      .withColumn("nq", expr("dot_i64(q, q)")).cache()
    val seed = e.orderBy(col("vec_id")).limit(1).head()
    var centers = Vector[(Long, Long, Long, Array[Long], Long)](
      (1L, seed.getLong(0), 0L, seed.getSeq[Long](1).toArray, seed.getLong(2)))
    for (r <- 2 to 8) {
      val n = SimilarityOps.kcenterRound(spark, e, centers, literalCenters = false).head()
      centers = centers :+ ((r.toLong, n.getLong(0), n.getLong(1),
        n.getSeq[Long](2).toArray, n.getLong(3)))
    }
    assert(centers.map(c => (c._1, c._2, c._3)) == lit8,
      "broadcast-centers path must reproduce the literal path's selection")
    // plan-size: the broadcast round's per-k growth must be an order of
    // magnitude under the literal path's O(k·dim) literal inlining (the
    // reason the dispatch exists). Both still carry the k-sized
    // excluded-id list — an InSet hash lookup, not a codegen concern —
    // so compare GROWTH between k=16 and k=64, not absolute size.
    val rng = new scala.util.Random(3)
    def fake(k: Int) = (1 to k).map(i =>
      (i.toLong, 100000L + i, 0L, Array.fill(64)(rng.nextInt(2000).toLong), 1L))
    def planLen(k: Int, literal: Boolean) = SimilarityOps
      .kcenterRound(spark, e, fake(k), literalCenters = literal)
      .queryExecution.executedPlan.toString.length
    val bGrow = planLen(64, false) - planLen(16, false)
    val lGrow = planLen(64, true) - planLen(16, true)
    assert(bGrow * 10 <= lGrow,
      s"broadcast-round plan growth $bGrow not an order under literal growth $lGrow")
  }

  test("knn classify: vote accounting exact vs a driver recount; beats chance") {
    val out = SimilarityOps.simKnnClassify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && out.forall(r => r._1 % 5 == 0), "test split is vec_id % 5 == 0")
    assert(out.forall(r => r._4 >= 1 && r._4 <= 5), "votes bounded by k")
    // driver recount for every test vector: exact 5-NN among train by
    // cosine (ties by id), then majority with smaller-label tie-break
    val all = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(label as long) label",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint)) q")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val train = all.filter(_._1 % 5 != 0)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var d = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    out.foreach { case (vid, trueLbl, pred, votes) =>
      val me = all.find(_._1 == vid).get
      assert(me._2 == trueLbl)
      val nn = train.map(t => (cos(me._3, t._3), t._1, t._2))
        .sortBy { case (c, id, _) => (-c, id) }.take(5)
      val tally = nn.groupBy(_._3).map { case (l, g) => (l, g.size.toLong) }
      val (bestLbl, bestVotes) = tally.toSeq.maxBy { case (l, v) => (v, -l) }
      assert(pred == bestLbl && votes == bestVotes,
        s"vec $vid: engine ($pred, $votes) vs recount ($bestLbl, $bestVotes)")
    }
    // the synthetic labels are NOT embedding-correlated (measured
    // accuracy ≈ the 1-in-10 chance rate), so there is no meaningful
    // accuracy bar here — the recount above IS the correctness pin;
    // every emitted prediction must come from the train label domain
    val trainLabels = train.map(_._2).toSet
    assert(out.forall(r => trainLabels.contains(r._3)))
  }

  test("fuzzy decontamination: coverage, admit consistency, fingerprint recount") {
    val out = DedupOps.dedupDecontaminateFuzzy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))) fp")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exactly the training (non-eval) docs are judged, each once
    assert(out.map(_._1).toSet == docs.map(_._1).filter(_ % 20 != 0).toSet)
    assert(out.length == out.map(_._1).distinct.length)
    // admit is exactly "no exact hit and no fuzzy hit"
    out.foreach { case (_, ex, near, admit) =>
      assert(admit == (if (ex == 0 && near == 0) 1L else 0L))
    }
    // exact_dup agrees with a driver fingerprint recount vs the eval set
    val evalFps = docs.filter(_._1 % 20 == 0).map(_._2).toSet
    val fpOf = docs.toMap
    out.foreach { case (id, ex, _, _) =>
      assert(ex == (if (evalFps.contains(fpOf(id))) 1L else 0L),
        s"doc $id exact_dup=$ex disagrees with fingerprint recount")
    }
    // the exact-overlap operator and the fuzzy one must agree that an
    // exact fingerprint copy of an eval doc is contaminated (identical
    // normalized text shares every 8-gram)
    val exactTest = graft.operators.CurateOps.dedupDecontaminate(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    out.filter(_._2 == 1L).foreach { case (id, _, _, _) =>
      val (n8, contaminated) = exactTest(id)
      assert(n8 == 0 || contaminated == 1L,
        s"doc $id: fingerprint copy of an eval doc but 8-gram test says clean")
    }
  }

  test("exact quantiles: bucket-width invariant, equals a driver-side sort") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val centsCol = expr("cast(round(l_extendedprice * 100) as bigint)")
    val vals = li.select(centsCol.as("v")).collect().map(_.getLong(0)).sorted
    val n = vals.length
    // min v with 100*cum >= q*n  ⇔  the ceil(q*n/100)-th sorted value
    def ref(q: Int) = vals((((q.toLong * n + 99) / 100).toInt - 1).max(0))
    val qs = Seq(25, 50, 75, 99)
    // the distributed two-pass answer must not depend on bucketing:
    // width 1 (coarse pass IS the histogram), the default, and a width
    // larger than the domain (fine pass does all the work)
    for (b <- Seq(0L, 1L, 16384L, 1L << 40)) {
      val got = ScaleOps.exactQuantiles(li, centsCol, qs, b).toMap
      qs.foreach(q => assert(got(q) == ref(q),
        s"q$q at bucketWidth=$b: got ${got(q)}, sort says ${ref(q)}"))
    }
  }

  test("exact quantiles: adaptive width bounds the coarse pass on a sparse 64-bit domain") {
    import org.apache.spark.sql.functions._
    // epoch-nanos-shaped domain: microsecond event times scaled to
    // nanos — range ~10^14 with only ~10^4 distinct values, the shape
    // where a fixed 16384 width degenerates to one coarse bucket per
    // value and the driver collect grows with the corpus
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val nanosCol = expr("ts_us * 1000")
    val vals = ev.select(nanosCol.as("v")).collect().map(_.getLong(0)).sorted
    val n = vals.length
    def ref(q: Int) = vals((((q.toLong * n + 99) / 100).toInt - 1).max(0))
    val qs = Seq(25, 50, 75, 99)
    val got = ScaleOps.exactQuantiles(ev, nanosCol, qs).toMap
    qs.foreach(q => assert(got(q) == ref(q),
      s"q$q adaptive: got ${got(q)}, sort says ${ref(q)}"))
    // the derived width actually coarsens (range/2^20 >> 1 here), so
    // the coarse histogram is ≤ 2^20 + 1 rows by construction — the
    // fixed default would have been range/16384 ≈ 10^10 possible slots
    val r = ev.agg(min(nanosCol.cast("long")), max(nanosCol.cast("long"))).head()
    val range = r.getLong(1) - r.getLong(0)
    assert(range / (1L << 20) > 1L,
      s"domain not sparse enough to exercise the adaptive path (range=$range)")
  }

  test("exact quantiles: recursive refinement bounds every driver collect on a dense narrow band") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // the dense-narrow-band shape: a 2^50-wide domain (epoch-nanos
    // across ~2 weeks) whose mass sits in one narrow dense band — the
    // top-level derived width is 2^30, so ONE coarse bucket holds the
    // whole band and the pre-refinement fine pass would have collected
    // all ~50k distinct values of that bucket onto the driver
    val base = 1L << 49
    val band = sp.range(0L, 50001L).select((lit(base) + col("id")).as("v"))
    val sentinels = Seq(0L, 1L << 50).toDF("v")
    val df = band.unionByName(sentinels)
    val vals = df.collect().map(_.getLong(0)).sorted
    val n = vals.length
    def ref(q: Int) = vals((((q.toLong * n + 99) / 100).toInt - 1).max(0))
    val qs = Seq(25, 50, 75, 99)
    val collects = scala.collection.mutable.ArrayBuffer[Long]()
    val fineLimit = 1000L
    val got = ScaleOps.exactQuantiles(df, col("v"), qs, 0L, fineLimit,
      sz => collects.synchronized { collects += sz }).toMap
    qs.foreach(q => assert(got(q) == ref(q),
      s"q$q refined: got ${got(q)}, sort says ${ref(q)}"))
    // the hot band forces ≥ 2 refinement levels (2^30 → 2^10 → 1), so
    // strictly more collects than the two-pass shape's coarse+fine
    assert(collects.length > 2, s"refinement did not recurse: $collects")
    // EVERY driver collect stays under the construction bound — in
    // particular no collect ever approaches the 50k distinct values of
    // the hot bucket the old fine pass would have gathered
    val bound = math.max((1L << 20) + 1, qs.length * fineLimit)
    collects.foreach(c => assert(c <= bound, s"collect $c exceeds bound $bound"))
    assert(collects.max < 50001L,
      s"a collect gathered the whole hot band: ${collects.max}")
  }

  test("containment dedup: smaller side >= 80% contained; complete vs a driver shingle replay") {
    val rows = DedupOps.dedupContainment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty, "sf0.001 corpus must contain containment pairs")
    val sets = DedupOps.shingles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    rows.foreach { case (a, b, nInter, nA, nB, ppm, contained) =>
      val (sa, sb) = (sets(a), sets(b))
      assert(nA == sa.size && nB == sb.size, s"($a,$b) set sizes")
      assert(nInter == sa.intersect(sb).size, s"($a,$b) intersection")
      assert(5 * nInter >= 4 * math.min(nA, nB), s"($a,$b) below threshold")
      assert(ppm == 1000000L * nInter / math.min(nA, nB), s"($a,$b) cont_ppm")
      val expect = if (nA < nB) a else if (nB < nA) b else math.max(a, b)
      assert(contained == expect, s"($a,$b) contained_doc")
    }
    // completeness: every >= 80%-contained pair in the brute-force
    // all-pairs replay is reported (the df guard can only drop pairs
    // whose shared shingles are ALL hot — none at this corpus)
    val found = rows.map(r => (r._1, r._2)).toSet
    val ids = sets.keys.toSeq.sorted
    for (i <- ids; j <- ids if i < j) {
      val ni = sets(i).intersect(sets(j)).size
      if (ni > 0 && 5L * ni >= 4L * math.min(sets(i).size, sets(j).size))
        assert(found((i, j)), s"missing contained pair ($i,$j)")
    }
  }

  test("mm canonical: one keeper per phash cluster, keeper maximizes (bytes, -id)") {
    val rows = Multimodal.mmCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "sf0.001 corpus must contain phash near-dups")
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4 == 1L) == 1, s"cluster $cid keeper count != 1")
      val keeper = members.find(_._4 == 1L).get
      val best = members.maxBy(m => (m._3, -m._1))
      assert(keeper._1 == best._1,
        s"cluster $cid keeper ${keeper._1} is not argmax(bytes, -id) ${best._1}")
      // every member connects into the cluster via the pair graph
      assert(members.forall(_._2 == cid))
    }
  }

  test("ccnet buckets: value-threshold terciles, monotone and ~N/3 up to ties") {
    val rows = operators.TextOps.txtCcnetBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val n = rows.length
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // monotone: every head score <= every middle score <= every tail
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // threshold semantics: head holds at least ceil(N/3) docs (ties can
    // only push it OVER, never under), and head+middle at least 2N/3
    assert(3 * byBucket("head").size >= n,
      s"head ${byBucket("head").size} of $n under the tercile")
    assert(3 * (byBucket("head").size + byBucket("middle").size) >= 2 * n)
    // ties land together: no score value appears in two buckets
    val perValue = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct.size)
    assert(perValue.values.forall(_ == 1), "a score value straddles buckets")
  }

  test("PQ Lloyd loop releases superseded codebook caches") {
    // the loop caches a refined codebook per iteration; each superseded
    // one must be unpersisted or a bigger copy of this loop leaks
    // executor storage for the session. Expected survivors: the vector
    // cache, the subvector cache, and the FINAL codebook — growth ≤ 3
    // cached RDDs, independent of the iteration count.
    val before = spark.sparkContext.getPersistentRDDs.size
    SimilarityOps.simPqTopK(spark, sf).collect()
    val grown = spark.sparkContext.getPersistentRDDs.size - before
    assert(grown <= 3, s"cached-RDD growth $grown: superseded Lloyd codebooks leaked")
  }

  test("two-pass text operators hold one resident cache across re-invocations") {
    // ccnet/vocab cache their shared intermediate (threshold pass +
    // output pass); re-invoking must FREE the previous copy — bounded
    // storage however often a bench sweep or notebook calls them.
    // Start from a cleared SQL cache: another suite in this JVM may
    // have pre-warmed the very slots whose growth this test measures.
    // Count only SQL-cache entries — fixpoint memos hold localCheckpoint
    // RDDs whose ContextCleaner-driven release is ASYNC after a
    // clearCache, so raw getPersistentRDDs counts churn nondeterministically
    def sqlCached(): Int = spark.sparkContext.getPersistentRDDs.values
      .count(!_.toString.contains("localCheckpoint"))
    spark.catalog.clearCache()
    val before = sqlCached()
    TextOps.txtCcnetBuckets(spark, sf).collect()
    TextOps.txtVocabCoverage(spark, sf).collect()
    val after2 = sqlCached()
    assert(after2 > before, "the shared intermediates must actually be cached " +
      "(a cache-then-uncache bug makes this trivially zero)")
    TextOps.txtCcnetBuckets(spark, sf).collect()
    TextOps.txtVocabCoverage(spark, sf).collect()
    TextOps.txtCcnetBuckets(spark, sf).collect()
    val after5 = sqlCached()
    assert(after5 <= after2,
      s"resident caches grew across invocations: $after2 -> $after5")
    // an external clearCache() must not poison the slot: the next
    // invocation has to notice the cold entry and RE-cache, not keep
    // returning the de-cached plan forever. (Fixpoint MEMOs keep their
    // final localCheckpoint RDDs alive by design — the memoized table
    // depends on those blocks — so only SQL-cache entries must clear.)
    spark.catalog.clearCache()
    val nonMemo = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.toString.contains("localCheckpoint"))
    assert(nonMemo.isEmpty, s"SQL cache entries survived clearCache: $nonMemo")
    TextOps.txtCcnetBuckets(spark, sf).collect()
    assert(sqlCached() > 0,
      "slot must re-cache after an external clearCache")
  }

  test("diversity eval: full pair sets per method, means replay from raw vectors") {
    val rows = SimilarityOps.simDiversityEval(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("kcenter", "mmr", "first_k"))
    assert(rows("kcenter")._1 == 28L && rows("first_k")._1 == 28L && rows("mmr")._1 == 6L,
      s"pair counts: $rows")
    // replay first_k's mean from the raw embeddings (ids 0..7)
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") < 8)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint)) as q")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val cosMicros = for {
      a <- 0L until 8L; b <- (a + 1) until 8L
    } yield {
      val (va, vb) = (vecs(a), vecs(b))
      var dot = 0L; var i = 0
      while (i < va.length) { dot += va(i) * vb(i); i += 1 }
      val cos = dot / (math.sqrt(va.map(x => x * x).sum.toDouble) *
        math.sqrt(vb.map(x => x * x).sum.toDouble))
      math.floor(1000000.0 * cos).toLong
    }
    val sum = cosMicros.sum; val n = cosMicros.length
    val mean = (sum - (((sum % n) + n) % n)) / n
    assert(rows("first_k")._2 == mean, s"first_k mean ${rows("first_k")._2} != replay $mean")
  }

  test("lang confusion matrix: mass conserved, diagonal equals langid correct count") {
    val rows = TextOps.txtLangConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val li = TextOps.txtLangId(spark, sf).collect()
    assert(rows.map(_._3).sum == li.length, "matrix must cover every doc")
    val diag = rows.filter(r => r._1 == r._2).map(_._3).sum
    assert(diag == li.map(_.getLong(3)).sum, "diagonal != langid correct total")
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sum == g.head._4, "lang_total must equal the row mass")
      g.foreach(r => assert(r._5 == 1000000L * r._3 / r._4, "share arithmetic"))
    }
  }

  test("readability: formula replays and tracks vowel density") {
    val rows = TextOps.txtReadability(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (d, w, se, sy, fre) =>
      assert(w > 0 && se >= 1)
      assert(fre == 206835L - (1015L * w) / se - (84600L * sy) / w, s"doc $d formula")
    }
  }

  test("label propagation: seeds clamp, labels spread only along edges") {
    val langOf = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val edges = DedupOps.dedupSimHashPairs(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = GraphOps.graphLabelProp(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2)))
    assert(rows.nonEmpty, "sf0.001 pair graph must be nonempty")
    assert(rows.map(_._1).toSet == adj.keySet, "one row per graph node")
    val seedSet = adj.keySet.filter(_ % 3 == 0)
    rows.foreach { case (node, label, isSeed) =>
      assert((isSeed == 1L) == (node % 3 == 0))
      if (seedSet.contains(node))
        assert(label.contains(langOf(node)), s"seed $node lost its clamped label")
      // a non-seed label must be reachable: some node within 2 hops is a
      // seed carrying that lang (2 = the unrolled round count)
      else label.foreach { l =>
        val twoHop = adj(node) ++ adj(node).flatMap(adj.getOrElse(_, Set.empty))
        assert(twoHop.exists(m => seedSet.contains(m) && langOf(m) == l),
          s"node $node label $l has no 2-hop seed source")
      }
    }
    // deterministic: a second run (different partitioning) agrees exactly
    val again = GraphOps.graphLabelProp(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(again == rows.toSet, "label propagation must be partitioning-independent")
  }

  test("cluster-size histogram: buckets tile the dedupClusters sizes") {
    val sizes = GraphOps.dedupClusters(spark, sf).collect()
      .groupBy(_.getLong(1)).map { case (_, m) => m.length.toLong }.toSeq
    val rows = GraphOps.dedupClusterSizes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == sizes.length, "cluster count mismatch")
    assert(rows.map(_._3).sum == sizes.sum, "doc mass mismatch")
    rows.foreach { case (bucket, nClusters, nDocs) =>
      val inBucket = sizes.filter(sz => (63 - java.lang.Long.numberOfLeadingZeros(sz)) == bucket)
      assert(inBucket.length.toLong == nClusters, s"bucket $bucket cluster count")
      assert(inBucket.sum == nDocs, s"bucket $bucket doc mass")
    }
  }

  test("boilerplate removal: struck segments are exactly the df>=3 set, order kept") {
    val segs = TextOps.segments(
      graft.sources.Tables.load(spark, sf, "documents"), 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val df = segs.map(t => (t._1, t._3)).distinct.groupBy(_._2).map { case (s, m) => (s, m.length) }
    val boiler = df.filter(_._2 >= 3).keySet
    assert(boiler.nonEmpty, "corpus should contain cross-doc boilerplate")
    val out = TextOps.txtBoilerplateRemove(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    val expected = segs.groupBy(_._1).flatMap { case (doc, ss) =>
      val kept = ss.sortBy(_._2).filterNot(s => boiler.contains(s._3))
      if (kept.isEmpty) None
      else Some((doc, kept.length.toLong, kept.map(_._3).mkString(" ")))
    }.toSet
    assert(out.toSet == expected, "clean corpus mismatch vs replayed rule")
    assert(out.map(_._1).distinct.size == out.size, "one row per surviving doc")
  }

  test("vocab coverage: in-vocab mass >= 95% and the cutoff tier is load-bearing") {
    val rows = TextOps.txtVocabCoverage(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2) == 1L, r.getLong(3)))
    val total = rows.map(_._2).sum
    val fStar = rows.head._4
    rows.foreach { case (t, cnt, in, f) =>
      assert(f == fStar); assert(in == (cnt >= fStar), s"flag rule broken for $t")
    }
    val inMass = rows.filter(_._3).map(_._2).sum
    assert(inMass * 1000000L >= 950000L * total, "coverage target missed")
    // minimality: excluding the cutoff tier must drop below the target —
    // f* is the SMALLEST qualifying frequency, not an arbitrary one
    val withoutTier = rows.filter(t => t._2 > fStar).map(_._2).sum
    assert(withoutTier * 1000000L < 950000L * total, "cutoff tier not minimal")
  }

  test("hybrid search: RRF fuses the two retrievers' ranks exactly") {
    val lex = TextOps.txtBm25TopK(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toMap
    val dense = SimilarityOps.simTopK(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(4).toLong)).toMap
    val out = SimilarityOps.simHybridSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty && out.groupBy(_._1).forall(_._2.length == 5), "5 fused per query")
    out.foreach { case (qid, doc, lr, dr, rrf, _) =>
      assert(lr == lex.getOrElse((qid, doc), 0L), s"lex rank drift q$qid d$doc")
      assert(dr == dense.getOrElse((qid, doc), 0L), s"dense rank drift q$qid d$doc")
      val want = (if (lr > 0) 1000000000L / (60 + lr) else 0L) +
        (if (dr > 0) 1000000000L / (60 + dr) else 0L)
      assert(rrf == want, s"rrf recompute mismatch q$qid d$doc")
    }
    // fused_rank really orders by rrf desc, doc asc within each query
    out.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(t => (-t._5, t._2)).map(t => (t._2, t._6))
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, "rank sequence")
    }
  }

  test("MMR: round 1 is pure relevance, later rounds penalize redundancy") {
    val out = SimilarityOps.simMmrSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.map(_._2).distinct.length == 4, "selections must be distinct")
    val top = SimilarityOps.simTopK(spark, sf).collect()
      .filter(r => r.getLong(0) == 0L && r.getInt(4) == 1)
    assert(out.head._2 == top.head.getLong(1), "round 1 must equal the cosine argmax")
    assert(out.head._4 == 0.7 * out.head._3 - 0.3 * 0.0)
    // replay the scoring rule from raw vectors: mmr_r must equal
    // 0.7·rel − 0.3·max-cos-to-prior-selections exactly (signed cosines —
    // a negatively-correlated selection RAISES a later candidate's score,
    // so a "≤ pure relevance" bound would be wrong, not conservative)
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint)) as q")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def cosOf(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      var dot = 0L; var i = 0
      while (i < va.length) { dot += va(i) * vb(i); i += 1 }
      dot / (math.sqrt(va.map(x => x * x).sum.toDouble) * math.sqrt(vb.map(x => x * x).sum.toDouble))
    }
    out.tail.foreach { case (r, cid, rel, mmr) =>
      val prior = out.filter(_._1 < r).map(_._2)
      val redundancy = prior.map(p => cosOf(cid, p)).max
      assert(math.abs(mmr - (0.7 * rel - 0.3 * redundancy)) < 1e-9,
        s"round $r mmr replay mismatch")
    }
  }

  test("topic tag: per-doc argmax replays from raw tokens") {
    val lex = TextOps.TopicLexicon.flatMap { case (t, ks) => ks.map(_ -> t) }.toMap
    val toks = graft.sources.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        "filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), t -> t <> '') as w")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val expected = toks.flatMap { case (doc, ws) =>
      val hits = ws.flatMap(lex.get).groupBy(identity).map { case (t, m) => (t, m.size.toLong) }
      if (hits.isEmpty) None
      else Some((doc, hits.toSeq.minBy { case (t, h) => (-h, t) }))
    }.map { case (d, (t, h)) => (d, t, h) }.toSet
    val got = TextOps.txtTopicTag(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected, "topic argmax mismatch vs driver replay")
  }

  test("prefix groups: exactly the >=2 shared-32-char-prefix sets") {
    val prefixes = graft.sources.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id", "substring(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), 1, 32) as p")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = prefixes.groupBy(_._2).filter(_._2.length >= 2).map { case (p, m) =>
      (p, m.length.toLong, m.map(_._1).min, m.map(_._1).max)
    }.toSet
    val got = TextOps.txtPrefixGroups(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "corpus should contain shared openings")
  }

  test("novelty: earliest doc is all-novel, ppm replays from gram first-claims") {
    val rows = TextOps.txtNovelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val first = rows.minBy(_._1)
    assert(first._2 == first._3 && first._4 == 1000000L,
      "the earliest doc's grams have no earlier claimant")
    rows.foreach { case (d, g, nv, ppm) =>
      assert(nv <= g && ppm == 1000000L * nv / g, s"doc $d ppm arithmetic")
    }
    // novelty mass conservation: every distinct corpus gram is claimed as
    // novel by exactly one doc (its first), so the novel counts sum to the
    // corpus-wide distinct-gram count — recounted here from raw text
    val distinctGrams = graft.sources.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        "filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), t -> t <> '') as w")
      .collect().flatMap(r => r.getSeq[String](1).sliding(8).filter(_.length == 8).map(_.mkString(" ")))
      .distinct.length.toLong
    assert(rows.map(_._3).sum == distinctGrams, "novel mass != distinct gram count")
  }

  test("triplets: pos x neg assembly keeps exactly the margin-violating band") {
    val hn = SimilarityOps.simHardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
    val pos = hn.filter(_._3 == "pos").groupBy(_._1)
    val neg = hn.filter(_._3 == "neg").groupBy(_._1)
    val expected = pos.keySet.intersect(neg.keySet).flatMap { a =>
      for {
        p <- pos(a).toSeq; n <- neg(a).toSeq
        if n._4 + 0.2 > p._4
      } yield (a, p._2, n._2, p._5, n._5, p._4 - n._4)
    }
    val got = SimilarityOps.simTriplets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got == expected, "triplet band mismatch vs driver replay")
  }

  test("threshold histogram: buckets tile the verified pair set, cumulative exact") {
    val pairs = DedupOps.dedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))) // n_inter, n_a, n_b
    val expected = pairs.map { case (i, a, b) => (1000L * i / (a + b - i)) / 100L }
      .groupBy(identity).map { case (bk, m) => (bk, m.length.toLong) }
    val rows = DedupOps.dedupThresholdHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(r => (r._1, r._2)).toMap == expected, "decile counts mismatch")
    assert(rows.map(_._2).sum == pairs.length, "pair mass not conserved")
    rows.sortBy(-_._1).foldLeft(0L) { case (cum, (_, n, c)) =>
      assert(c == cum + n, "cumulative-at-or-above broken"); cum + n
    }
  }

  test("session text: sequences replay the gap rule and cover every event once") {
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_id", "ts_us", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expected = raw.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      var idx = 0L; var prev = Long.MinValue
      val tagged = sorted.map { e =>
        if (prev == Long.MinValue || e._3 - prev > 1800000000L) idx += 1
        prev = e._3; (idx, e)
      }
      tagged.groupBy(_._1).map { case (si, ses) =>
        val seq = ses.map(_._2)
        (u, si, seq.length.toLong, seq.map(_._3).min, seq.map(_._4).mkString(" "))
      }
    }.toSet
    val got = Events.qSessionText(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    assert(got == expected, "session assembly mismatch vs driver replay")
    assert(got.toSeq.map(_._3).sum == raw.length, "every event lands in one session")
  }

  test("event debounce: kept events are pairwise >= 300s apart per (user, type)") {
    val kept = Events.qEventDebounce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(kept.nonEmpty)
    kept.groupBy(k => (k._2, k._3)).values.foreach { g =>
      val ts = g.map(_._4).sorted.toSeq
      ts.sliding(2).foreach {
        case Seq(a, b) => assert(b - a > 300000000L, "kept burst not throttled")
        case _ =>
      }
    }
    // the first event of every (user, type) always survives with gap -1
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_type", "ts_us", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val firsts = raw.groupBy(e => (e._1, e._2)).values.map(_.minBy(e => (e._3, e._4))).toSet
    firsts.foreach { f =>
      assert(kept.exists(k => k._1 == f._4 && k._5 == -1L), s"first event ${f._4} dropped")
    }
  }

  test("dedup source matrix: pair mass conserved and cells replay from sources") {
    val srcOf = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = DedupOps.dedupSimHashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).map { case (k, m) => (k._1, k._2, m.length.toLong) }.toSet
    val got = DedupOps.dedupSourceMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected, "matrix cells mismatch vs driver replay")
    assert(got.toSeq.map(_._3).sum == pairs.length, "pair mass not conserved")
  }

  test("bucketed dedup index: probe equals in-memory index, index side never re-exchanges") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_bidx").toString
    val store = new graft.exec.RelationStore(spark, work)
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    val mem = DedupOps.buildDedupIndex(d.filter(!isNew))
    DedupOps.persistDedupIndex(mem, store, "idx", buckets = 8)
    val disk = DedupOps.loadDedupIndex(store, "idx")
    val fromMem = DedupOps.probeAgainstIndex(d.filter(isNew), mem).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probe = DedupOps.probeAgainstIndex(d.filter(isNew), disk)
    val fromDisk = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromDisk == fromMem, "bucketed index changed probe verdicts")
    // the bucketed layout must show up as bucket-pruned scans, and no
    // Exchange may sit directly above an index-table file scan — the
    // probe side is the only thing allowed to shuffle
    val plan = probe.queryExecution.executedPlan.toString
    val cut = plan.indexOf("== Initial Plan ==")
    val fp = if (cut >= 0) plan.substring(0, cut) else plan
    assert(fp.contains("SelectedBucketsCount"), "index scans should be bucketed")
    val exchangesOverIndexScan =
      "Exchange hashpartitioning[^\\n]*\\n[^\\n]*Scan parquet[^\\n]*idx_".r
        .findAllIn(fp).size
    assert(exchangesOverIndexScan == 0,
      s"index side re-exchanged:\n${fp.take(3000)}")
    // and the bucketing must not COST shuffles vs the in-memory
    // (unbucketed) index. NOTE: the probe's multi-consumer candidate
    // table is resident-cached since r8, so its interior band-join
    // exchanges print as InMemoryTableScan leaves in BOTH plans — the
    // strict saving is pinned by the zero-exchange-over-index-scan
    // assertion above; this comparison guards against a regression
    // that ADDS visible exchanges to the bucketed path
    val memProbe = DedupOps.probeAgainstIndex(d.filter(isNew), mem)
    memProbe.collect()
    val mp = memProbe.queryExecution.executedPlan.toString
    val mcut = mp.indexOf("== Initial Plan ==")
    val mfp = if (mcut >= 0) mp.substring(0, mcut) else mp
    def nExch(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nExch(fp) <= nExch(mfp),
      s"bucketed probe must not shuffle more: ${nExch(fp)} vs ${nExch(mfp)}")
  }

  test("persisted IVF index: probe equals in-memory IVF, scan pruned to probed cells") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    SimilarityOps.persistIvfIndex(spark, sf, path)
    val persisted = SimilarityOps.simIvfTopKPersisted(spark, sf, path)
    val got = persisted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val mem = SimilarityOps.simIvfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == mem, "persisted IVF ranking drifted from the in-memory path")
    // the cells scan must carry a partition filter on cell — the layout's
    // whole point is that unprobed cell directories are never read
    val plan = persisted.queryExecution.executedPlan.toString
    val m = "PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan)
    assert(m.isDefined, s"no cell partition filter in:\n${plan.take(3000)}")
    // and the pruning is real: at nProbe=1 the filter must enumerate a
    // strict subset of the 16 cells (at nProbe=4 the 10 probes happen
    // to cover every cell of this small corpus — pruning still applies,
    // just with nothing left to skip)
    val allCells = spark.read.parquet(s"$path/cells")
      .select("cell").distinct().count()
    assert(allCells == 16L, s"expected 16 cells, got $allCells")
    val one = SimilarityOps.simIvfTopKPersisted(spark, sf, path, nProbe = 1)
    one.collect()
    val onePlan = one.queryExecution.executedPlan.toString
    val m1 = "PartitionFilters: \\[[^\\]]*cell[^\\]]*INSET[^\\]]*\\]".r.findFirstIn(onePlan)
      .orElse("PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(onePlan))
    assert(m1.isDefined, "nProbe=1 probe lost its partition filter")
    val enumerated = ",".r.findAllIn(m1.get).size + 1
    assert(enumerated < allCells,
      s"nProbe=1 filter should enumerate a strict cell subset: $enumerated of $allCells — ${m1.get}")
  }

  test("IVF-PQ: answers from probed cells only; PQ ranks within honest distortion") {
    import org.apache.spark.sql.functions._
    val ivfpq = SimilarityOps.simIvfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(ivfpq.keySet == (0L until 10L).toSet, "every probe answered")
    assert(ivfpq.values.forall(_.size == 5), "full top-5 per probe")
    // structural containment: every returned candidate lives in one of
    // the probe's 4 cosine-probed cells (re-derived from the persisted
    // index layout, which OpsSpec separately pins equal to kmeansCells)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    SimilarityOps.persistIvfIndex(spark, sf, idx)
    val cellOf = spark.read.parquet(s"$idx/cells")
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = spark.read.parquet(s"$idx/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(x => math.round(x * 1000.0).toLong)))
    val byId = vecs.toMap
    def dot(x: Array[Long], y: Array[Long]) = x.zip(y).map { case (a, b) => a * b }.sum
    def l2(x: Array[Long], y: Array[Long]) = x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum
    val inCellRecalls = (0L until 10L).map { q =>
      val qv = byId(q)
      val nq = dot(qv, qv)
      val probed = cents.map { case (cid, cq, cn) =>
        (dot(qv, cq).toDouble / (math.sqrt(nq.toDouble) * math.sqrt(cn.toDouble)), -cid, cid)
      }.sorted.reverse.take(4).map(_._3).toSet
      ivfpq(q).foreach(c => assert(probed.contains(cellOf(c)),
        s"probe $q returned $c from unprobed cell ${cellOf(c)}"))
      // PQ distortion floor: vs the exact L2 top-5 WITHIN the probed
      // cells. M=8 subspaces × K=8 (3-bit) codes on a near-isotropic
      // synthetic corpus is deliberately coarse (the oracle replays 2
      // Lloyd iterations bit-exactly; K=256 is the production setting)
      // — measured macro ≈ 0.2 here; the floor guards against the
      // scoring wiring breaking outright (a broken LUT join scores
      // ~random ≈ 5/|cand| ≈ 0.04)
      val candIds = vecs.filter(v => v._1 != q && probed.contains(cellOf(v._1))).map(_._1)
      val exCell = candIds.map(id => (l2(qv, byId(id)), id)).sorted.take(5).map(_._2).toSet
      ivfpq(q).intersect(exCell).size / 5.0
    }
    val macroAvg = inCellRecalls.sum / inCellRecalls.size
    assert(macroAvg >= 0.1, s"in-cell PQ recall collapsed: $macroAvg")
    // determinism: a second invocation reproduces the ranking exactly
    val again = SimilarityOps.simIvfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(again == ivfpq, "IVF-PQ must be deterministic across invocations")
  }

  test("persisted IVF-PQ: probe equals in-memory ranking, code scan pruned to probed cells") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    SimilarityOps.persistIvfPqIndex(spark, sf, path)
    val persisted = SimilarityOps.simIvfPqTopKPersisted(spark, sf, path)
    val got = persisted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val mem = SimilarityOps.simIvfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == mem, "persisted IVF-PQ ranking drifted from the in-memory path")
    // the codes scan must carry a cell partition filter — unprobed
    // cells' code directories are never read
    val plan = persisted.queryExecution.executedPlan.toString
    val m = "PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan)
    assert(m.isDefined, s"no cell partition filter on the code scan:\n${plan.take(3000)}")
    // the layout holds codes only — M=8 rows of (m, c) per vector, no
    // raw vector column in the serving payload
    val codesSchema = spark.read.parquet(s"$path/codes").schema.fieldNames.toSet
    assert(codesSchema == Set("vec_id", "cell", "m", "c"),
      s"serving layout must hold codes, not vectors: $codesSchema")
    // ingest-path encode agrees with the training-path codes
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val re = SimilarityOps.ivfPqEncodeWith(vecs,
      spark.read.parquet(s"$path/centroids"), spark.read.parquet(s"$path/codebook"))
    val stored = spark.read.parquet(s"$path/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("m"), col("c"))
    assert(re.exceptAll(stored).count() == 0 && stored.exceptAll(re).count() == 0,
      "re-encoding under the frozen model must reproduce the stored codes")
  }

  test("resident cache: repeated sweeps and session-per-job hold bounded storage") {
    import graft.operators._
    def sweep(s: SparkSession): Unit = {
      DedupOps.dedupSimHashPairs(s, sf).collect()
      DedupOps.ngramJaccard(s, sf, maxDf = DedupOps.HotShingleMaxDf).collect()
      Multimodal.mmPhashPairs(s, sf).collect()
      GraphOps.graphTriangles(s, sf).collect()
      TextOps.txtCcnetBuckets(s, sf).collect()
    }
    sweep(spark)
    val rddsAfterFirst = spark.sparkContext.getPersistentRDDs.size
    val slotsAfterFirst = ResidentCache.liveSlots(spark.sparkContext)
    // second sweep from the SAME session: identical plans must reuse
    // the warm entries — zero growth in either the slot map or the
    // materialized RDD cache
    sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.size == rddsAfterFirst,
      "same-session re-sweep must not grow the persisted-RDD set")
    assert(ResidentCache.liveSlots(spark.sparkContext) == slotsAfterFirst,
      "same-session re-sweep must not grow the resident slot map")
    // session-per-job server: newSession() children share the context's
    // CacheManager, so per-job sessions must not pin per-session copies
    // (the slot key is the CONTEXT — dead sessions leave nothing behind)
    for (_ <- 1 to 3) sweep(spark.newSession())
    assert(spark.sparkContext.getPersistentRDDs.size == rddsAfterFirst,
      "session-per-job sweeps must not accumulate cached plans per dead session")
    assert(ResidentCache.liveSlots(spark.sparkContext) == slotsAfterFirst,
      "slot count must stay one per (context, slot) across sessions")
  }

  test("resident cache: per-context LRU cap evicts and re-memoizes; storage stays bounded") {
    import graft.operators._
    val sp = spark
    import sp.implicits._
    // a long-lived server sweeping many dataset dirs: slot names embed
    // the dir, so without a cap the maps grow one corpus-sized resident
    // plan per dir for the JVM lifetime
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.residentCache.maxSlots", "3")
    def build(i: Int) = Seq((i.toLong, s"dir$i")).toDF("id", "dir")
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    (1 to 8).foreach(i => ResidentCache.memo(s2, s"lru-test@dir$i")(build(i)).collect())
    assert(ResidentCache.liveMemos(spark.sparkContext) <= 3,
      s"memo map exceeded the cap: ${ResidentCache.liveMemos(spark.sparkContext)}")
    // eviction unpersisted — the 8 inserts can net at most cap new RDDs
    assert(spark.sparkContext.getPersistentRDDs.size <= rddsBefore + 3,
      "evicted memos left their cached RDDs behind")
    // an evicted slot re-memoizes: same data, re-cached, no staleness
    val r1 = ResidentCache.memo(s2, "lru-test@dir1")(build(1)).collect()
    assert(r1.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "dir1")),
      "re-memoized slot returned wrong data")
    // driver-held models mirror the same cap + rebuild-on-miss
    (1 to 8).foreach(i => ResidentCache.localModel(s2, s"lru-model@dir$i")(build(i)))
    assert(ResidentCache.liveModels(spark.sparkContext) <= 3,
      s"model map exceeded the cap: ${ResidentCache.liveModels(spark.sparkContext)}")
    val m1 = ResidentCache.localModel(s2, "lru-model@dir1")(build(1)).collect()
    assert(m1.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "dir1")),
      "re-trained model returned wrong data")
    // the resident slot cache trims the same way
    (1 to 8).foreach(i => ResidentCache(s2, s"lru-slot@dir$i", build(i)).collect())
    assert(ResidentCache.liveSlots(spark.sparkContext) <= 3,
      s"slot map exceeded the cap: ${ResidentCache.liveSlots(spark.sparkContext)}")
  }

  test("resident cache: byte budget yields residency, never results") {
    import graft.operators._
    val sp = spark
    import sp.implicits._
    val s2 = spark.newSession()
    // a 1-byte budget: any materialized cached block puts the block
    // manager over it, so the next install must shed resident entries
    s2.conf.set("spark.graft.residentCache.maxStorageBytes", "1")
    def build(i: Int) = Seq((i.toLong, s"bytes$i")).toDF("id", "tag")
    val evictionsBefore = ResidentCache.counters("evictions_bytes")
    ResidentCache(s2, "bb-a", build(1)).collect() // materializes slot a
    ResidentCache(s2, "bb-b", build(2)).collect() // install sees a's bytes > budget
    assert(ResidentCache.counters("evictions_bytes") > evictionsBefore,
      "over-budget storage must trigger byte-budget evictions")
    // an evicted slot re-memoizes — identical data, only residency changed
    val r = ResidentCache(s2, "bb-a", build(1)).collect()
    assert(r.map(x => (x.getLong(0), x.getString(1))).toSeq == Seq((1L, "bytes1")),
      "byte-budget eviction must not change results")
    // budget 0 disables the byte trim (slot-count LRU still applies)
    s2.conf.set("spark.graft.residentCache.maxStorageBytes", "0")
    val n0 = ResidentCache.counters("evictions_bytes")
    ResidentCache(s2, "bb-c", build(3)).collect()
    ResidentCache(s2, "bb-d", build(4)).collect()
    assert(ResidentCache.counters("evictions_bytes") == n0,
      "budget 0 must disable byte-budget evictions")
  }

  test("quantile sketch: rank error bounded and partitioning-stable at 1/4/32") {
    import org.apache.spark.sql.functions._
    // amplify the event stream 100x so per-type groups far exceed k —
    // the sketch must actually compact, not just hold everything
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), Relational.cents(col("value")).as("cents"))
      .withColumn("r", explode(sequence(lit(1L), lit(100L))))
      .select(col("event_type"), (col("cents") + pmod(col("r"), lit(7L))).as("cents"))
    val exact = ev.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    for (p <- Seq(1, 4, 32)) {
      val est = ScaleOps.quantileSketchOf(ev.repartition(p)).collect()
      assert(est.nonEmpty)
      est.foreach { r =>
        val t = r.getString(0); val n = r.getLong(1)
        assert(n > 256 * 4, s"$t must be large enough to force compaction")
        val sorted = exact(t)
        for ((q, idx) <- Seq((0.5, 2), (0.9, 3), (0.99, 4))) {
          val v = r.getLong(idx)
          val rank = sorted.count(_ <= v).toLong
          val target = (q * n).toLong
          assert(math.abs(rank - target) <= math.max(4L, n / 20),
            s"$t q=$q under $p partitions: rank $rank vs target $target of $n")
        }
      }
    }
  }

  test("mm probe against the bucketed phash index matches the pair-set ground truth") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // parity split: this corpus's phash pairs straddle it (the %10
    // ingest split used elsewhere happens to put all pairs one side)
    val isNew = pmod(col("doc_id"), lit(2)) === 1
    val wh = java.nio.file.Files.createTempDirectory("graft_mmidx").toString
    val store = new graft.exec.RelationStore(spark, wh)
    Multimodal.persistMmPhashIndexOf(docs.filter(!isNew), store, "mmidx")
    val verdicts = Multimodal
      .mmProbeAgainstIndex(docs.filter(isNew), store.read("mmidx_chunks"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // ground truth: the full-corpus pair set restricted to (new, old)
    val pairs = Multimodal.mmPhashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val newSet = docs.filter(isNew).select("doc_id").collect().map(_.getLong(0)).toSet
    val cross = pairs.flatMap { case (a, b, h) =>
      Seq((a, b, h), (b, a, h)).filter { case (x, y, _) => newSet(x) && !newSet(y) } }
    val best = cross.groupBy(_._1).map { case (d, vs) =>
      d -> vs.map(v => (v._3, v._2)).min }
    assert(best.nonEmpty, "the corpus contains cross-slice near-dup payloads")
    best.foreach { case (d, (h, idx)) =>
      assert(verdicts(d) == ((idx, h, 1L)),
        s"probe verdict for $d: ${verdicts(d)} != ($idx, $h, dup)")
    }
    verdicts.foreach { case (d, (dupOf, _, isDup)) =>
      if (isDup == 0L) assert(!best.contains(d), s"$d should have matched")
      else assert(best(d)._2 == dupOf)
    }
  }

  test("IVF-PQ compaction touches only delta cells and serves appended codes") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_cmp").toString
    SimilarityOps.persistIvfPqIndex(spark, sf, path)
    val centroids = spark.read.parquet(s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebook")
    // "arriving" vectors: the first 20 embeddings re-ingested under new ids
    val newVecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val delta = SimilarityOps.ivfPqEncodeWith(newVecs, centroids, cb)
    val touched = delta.select(col("cell")).distinct().collect().map(_.getLong(0)).toSet
    def cellFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$path/codes")
      root.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      }.toMap
    }
    val before = cellFiles()
    def codeSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("cell").cast("long"),
        col("m").cast("long"), col("c").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val beforeCodes = codeSet(spark.read.parquet(s"$path/codes"))
    SimilarityOps.compactIvfPqIndex(spark, path, delta)
    val after = cellFiles()
    val untouched = before.keySet.filter(d => !touched.contains(d.stripPrefix("cell=").toLong))
    assert(untouched.nonEmpty, "the 20-vector delta should leave some cells untouched")
    untouched.foreach { d =>
      assert(after(d) == before(d), s"untouched cell dir $d was rewritten")
    }
    // merged layout = old codes + delta codes, exactly
    val afterCodes = codeSet(spark.read.parquet(s"$path/codes"))
    val deltaSet = codeSet(delta)
    assert(afterCodes == beforeCodes ++ deltaSet)
    // idempotent: replaying the same delta changes nothing
    SimilarityOps.compactIvfPqIndex(spark, path, delta)
    val replay = codeSet(spark.read.parquet(s"$path/codes"))
    assert(replay == afterCodes, "compaction must be idempotent")
  }

  test("index fsck: clean after persist AND after rebalance; detects a planted orphan") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_fsck").toString
    SimilarityOps.persistIvfIndex(spark, sf, path)
    def report() = SimilarityOps.checkIvfIndex(spark, path).collect()(0)
    assert(report().getLong(5) == 1L, "fresh index must be consistent")
    SimilarityOps.rebalanceIvfIndex(spark, path, splitFactor = 1L)
    val afterRebal = report()
    assert(afterRebal.getLong(5) == 1L,
      s"rebalance must leave the layout consistent: $afterRebal")
    // simulate a rebalance interrupted BETWEEN the directory renames
    // and the old-dir deletes: members of a cell become visible under
    // a directory no centroid knows WHILE still living in their real
    // cells — exactly the on-disk state a mid-swap writer crash leaves
    val cellsDir = new java.io.File(s"$path/cells")
    val src = cellsDir.listFiles().filter(_.getName.startsWith("cell=")).head
    val orphan = new java.io.File(cellsDir, "cell=999")
    orphan.mkdir()
    src.listFiles().filter(_.getName.endsWith(".parquet")).take(1).foreach { f =>
      java.nio.file.Files.copy(f.toPath, orphan.toPath.resolve(f.getName))
    }
    val broken = report()
    assert(broken.getLong(2) >= 1L && broken.getLong(5) == 0L,
      s"the crashed-swap leftover dir must be reported as an orphan: $broken")
    assert(broken.getLong(4) >= 1L,
      s"the crashed-swap double-visibility must be reported as duplicate ids: $broken")
  }

  test("IVF rebalance: splits hot cells in place, preserves members, exact at full probe") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_rebal").toString
    SimilarityOps.persistIvfIndex(spark, sf, path)
    def sizes(): Map[Long, Long] = spark.read.parquet(s"$path/cells")
      .groupBy(col("cell").cast("long").as("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def members(): Set[Long] = spark.read.parquet(s"$path/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def cellFiles(): Map[String, Set[String]] = {
      new java.io.File(s"$path/cells").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    }
    val (sizesBefore, membersBefore, filesBefore) = (sizes(), members(), cellFiles())
    // splitFactor 1: every above-mean cell splits — guarantees action
    val split = SimilarityOps.rebalanceIvfIndex(spark, path, splitFactor = 1L)
    assert(split.nonEmpty, "this corpus has above-mean cells")
    val (sizesAfter, membersAfter, filesAfter) = (sizes(), members(), cellFiles())
    assert(membersAfter == membersBefore, "rebalance must not lose or invent vectors")
    assert(sizesAfter.values.max <= sizesBefore.values.max,
      "the hottest cell must not grow")
    split.foreach { c =>
      assert(!filesAfter.contains(s"cell=$c"), s"split cell $c's directory must be gone")
      assert(sizesAfter.keySet.intersect(Set(c)).isEmpty)
    }
    filesBefore.keySet.filterNot(d => split.contains(d.stripPrefix("cell=").toLong))
      .foreach { d =>
        assert(filesAfter(d) == filesBefore(d), s"untouched cell dir $d was rewritten")
      }
    // centroid table consistent with the directory layout
    val centIds = spark.read.parquet(s"$path/centroids")
      .select("centroid_id").collect().map(_.getLong(0)).toSet
    assert(centIds == sizesAfter.keySet, "centroids must mirror the cell directories")
    // probing EVERY cell after the rebalance is exactly brute force —
    // the structural invariant that the split lost nothing
    val full = SimilarityOps.simIvfTopKPersisted(spark, sf, path, nProbe = centIds.size)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val exact = SimilarityOps.simTopK(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(full == exact, "full-probe IVF after rebalance must equal exact top-k")
  }

  test("cluster fixpoint memo: one materialization serves the whole family") {
    val a = GraphOps.dedupClusters(spark, sf)
    a.count()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val b = GraphOps.dedupClusters(spark, sf)
    assert(a eq b, "second invocation must serve the memoized table, not re-run the fixpoint")
    b.count()
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "re-invocation must not materialize new state")
    // consumers derive from the same memo — cluster sizes agree with
    // the per-doc cluster_size column exactly
    val viaSizes = GraphOps.dedupClusterSizes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = a.groupBy(org.apache.spark.sql.functions.col("cluster_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("sz"))
      .groupBy((org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.bin(org.apache.spark.sql.functions.col("sz"))) - 1)
        .cast("long").as("bucket"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_clusters"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("sz")).cast("long").as("n_docs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSizes == direct)
  }

  test("paragraph dedup: kept segments unique, counts conserve, order survives") {
    import org.apache.spark.sql.functions._
    val out = TextOps.txtParagraphDedup(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nSegs = r.getLong(1); val nDupes = r.getLong(2)
      val segs = r.getString(3).split(" ").grouped(8).map(_.mkString(" ")).toSeq
      assert(nDupes >= 0 && nDupes < nSegs || (nSegs == 1 && nDupes == 0))
      // re-segmenting the cleaned text may split differently once
      // short (tail) segments merge, so pin the count identity instead:
      assert(nSegs - nDupes >= 1, s"doc ${r.getLong(0)} kept nothing")
    }
  }

  test("heaps curve: vocab and tokens monotone, hapax bounded by vocab") {
    val rows = TextOps.txtHeaps(spark, sf).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 10)
    rows.sliding(2).foreach { case Array((_, d1, t1, v1, _), (_, d2, t2, v2, _)) =>
      assert(d2 >= d1 && t2 >= t1 && v2 >= v1, "cumulative curves must be monotone")
    }
    rows.foreach { case (_, _, _, v, h) => assert(h <= v, "hapax <= vocab") }
  }

  test("trigram LM: backoff tiers ordered, hit count bounded") {
    val rows = TextOps.txtTrigramLm(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTri = r.getLong(1); val bits = r.getLong(2); val nHit3 = r.getLong(3)
      assert(nHit3 <= nTri)
      assert(bits >= 0, "stupid-backoff bits are non-negative by construction")
    }
  }

  test("embedding outliers: >= 90% of every cell is inliers (p90 histogram cut)") {
    import org.apache.spark.sql.functions._
    val byCell = SimilarityOps.embOutliers(spark, sf)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("is_outlier")).as("n_out"))
      .collect()
    assert(byCell.nonEmpty)
    byCell.foreach { r =>
      val n = r.getLong(1); val nOut = r.getLong(2)
      assert((n - nOut) * 10L >= n * 9L,
        s"cell ${r.getLong(0)}: $nOut outliers of $n breaks the p90 contract")
    }
  }

  test("snapshot diff: set identities hold per source") {
    val rows = CurateOps.curateSnapshotDiff(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (old, nw, add, rem, com, mov) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(old == com + rem, "old = common + removed")
      assert(nw == com + add, "new = common + added")
      assert(mov <= rem, "moved docs are a subset of removed")
    }
  }

  test("equi-depth bins: tile the domain, counts near n/4") {
    val rows = ScaleOps.qEquidepthBins(spark, sf).orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    val n = rows.map(_._2).sum
    rows.sliding(2).foreach { case Array((_, _, _, max1), (_, _, min2, _)) =>
      assert(max1 < min2, "bins must not overlap")
    }
    rows.foreach { case (b, cnt, _, _) =>
      // equi-depth up to value ties: each bin within 20% of n/4
      assert(math.abs(cnt - n / 4) * 5 <= n,
        s"bin $b holds $cnt of $n — not equi-depth")
    }
  }

  test("attribution: integer split reconciles to revenue exactly") {
    val rows = Events.qAttribution(spark, sf).collect()
    assert(rows.nonEmpty)
    var attributed = 0
    rows.foreach { r =>
      val cents = r.getLong(2); val nTouch = r.getLong(3)
      val perTouch = r.getLong(6); val lastCents = r.getLong(7)
      if (nTouch > 0) {
        attributed += 1
        assert(lastCents + (nTouch - 1) * perTouch == cents,
          s"purchase ${r.getLong(1)}: split leaks cents")
        assert(r.getLong(5) >= 0 && r.getLong(5) <= 7L * 86400000000L,
          "last touch inside the window")
      } else {
        assert(r.getLong(4) == -1L && lastCents == 0L)
      }
    }
    assert(attributed > 0, "some purchases have preceding views")
  }

  test("anomaly window is calendar-range: zero-event gaps break the history gate") {
    val sp = spark
    import sp.implicits._
    // 7 consecutive active days, a silent month, then a burst: the
    // burst must NOT be judged against the stale month-old baseline
    val gapped = ((1 to 7).map(d => ("A", f"2026-01-$d%02d", 10L)) :+
      (("A", "2026-02-10", 1000L))).toDF("event_type", "day", "n")
    val out = Events.anomalyOf(gapped).collect()
      .map(r => r.getString(1) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("2026-02-10")._2 == 0L && out("2026-02-10")._3 == 0L,
      "a calendar gap must empty the trailing frame, not stretch over it")
    // whereas a burst on the genuine 8th consecutive day fires
    val dense = ((1 to 7).map(d => ("A", f"2026-01-$d%02d", 10L)) :+
      (("A", "2026-01-08", 1000L))).toDF("event_type", "day", "n")
    val out2 = Events.anomalyOf(dense).collect()
      .map(r => r.getString(1) -> (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out2("2026-01-08") == ((70L, 7L, 1L)))
  }

  test("event anomaly: spikes only fire on full 7-day history") {
    val rows = Events.qEventAnomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(2); val prev = r.getLong(3)
      val days = r.getLong(4); val spike = r.getLong(5)
      assert(prev >= 0 && days <= 7)
      if (spike == 1L) assert(days == 7L && n * 7 > prev * 2,
        s"${r.getString(0)} ${r.getString(1)}: spike rule violated")
    }
  }

  test("bitext candidates: cross-language, >=2 anchors, lengths within 2x") {
    val rows = TextOps.txtBitextMine(spark, sf).collect()
    assert(rows.nonEmpty, "the corpus contains cross-language mirrors")
    rows.foreach { r =>
      assert(r.getString(2) < r.getString(3), "pairs are cross-language, ordered")
      assert(r.getLong(6) >= 2, "at least two shared rare anchors")
      val (na, nb) = (r.getLong(4), r.getLong(5))
      assert(math.min(na, nb) * 2 >= math.max(na, nb), "length ratio within 2x")
    }
  }

  test("bitext align: proportional rule holds; every candidate pair aligns") {
    val cands = TextOps.txtBitextMine(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val aligned = TextOps.txtBitextAlign(spark, sf).collect()
    assert(aligned.nonEmpty)
    // every candidate pair contributes at least one aligned segment
    assert(aligned.map(r => (r.getLong(0), r.getLong(1))).toSet == cands)
    aligned.foreach { r =>
      val (segA, segB) = (r.getLong(2), r.getLong(3))
      assert(segB >= 0 && r.getLong(6) >= 0)
      assert(segA >= 0)
    }
  }

  test("per-lang ccnet: every language's head tercile holds >= 1/3 of its docs") {
    import org.apache.spark.sql.functions._
    val byLang = TextOps.txtCcnetLangBuckets(spark, sf)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("n_head"))
      .collect()
    assert(byLang.nonEmpty)
    byLang.foreach { r =>
      assert(r.getLong(2) * 3 >= r.getLong(1),
        s"lang ${r.getString(0)}: head ${r.getLong(2)} of ${r.getLong(1)} misses the tercile floor")
    }
  }

  test("rfm: decay never exceeds monetary; segment rules match scores") {
    val rows = Events.qRfmSegments(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getLong(3); val d = r.getLong(4)
      val rs = r.getLong(5); val fs = r.getLong(6)
      val seg = r.getString(8)
      assert(d <= m, "integer shift decay only shrinks positive cents")
      val expected =
        if (rs >= 4 && fs >= 4) "champion"
        else if (rs >= 4 && fs >= 2) "loyal"
        else if (rs >= 3) "active"
        else if (fs >= 4) "at_risk"
        else "hibernating"
      assert(seg == expected, s"user ${r.getLong(0)}: $seg != $expected")
    }
  }

  test("quality distill: driver replay of the normal-equations solve; constant teacher is fit exactly") {
    val rows = CurateOps.curateQualityDistill(spark, sf)
      .select("doc_id", "y", "score", "pred", "agree").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // replay: rebuild the sufficient statistics from the gate features
    // and verify every per-doc score/pred against the Cramer solve
    val feat = CurateOps.curateGopherGate(spark, sf)
      .selectExpr("doc_id", "admitted as y",
        "least(n_tokens div 32, 7L) as x1", "least(mean_len_milli div 1000, 7L) as x2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = feat.length.toLong
    val s1 = feat.map(_._3).sum; val s2 = feat.map(_._4).sum
    val s11 = feat.map(f => f._3 * f._3).sum; val s12 = feat.map(f => f._3 * f._4).sum
    val s22 = feat.map(f => f._4 * f._4).sum
    val b0 = feat.map(_._2).sum
    val b1 = feat.map(f => f._3 * f._2).sum; val b2 = feat.map(f => f._4 * f._2).sum
    val c00 = s11 * s22 - s12 * s12; val c01 = s12 * s2 - s1 * s22
    val c02 = s1 * s12 - s11 * s2; val c11 = n * s22 - s2 * s2
    val c12 = s1 * s2 - n * s12; val c22 = n * s11 - s1 * s1
    val det = n * c00 + s1 * c01 + s2 * c02
    val m0 = c00 * b0 + c01 * b1 + c02 * b2
    val m1 = c01 * b0 + c11 * b1 + c12 * b2
    val m2 = c02 * b0 + c12 * b1 + c22 * b2
    assert(det > 0, "real corpus features must not be collinear")
    val byId = feat.map(f => f._1 -> f).toMap
    rows.foreach { case (id, y, score, pred, agree) =>
      val f = byId(id)
      assert(y == f._2)
      assert(score == m0 + m1 * f._3 + m2 * f._4, s"doc $id score")
      assert(pred == (if (2 * score >= det) 1L else 0L), s"doc $id pred")
      assert(agree == (if (pred == y) 1L else 0L))
    }
    // a student this cheap must still beat coin-flipping on its teacher
    val acc = rows.count(_._5 == 1L).toDouble / rows.length
    assert(acc >= 0.5, s"in-sample agreement $acc")
    // constant-label teacher: the LS fit (or the majority fallback when
    // features are collinear) reproduces the teacher exactly
    val sp = spark
    import sp.implicits._
    val const = Seq((1L, 10L, 4500L, 1L), (2L, 80L, 5000L, 1L), (3L, 300L, 3800L, 1L))
      .toDF("doc_id", "n_tokens", "mean_len_milli", "admitted")
    val out = CurateOps.qualityDistillOf(const).select("pred", "y").collect()
    assert(out.forall(r => r.getLong(0) == r.getLong(1)), "constant teacher not fit exactly")
    // EMPTY teacher: all-null sums must coalesce to 0 and route through
    // the det=0 fallback — an empty result, not an NPE on Row.getLong
    val empty = const.filter(const("doc_id") < 0L)
    assert(CurateOps.qualityDistillOf(empty).collect().isEmpty, "empty gate must yield empty")
  }

  test("doremi weights: normalization mass, shift law, monotonicity in excess") {
    val rows = CurateOps.curateDoremiWeights(spark, sf)
      .select("source", "mean_millibits", "baseline_millibits", "excess_q", "w_raw", "weight_ppm")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // floor-division normalization: total mass within one ulp-per-source of 1e6
    val mass = rows.map(_._6).sum
    assert(mass <= 1000000L && mass > 1000000L - rows.length,
      s"weight mass $mass over ${rows.length} sources")
    rows.foreach { case (src, mean, base, ex, w, _) =>
      assert(w == (1L << ex), s"$src: weight is not 2^excess")
      val expectedEx = math.min(math.max((mean - base) / 250, 0L), 12L)
      assert(ex == expectedEx, s"$src: excess_q $ex != $expectedEx")
    }
    // at-or-below-baseline sources all share the unit weight
    assert(rows.filter(r => r._2 <= r._3).forall(_._5 == 1L))
    // monotone: sorting by mean surprisal sorts excess_q
    val sorted = rows.sortBy(_._2).map(_._4)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
  }

  test("JL projection: zero-shuffle plan, deterministic, distances preserved in the JL band") {
    val df = SimilarityOps.embRandomProjection(spark, sf)
    // the whole operator must be a row-parallel projection: no exchange
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "JL projection must not shuffle")
    val proj = df.collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(2))
      }
    val orig = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000.0) as bigint)) as q")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(proj.keySet == orig.keySet)
    assert(proj.values.forall(_.length == SimilarityOps.JlOutDim))
    // JL distortion: for sampled pairs, the projected squared distance
    // normalized by d_out (E[|Sx|^2] = d_out*|x|^2 for ±1 entries)
    // tracks the original within a loose band — the property that
    // makes the narrow space usable for candidate generation
    val ids = orig.keys.toSeq.sorted.take(20)
    val pairs = for { a <- ids; b <- ids if a < b } yield (a, b)
    def d2(x: Array[Long], y: Array[Long]): Double =
      x.zip(y).map { case (u, v) => val d = (u - v).toDouble; d * d }.sum
    val ratios = pairs.map { case (a, b) =>
      val od = d2(orig(a), orig(b))
      val pd = d2(proj(a), proj(b)) / SimilarityOps.JlOutDim.toDouble
      if (od == 0.0) 1.0 else pd / od
    }
    val inBand = ratios.count(r => r >= 0.3 && r <= 3.0).toDouble / ratios.length
    assert(inBand >= 0.8, s"only ${(inBand * 100).round}% of pairs inside the distortion band")
  }

  test("shingle-share edges: hot shingles are excluded from the COUNT, not just candidacy") {
    val ss = spark
    import ss.implicits._
    // 20 docs all share hot shingle 999 (df = 20 > maxDf = 10); docs
    // 0/1 additionally share rare shingles {1, 2}; docs 2/3 share only
    // ONE rare shingle {3} (plus the hot one — the pre-fix semantics
    // counted hot+rare = 2 and would emit this edge)
    val postings =
      (0 until 20).map(i => (i.toLong, 999L)) ++
        Seq((0L, 1L), (1L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 3L))
    val edges = DedupOps.shingleShareEdgesOf(
      postings.toDF("doc_id", "h"), minShared = 2L, maxDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((0L, 1L)),
      s"only the >=2-RARE-shingle pair may be an edge, got $edges")
  }

  test("index drift: assignment accounting, sentinel cells, planted hot-cell detection") {
    import org.apache.spark.sql.functions._
    // (a) accounting invariants on the real corpus: every vector is
    // assigned exactly once per side; cosines stay in [-1e6, 1e6] ppm
    val out = SimilarityOps.simIndexDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val nOld = emb.filter(pmod(col("vec_id"), lit(10)) < 8).count()
    val nNew = emb.filter(pmod(col("vec_id"), lit(10)) >= 8).count()
    assert(out.map(_._2).sum == nOld, "old vectors must partition across cells")
    assert(out.map(_._3).sum == nNew, "new vectors must partition across cells")
    out.foreach { case (cell, no, nn, ao, an, drift, load) =>
      if (no > 0) assert(ao >= -1000000L && ao <= 1000000L, s"cell $cell avg_old $ao")
      else assert(ao == -1L && load == -1L, s"cell $cell new-only sentinels")
      if (nn > 0 && no > 0) {
        assert(an >= -1000000L && an <= 1000000L, s"cell $cell avg_new $an")
        assert(drift == ao - an, s"cell $cell drift arithmetic")
        assert(load > 0, s"cell $cell load ratio")
      } else if (nn == 0L)
        assert(an == -1L && drift == -1L && load == 0L, s"cell $cell no-new sentinels")
      else assert(drift == -1L, s"cell $cell new-only drift sentinel")
    }

    // (b) planted shift: 160 old vectors in 16 tight clusters, 40 new
    // vectors all near cluster 0's center — the monitor must flag that
    // cell as hot (load ratio >> 1e6) and keep its drift small, while
    // other cells report the no-new sentinels
    val ss = spark
    import ss.implicits._
    val dim = SimilarityOps.Dim
    def vec(center: Int, jitter: Int): Seq[Float] =
      (0 until dim).map { i =>
        val base = if (i == center % dim) 1.0f else 0.0f
        base + (if (i == (center + jitter) % dim) 0.05f else 0.0f)
      }
    // ids DENSE in [0, 200) so the strided centroid seeding lands ~16
    // seeds: old ids fill the % 10 < 8 slots, new ids the 8/9 slots
    val old = (0 until 160).map(i => ((i / 8) * 10L + i % 8, vec(i % 16, i / 16)))
    val fresh = (0 until 40).map(i => ((i / 2) * 10L + 8 + i % 2, vec(0, i % 7)))
    val dir = java.nio.file.Files.createTempDirectory("drift")
    (old ++ fresh).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
    val planted = SimilarityOps.simIndexDrift(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(6)))
    val hot = planted.filter(_._2 > 0)
    assert(hot.map(_._2).sum == 40L, "all new vectors land somewhere")
    assert(hot.exists(_._3 > 2000000L),
      s"the shifted cell must report a hot load ratio: ${planted.toSeq}")
    assert(planted.count(_._2 == 0) >= 8, "most cells see no new vectors (sentinel path)")
  }

  test("LSH recall eval: planted deciles, exact truth counts, guaranteed exact-dup catch") {
    val ss = spark
    import ss.implicits._
    // planted corpus: pairs engineered into distinct Jaccard deciles by
    // shared-prefix construction (shared prefix of k+2 tokens ⇒ k shared
    // word-3-gram shingles), plus exact duplicates (bucket 10)
    def tokens(tag: String, n: Int) = (1 to n).map(i => s"$tag$i")
    def doc(shared: Seq[String], tag: String, extra: Int) =
      (shared ++ tokens(tag, extra)).mkString(" ")
    val sharedA = tokens("sa", 15) // 13 shared shingles when both continue differently
    val sharedB = tokens("sb", 21) // 19 shared shingles
    val exact = doc(tokens("ex", 20), "none", 0)
    val dir = java.nio.file.Files.createTempDirectory("recalleval")
    Seq(
      // J = 13/(18+18-13) = 0.565 → bucket 5
      (1L, doc(sharedA, "p", 5)), (2L, doc(sharedA, "q", 5)),
      // J = 19/(22+22-19) = 0.76 → bucket 7
      (3L, doc(sharedB, "r", 3)), (4L, doc(sharedB, "s", 3)),
      // exact duplicates → bucket 10
      (5L, exact), (6L, exact),
      // unrelated filler (no truth pairs)
      (7L, doc(tokens("u", 25), "none", 0)), (8L, doc(tokens("v", 25), "none", 0)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val out = DedupOps.dedupRecallEval(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // exact truth counts per decile (one planted pair each)
    assert(out.keySet == Set(5L, 7L, 10L), s"buckets: ${out.keySet}")
    assert(out(5L)._1 == 1L && out(7L)._1 == 1L && out(10L)._1 == 1L)
    // catches never exceed truth, recall_ppm is exact integer arithmetic
    out.foreach { case (b, (t, c, r, _)) =>
      assert(c <= t, s"bucket $b caught $c > truth $t")
      assert(r == 1000000L * c / t, s"bucket $b recall_ppm mismatch")
    }
    // identical documents have identical signatures, hence identical
    // band keys: the exact-dup bucket is ALWAYS caught
    assert(out(10L)._2 == 1L && out(10L)._3 == 1000000L)
    // the analytic S-curve constants ride along exactly as computed
    val theory = DedupOps.lshTheoryPpm(8, 4).toMap
    out.foreach { case (b, (_, _, _, th)) => assert(th == theory(b), s"bucket $b theory") }
    // theory is monotone in the decile (sanity of the constant table)
    assert(theory.toSeq.sortBy(_._1).map(_._2) == theory.values.toSeq.sorted)
  }

  test("span pairs: planted shared spans localize exactly; random docs match brute force") {
    val ss = spark
    import ss.implicits._
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared20 = (1 to 20).map(i => s"sh$i").mkString(" ")
    val span10 = (1 to 10).map(i => s"xa$i").mkString(" ")
    val span15 = (1 to 15).map(i => s"xb$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("spanpairs")
    Seq(
      (1L, s"${words("a", 10)} $shared20 ${words("b", 10)} $span10 $span15"),
      (2L, s"${words("c", 10)} $shared20 ${words("d", 10)}"),
      (3L, s"${words("e", 10)} $span10 ${words("f", 10)} $span15 ${words("g", 10)}"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val out = DedupOps.dedupSpanPairs(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // docs 1-2 share ONE 20-token span: 13 consecutive 8-gram matches
    assert(out((1L, 2L)) == ((13L, 13L, 20L)), s"got ${out((1L, 2L))}")
    // docs 1-3 share TWO disjoint spans (10 and 15 tokens): runs of 3
    // and 8 grams, longest span 15 tokens
    assert(out((1L, 3L)) == ((11L, 8L, 15L)), s"got ${out((1L, 3L))}")

    // randomized property vs a driver brute force (tiny vocab so grams
    // collide): longest-run and total-match arithmetic must agree
    val rnd = new scala.util.Random(7)
    val docs = (0 until 24).map { id =>
      (id.toLong, (0 until 30 + rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
    }
    val dir2 = java.nio.file.Files.createTempDirectory("spanpairs_rnd")
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir2.resolve("documents.parquet").toString)
    val got = DedupOps.dedupSpanPairs(spark, dir2.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // brute force: grams, df guard, diagonal runs
    val grams = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(8).map(_.mkString(" ")).toVector
    }.toMap
    val df = grams.flatMap { case (id, gs) => gs.distinct.map(g => (g, id)) }
      .groupBy(_._1).map { case (g, occ) => g -> occ.map(_._2).toSet.size }
    val expected = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    for (a <- docs.map(_._1); b <- docs.map(_._1) if a < b) {
      val matches = for {
        (ga, ia) <- grams(a).zipWithIndex
        (gb, ib) <- grams(b).zipWithIndex
        if ga == gb && df(ga) > 1 && df(ga) <= 100
      } yield (ia.toLong, ib.toLong)
      if (matches.nonEmpty) {
        val runs = matches.distinct.groupBy { case (ia, ib) => ia - ib }.values.flatMap { ms =>
          val sorted = ms.map(_._1).sorted
          sorted.zipWithIndex.groupBy { case (ia, k) => ia - k }.values.map(_.size.toLong)
        }.toSeq
        val total = runs.sum
        if (total >= 3L) expected((a, b)) = (total, runs.max)
      }
    }
    assert(got == expected.toMap,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
  }

  test("cdc_chunks rejects degenerate window/mask at analysis time") {
    val ss = spark
    import ss.implicits._
    val df = Seq("some text").toDF("t")
    intercept[Exception](df.selectExpr("cdc_chunks(t, 0, 6)").collect())
    intercept[Exception](df.selectExpr("cdc_chunks(t, -1, 6)").collect())
    intercept[Exception](df.selectExpr("cdc_chunks(t, 16, 63)").collect())
    // legal extremes still work: w=1 (every byte a window), maskBits=0
    // (every position cuts -> 1-char chunks)
    val one = df.selectExpr("cdc_chunks(t, 1, 0) AS c").collect()(0).getSeq[String](0)
    assert(one.mkString == "some text" && one.forall(_.length == 1))
    // non-literal / non-integer w and maskBits get a DEDICATED error
    // naming the offending argument, not an arity complaint
    val e1 = intercept[Exception](df.selectExpr("cdc_chunks(t, length(t), 6)").collect())
    assert(e1.getMessage.contains("w must be an integer literal"), e1.getMessage)
    val e2 = intercept[Exception](df.selectExpr("cdc_chunks(t, 16, '6')").collect())
    assert(e2.getMessage.contains("maskBits must be an integer literal"), e2.getMessage)
    // a long literal that fits an int is accepted (the advisor's
    // cdc_chunks(t, 16L, 6) case); arity errors still say arity
    assert(df.selectExpr("cdc_chunks(t, 16L, 0)").collect().nonEmpty)
    val e3 = intercept[Exception](df.selectExpr("cdc_chunks(t, 16)").collect())
    assert(e3.getMessage.contains("got 2 args"), e3.getMessage)
  }

  test("cdc_chunks never splits a UTF-8 codepoint: cuts snap to boundaries") {
    val ss = spark
    import ss.implicits._
    // mixed ASCII + multi-byte text at an aggressive mask (cut often):
    // chunks must re-concatenate to the input AND every chunk must be
    // valid standalone UTF-8 (no leading continuation byte, no split
    // trailing codepoint) — round-tripping through String would corrupt
    // a malformed slice, so equality IS the validity check
    val texts = Seq(
      "héllo wörld ünïcode ça va être très bon",
      "日本語のテキストと English mixed 中文内容",
      "emoji 😀 in 🌉 the stream ééé",
      "a" * 40 + "é" * 40 + "字" * 20)
    for (t <- texts; mask <- Seq(0, 2, 4); w <- Seq(1, 4, 16)) {
      val chunks = Seq(t).toDF("t")
        .selectExpr(s"cdc_chunks(t, $w, $mask) AS c")
        .collect()(0).getSeq[String](0)
      assert(chunks.mkString == t, s"w=$w mask=$mask round-trip failed for: $t")
      chunks.foreach { c =>
        val bytes = c.getBytes("UTF-8")
        assert((bytes(0) & 0xc0) != 0x80, s"chunk starts mid-codepoint: $c")
        assert(new String(bytes, "UTF-8") == c, s"chunk not valid UTF-8: $c")
      }
    }
    // pure-ASCII chunking is byte-identical to the pre-snap contract
    // (the oracle's replay domain): cuts at every hash-zero position
    val ascii = "the quick brown fox jumps over the lazy dog again and again"
    val before = Seq(ascii).toDF("t")
      .selectExpr("cdc_chunks(t, 16, 2) AS c").collect()(0).getSeq[String](0)
    assert(before.mkString == ascii && before.length > 1)
  }

  test("link prediction: wedge-join scores == brute force (hub guard exercised)") {
    val ss = spark
    import ss.implicits._
    // hub(0)-plus-sparse fixture from the triangle test: hub degree 39
    // exceeds maxDeg=5 so the hub is excluded as a wedge CENTER but
    // still counts in endpoint degrees — exactly the guard contract
    val n = 40
    val hub = (1 until n).map(i => (0L, i.toLong))
    val sparse = for {
      i <- 1 until n; j <- i + 1 until n
      if (i * 31 + j * 17) % 13 == 0
    } yield (i.toLong, j.toLong)
    val all = (hub ++ sparse).distinct
    val (minCn, maxDeg) = (2L, 5L)
    val got = GraphOps.linkPredScores(all.toDF("a", "b"), minCn, maxDeg)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // driver brute force
    val adj = all.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val edgeSet = all.toSet
    val want = (for {
      u <- adj.keys; v <- adj.keys
      if u < v && !edgeSet((u, v))
      centers = adj(u).intersect(adj(v)).filter(w => adj(w).size <= maxDeg)
      if centers.size >= minCn
    } yield {
      val cn = centers.size.toLong
      val ra = centers.toSeq.map(w => 1000000L / adj(w).size).sum
      val jac = 1000000L * cn / (adj(u).size + adj(v).size - cn)
      (u, v) -> (cn, ra, jac)
    }).toMap
    assert(got == want, s"diff: ${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    assert(want.nonEmpty, "fixture must produce candidates")
    // the guard must be doing work: unguarded brute force differs
    val unguarded = (for {
      u <- adj.keys; v <- adj.keys
      if u < v && !edgeSet((u, v)) && adj(u).intersect(adj(v)).size >= minCn
    } yield (u, v)).toSet
    assert(unguarded != want.keySet)
  }

  test("ivf radius: exactly the thresholded candidate set; consistent with top-k") {
    val tau = 300L
    val radius = SimilarityOps.simIvfRadius(spark, sf, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val topk = SimilarityOps.simIvfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every radius hit clears the bar
    radius.values.foreach(c => assert(c >= tau / 1000.0))
    // a top-k row above the bar MUST be in the radius set with the
    // same score (both read the same probed-cell candidates)
    topk.foreach { case (k, c) =>
      if (c >= tau / 1000.0) assert(radius.get(k).contains(c), s"top-k pair $k missing")
    }
    // and the radius set reaches beyond top-5 when the data allows it,
    // or at minimum is nonempty on this corpus
    assert(radius.nonEmpty)
  }

  test("zipf decades conserve vocabulary, token mass, and rank capacity") {
    import org.apache.spark.sql.functions._
    val z = TextOps.txtZipf(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val terms = graft.sources.Tables.load(spark, sf, "documents")
      .select(explode(split(TextOps.normalized(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
    val vocab = terms.select(countDistinct(col("t"))).first().getLong(0)
    val mass = terms.count()
    // every term lands in exactly one decade; every token is accounted
    assert(z.values.map(_._1).sum == vocab, "vocabulary conservation")
    assert(z.values.map(_._2).sum == mass, "token-mass conservation")
    z.foreach { case (k, (nTerms, _, maxC, minC)) =>
      assert(nTerms <= (1L << k), s"decade $k over capacity") // [2^k, 2^(k+1)) holds 2^k ranks
      assert(maxC >= minC && minC >= 1L, s"decade $k count range")
    }
    // counts are non-increasing across decades (rank-sorted)
    val byK = z.toSeq.sortBy(_._1)
    byK.sliding(2).foreach { case Seq((_, (_, _, _, lo)), (_, (_, _, hi2, _))) =>
      assert(lo >= hi2, "decade count ordering")
    }
  }

  test("rake keywords: wedge pipeline == driver brute force on planted docs") {
    val ss = spark
    import ss.implicits._
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and the quick brown fox returns"),
      (2L, "deep learning of neural networks and deep learning for vision"),
      (3L, "the of and"), // stopwords only: no phrases, no output rows
      (4L, "solo")).toDF("doc_id", "text")
    val got = TextOps.rakeOf(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3)))
      .toMap
    // driver brute force: same normalization, phrase runs, RAKE scores
    val stop = TextOps.RakeStopwords.toSet
    def brute(text: String): Seq[(String, Long)] = {
      val wordsAll = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").filter(_.nonEmpty)
      val phrases = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      var run = List.empty[String]
      for (w <- wordsAll) {
        if (stop(w)) { if (run.nonEmpty) phrases += run.reverse; run = Nil }
        else run = w :: run
      }
      if (run.nonEmpty) phrases += run.reverse
      val kept = phrases.filter(_.size <= 4).toSeq
      val freq = kept.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val deg = kept.flatMap(p => p.map(_ -> p.size.toLong))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      kept.map(p => (p.mkString(" "), p.map(w => 1000L * deg(w) / freq(w)).sum))
        .distinct
        .sortBy { case (ph, sc) => (-sc, ph) }.take(3)
        .zipWithIndex.map { case ((ph, sc), i) => (ph, sc) }
    }
    for (docId <- Seq(1L, 2L, 4L)) {
      val text = Seq("", "the quick brown fox jumps over the lazy dog and the quick brown fox returns",
        "deep learning of neural networks and deep learning for vision", "", "solo")(docId.toInt)
      val want = brute(text).zipWithIndex.map { case (v, i) => (docId, i + 1L) -> v }.toMap
      val gotDoc = got.filter(_._1._1 == docId)
      assert(gotDoc == want, s"doc $docId: $gotDoc vs $want")
    }
    assert(!got.keys.exists(_._1 == 3L), "stopword-only doc must emit nothing")
  }

  test("cdc pair mining == driver brute force (df guard included)") {
    import graft.functions.CdcChunks
    val got = DedupOps.dedupCdcPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // driver brute force over the same normalization/chunking
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def chunksOf(text: String): Map[String, Int] = {
      val norm = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      val a = CdcChunks.compute(norm.getBytes("UTF-8"), 16, 6)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
        .groupBy(identity).map { case (c, _) => c -> c.length }
    }
    val perDoc = docs.map { case (id, t) => id -> chunksOf(t) }.filter(_._2.nonEmpty)
    val df = perDoc.flatMap(_._2.keys).groupBy(identity).map { case (c, v) => c -> v.size }
    val rareOf = perDoc.map { case (id, m) => id -> m.filter { case (c, _) => df(c) <= 100 } }.toMap
    val want = (for {
      (a, ca) <- rareOf; (b, cb) <- rareOf
      if a < b
      shared = ca.keySet.intersect(cb.keySet)
      if shared.size >= 2
    } yield (a, b) -> (shared.size.toLong, shared.toSeq.map(ca(_).toLong).sum)).toMap
    assert(got == want,
      s"extra: ${(got.keySet diff want.keySet).take(5)}, missing: ${(want.keySet diff got.keySet).take(5)}")
    assert(want.nonEmpty, "corpus must contain CDC pairs")
  }

  test("cdc chunks: lossless, boundary-deterministic, re-synchronizing") {
    import graft.functions.CdcChunks
    def chunksOf(s: String): Seq[String] = {
      val a = CdcChunks.compute(s.getBytes("UTF-8"), 16, 6)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    // deterministic pseudo-text long enough for many boundaries
    val rnd = new scala.util.Random(7)
    val base = (1 to 600).map(_ => "abcdefgh "(rnd.nextInt(9))).mkString
    val cs = chunksOf(base)
    // lossless: chunks concatenate back to the input
    assert(cs.mkString == base)
    assert(cs.size > 3, s"expected several chunks, got ${cs.size}")
    // edge cases: empty and shorter-than-window inputs
    assert(chunksOf("").isEmpty)
    assert(chunksOf("short") == Seq("short"))
    // re-synchronization (the CDC property): a prefix insertion shifts
    // every byte offset, yet all but the first few chunks realign
    val shifted = "INSERTED PREFIX " + base
    val cs2 = chunksOf(shifted)
    val common = cs.toSet.intersect(cs2.toSet)
    assert(common.size >= cs.size - 2,
      s"only ${common.size}/${cs.size} chunks survived a prefix shift")
    // registered function agrees with the direct call (codegen path)
    val ss = spark
    import ss.implicits._
    val viaSql = Seq(base).toDF("t")
      .selectExpr("cdc_chunks(t, 16, 6) AS c").collect()(0).getSeq[String](0)
    assert(viaSql == cs)
  }

  test("modularity terms: kernel == brute force; edges conserved") {
    val ss = spark
    import ss.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    val srcOf = Map(1L -> "x", 2L -> "x", 3L -> "x", 4L -> "y", 5L -> "y", 6L -> "z")
    val out = GraphOps.modularityTerms(
      edges.toDF("a", "b"),
      srcOf.toSeq.toDF("doc_id", "source")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val m = edges.size.toLong
    val dSum = edges.flatMap { case (a, b) => Seq(srcOf(a), srcOf(b)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val mIntra = edges.filter { case (a, b) => srcOf(a) == srcOf(b) }
      .groupBy { case (a, _) => srcOf(a) }.map { case (k, v) => k -> v.size.toLong }
    assert(out.keySet == dSum.keySet)
    out.foreach { case (src, (mTot, mi, ds, cov, exp)) =>
      assert(mTot == m)
      assert(mi == mIntra.getOrElse(src, 0L), s"m_intra($src)")
      assert(ds == dSum(src), s"d_sum($src)")
      assert(cov == 1000000L * mi / m)
      assert(exp == 1000000L * ds * ds / (4L * m * m))
    }
    // every edge is someone's intra or a cross edge; half-edges conserve
    assert(out.values.map(_._3).sum == 2 * m)
  }

  test("gram_stats kernel is bit-identical to the explode + groupBy + countDistinct spelling") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(11)
    // repeated-phrase docs (real top2 > 1), tiny docs below the 2/3
    // token minima, single-token, and random streams over a small
    // vocabulary so 2/3-gram collisions actually occur
    val texts = Seq("", "one", "a b", "a b a b a b", "x y z",
      "the cat sat on the mat the cat sat") ++
      (0 until 150).map(_ => (0 until rnd.nextInt(60))
        .map(_ => s"w${rnd.nextInt(7)}").mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val g2 = toks.filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top2"), sum(col("c")).as("n2"))
    val g3 = toks.filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n3"), countDistinct(col("g")).as("nd3"))
    val legacy = toks.select(col("doc_id"))
      .join(g2, Seq("doc_id"), "left").join(g3, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("top2"), lit(0L)), coalesce(col("n2"), lit(0L)),
        coalesce(col("n3"), lit(0L)), coalesce(col("nd3"), lit(0L)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val kernel = toks
      .select(col("doc_id"), graft.functions.GramStats.gramStats(col("w")).as("gs"))
      .select(col("doc_id"), col("gs.top2"), col("gs.n2"), col("gs.n3"), col("gs.nd3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(kernel.keySet == legacy.keySet)
    kernel.foreach { case (id, v) =>
      assert(v == legacy(id), s"gram_stats mismatch on doc $id: $v vs ${legacy(id)}")
    }
  }

  test("md5_long kernel is bit-identical to the conv(substring(md5)) column spelling") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    // adversarial inputs: empty, sign-bit digests, multi-byte UTF-8,
    // separators the band keys use, plus a deterministic spray
    val cases = Seq("", "a", "0", "the quick brown fox", "häßlich ❄ 汉字",
      "1:xyz", "b0,123,456", "doc:42") ++ (0 until 500).map(i => s"s$i:${i * i}")
    val df = cases.toDF("s")
    val legacy = {
      val hex = md5(col("s"))
      val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
      val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
      (hi - when(hi >= 2147483648L, lit(4294967296L)).otherwise(lit(0L))) * lit(4294967296L) + lo
    }
    val rows = df.select(col("s"), legacy.as("old"),
      graft.functions.HashOps.md5LongCol(col("s")).as("nw")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"md5_long mismatch on '${r.getString(0)}'")
    }
    // null passes through
    assert(Seq[Option[String]](None).toDF("s")
      .select(graft.functions.HashOps.md5LongCol(col("s"))).collect()(0).isNullAt(0))
  }

  test("payload_simhash kernel is bit-identical to the explode + simhash_agg spelling") {
    import org.apache.spark.sql.functions._
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(7)
    // 4-byte minimum through multi-KB payloads, including repeated and
    // binary-ish content (all byte values reachable through UTF-8 text
    // is not required: encode() output is what the operator hashes)
    val texts = Seq("abcd", "aaaaaaaaaa", "x" * 4097, "päyload ❄ bits") ++
      (0 until 200).map(i => rnd.alphanumeric.take(4 + rnd.nextInt(300)).mkString)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val base = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .withColumn("n", length(col("payload")).cast("long"))
      .filter(col("n") >= 4)
      .withColumn("hx", hex(col("payload")))
    val agg = base.select(col("doc_id"), explode(expr(
        "transform(sequence(1, cast(n - 3 as int)), i -> substring(hx, 2*i - 1, 8))")).as("g"))
      .select(col("doc_id"), DedupOps.md5Hash64(col("g")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhashAgg(col("h")).as("phash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = operators.Multimodal.mmPhashOf(docs)
      .select(col("doc_id"), col("phash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel.keySet == agg.keySet)
    kernel.foreach { case (id, sig) =>
      assert(sig == agg(id), s"payload_simhash mismatch on doc $id")
    }
  }
}
