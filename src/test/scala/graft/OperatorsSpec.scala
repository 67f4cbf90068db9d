package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** Behavioral specs for the approximate operators (the DuckDB oracle covers
  * the exact ones): MinHash recall vs the exact-Jaccard baseline, SimHash
  * pigeonhole completeness, LSH-ANN vs brute force. Runs at sf0.001.
  */
class OperatorsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  test("df-capped candidate generation equals uncapped (cap above corpus max df)") {
    val uncapped = Dedup.ngramJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.ngramJaccardPairs(spark, dir, dfCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
  }

  test("band-group-sliced candidate generation equals the single-piece frame") {
    import org.apache.spark.sql.functions._
    // same sets frame the q32/q42/q52 funnels build
    val sets = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingleHashes(col("text"), 5).as("hv"))
      .filter(size(col("hv")) > 0)
      .cache()
    sets.count()
    def pairSet(maxBandedRows: Long) =
      Dedup.lshCandidatePairsSliced(sets, 32, 4, maxBandedRows)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = pairSet(Long.MaxValue)          // single-piece path
    val sliced = pairSet(sets.count() * 5)      // forces ~7 slices of 5 bands
    val oneBand = pairSet(1L)                   // degenerate: 1 band per slice
    assert(whole.nonEmpty)
    assert(sliced == whole, "band-group slicing must be loss-free and exact")
    assert(oneBand == whole)
    // refined path: pushing a per-pair refine (here an id-parity filter +
    // annotation — deterministic per pair, like the production Jaccard
    // verify) INSIDE the slices must equal refine-after-candidates
    def refined(maxBandedRows: Long) =
      Dedup.lshCandidatePairsSliced(sets, 32, 4, maxBandedRows,
          c => c.filter((col("d1") + col("d2")) % 2 === 0)
            .withColumn("tag", col("d1") % 7))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val refWhole = refined(Long.MaxValue)
    val refSliced = refined(sets.count() * 5)
    assert(refWhole.nonEmpty && refWhole.subsetOf(
      whole.map { case (a, b) => (a, b, a % 7) }))
    assert(refSliced == refWhole,
      "in-slice refine must be exact vs refine-after-candidates")
    sets.unpersist()
  }

  test("band slices are independent jobs: union-distinct of standalone slices equals sequential") {
    import org.apache.spark.sql.functions._
    // certifies the cluster-concurrency claim: each band-range slice is
    // computable with NO knowledge of the others (the sequential loop's
    // incremental anti-join is a disk optimization, not a dependency),
    // so a cluster can run the slices as concurrent jobs and take one
    // terminal distinct over their outputs
    val sets = graft.Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        Dedup.shingleHashes(col("text"), 5).as("hv"))
      .filter(size(col("hv")) > 0)
      .cache()
    val n = sets.count()
    val (bands, rows) = (32, 4)
    val sequential = Dedup.lshCandidatePairsSliced(sets, bands, rows, n * 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bandsPerSlice = 5 // same slicing n*5 forces above
    val unioned = (0 until bands by bandsPerSlice).flatMap { lo =>
      Dedup.sliceCandidatePairsOnce(sets, bands, rows, lo,
          math.min(bands, lo + bandsPerSlice), parts = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }.toSet
    assert(sequential.nonEmpty)
    assert(unioned == sequential,
      "standalone per-slice jobs unioned+distinct must equal the sequential sliced result")
    sets.unpersist()
  }

  test("fanOutSmallScan repartitions a starved scan and leaves a split one alone") {
    import org.apache.spark.sql.functions._
    val target = spark.sparkContext.defaultParallelism
    // a coalesced single-partition frame must fan out to the core count
    val one = spark.range(1000).toDF("id").coalesce(1)
    assert(one.rdd.getNumPartitions == 1)
    assert(Dedup.fanOutSmallScan(one).rdd.getNumPartitions == target)
    // an already-split frame must pass through UNCHANGED — the whole
    // point is not paying a corpus-wide exchange when splits exist
    val wide = spark.range(1000).toDF("id").repartition(target + 2, col("id"))
    val out = Dedup.fanOutSmallScan(wide)
    assert(out.rdd.getNumPartitions == target + 2)
    assert(out.queryExecution.logical eq wide.queryExecution.logical,
      "no new plan node may be added when the scan is already split")
  }

  test("blocking shuffle cleanup releases exactly the snapshot-diff ids") {
    import org.apache.spark.GraftSparkInternals
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val before = GraftSparkInternals.registeredShuffleIds(sc)
    // a real exchange, then a lineage cut so the shuffle is reclaimable
    // without invalidating anything — the sliced-LSH loop's exact shape
    spark.range(1000).repartition(4, col("id")).localCheckpoint().count()
    val mid = GraftSparkInternals.registeredShuffleIds(sc)
    val fresh = mid -- before
    assert(fresh.nonEmpty, "the repartition must register a shuffle")
    assert(GraftSparkInternals.cleanupShufflesBlocking(sc, fresh) == fresh.size)
    val after = GraftSparkInternals.registeredShuffleIds(sc)
    assert((after & fresh).isEmpty,
      "blocking cleanup must unregister the slice's shuffles before returning")
  }

  test("minhash LSH pairs equal exact ngram-jaccard pairs (full recall at tau=0.8)") {
    val exact = Dedup.ngramJaccardPairs(spark, dir).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, dir).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-duplicate pairs")
    assert(lsh == exact)
  }

  test("simhash pigeonhole block join finds exactly the pairs within maxDist") {
    // brute-force ground truth over all signature pairs (computed
    // driver-side with the same kernel the operator UDF uses)
    val sigs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0),
        Dedup.simhash64(r.getString(1).split(" ").filter(_.nonEmpty).toSeq)))
    val brute = (for {
      (d1, s1) <- sigs; (d2, s2) <- sigs
      if d1 < d2 && java.lang.Long.bitCount(s1 ^ s2) <= 3
    } yield (d1, d2)).toSet
    val joined = Dedup.simhashPairs(spark, dir).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(joined == brute)
  }

  test("G6 matching score reproduces the reference formula (golden values)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // goldens computed from bibliographic_matching.py:185-259 arithmetic
    val cases = Seq(
      ("smith", "smyth", "john", "jane", "the great paper", "the grate paper",
        "journal of x", "journal of xy", "", "", "2020", "2020", "5", "5",
        "1", "2", "10", "10", "20", "20", 35.61333333333334),
      // empty family -> author term 0; equal ISSNs short-circuit source to 1
      ("", "smyth", "john", "jane", "t", "t", "v", "v", "1111-2222", "1111-2222",
        "2020", "2020", "", "", "", "", "", "", "", "", 20.4),
      // source clamp at 0 (len-diff-forgiving ratio would go negative)
      ("smith", "smith", "j", "j", "completely different", "unrelated words here",
        "aaaa", "zzzzzzzzzz", "", "", "2019", "2020", "5", "6", "1", "1",
        "10", "11", "20", "21", 11.9))
    val df = cases.toDF("fa", "fb", "ga", "gb", "ta", "tb", "va", "vb",
      "ia", "ib", "ya", "yb", "voa", "vob", "isa", "isb", "spa", "spb",
      "epa", "epb", "expected")
    val got = df.withColumn("score", graft.functions.BiblioMatch.matchingScore(
      col("fa"), col("fb"), col("ga"), col("gb"), col("ta"), col("tb"),
      col("va"), col("vb"), col("ia"), col("ib"), col("ya"), col("yb"),
      col("voa"), col("vob"), col("isa"), col("isb"), col("spa"), col("spb"),
      col("epa"), col("epb"))).collect()
    got.foreach { r =>
      assert(math.abs(r.getAs[Double]("score") - r.getAs[Double]("expected")) < 1e-12,
        s"score ${r.getAs[Double]("score")} != golden ${r.getAs[Double]("expected")}")
    }
  }

  test("blockedWithinKeyPairs: exact-once pair coverage under skew, bounded per-key work") {
    import spark.implicits._
    // one hot cell (120 rows) + one small cell (5) + a singleton, cap 16
    val ids = ((1L to 120L).map(i => (i, 0L)) ++
      (201L to 205L).map(i => (i, 1L)) ++ Seq((300L, 2L)))
      .toDF("vec_id", "cluster")
    val cap = 16
    val got = Dedup.blockedWithinKeyPairs(ids, cap)
      .select("vec_id", "mate").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // EXACTLY once each: no pair lost by the block decomposition, none
    // duplicated (a dup would double-count a drop vote downstream)
    assert(got.length == got.toSet.size, "duplicate pairs emitted")
    val want = (for {
      cell <- Seq((1L to 120L), (201L to 205L))
      a <- cell; b <- cell if b < a
    } yield (a, b)).toSet
    assert(got.toSet == want)
    // per-block-pair key work is bounded ~cap^2 (g = ceil(120/16) = 8)
    val perKey = Dedup.blockedWithinKeyPairs(ids, cap)
      .groupBy("cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perKey(0L) == 120L * 119 / 2)
    // cap >= corpus means g = 1 everywhere: plan degenerates to the
    // plain self-join (sanity that the fast path is intact)
    val unsalted = Dedup.blockedWithinKeyPairs(ids, 1000000)
      .select("vec_id", "mate").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unsalted == want)
  }

  test("semanticDedup output is invariant to the cell-salt cap") {
    // sf0.001 has 200 embeddings over 8 cells (~25/cell); cellCap = 8
    // forces g in {2..4} blocks per cell — the salted plan must produce
    // byte-identical decisions to the unsalted default
    val base = Dedup.semanticDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val salted = Dedup.semanticDedup(spark, dir, cellCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(base.nonEmpty)
    assert(salted.toSeq == base.toSeq)
  }

  test("SimHash64 expression equals the Scala reference kernel per document") {
    // the codegen'd expression (production path) must be byte-identical
    // to Dedup.simhash64 — incl. non-ASCII tokens (UTF-16 charAt xor)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .union(Seq((900001L, "café naïve 中文 tokens"),
        (900002L, "plain ascii words")).toDF("doc_id", "text"))
    val got = docs
      .select($"doc_id",
        filter(split($"text", " "), t => length(t) > lit(0)).as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", graft.plans.VectorExpressions.simhash64($"toks").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = docs.collect().map { r =>
      r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq
    }.filter(_._2.nonEmpty).map { case (id, toks) => id -> Dedup.simhash64(toks) }.toMap
    assert(got == want)
  }

  test("simhash64 is deterministic and order-sensitive to content not order") {
    val a = Dedup.simhash64(Seq("alpha", "beta", "gamma"))
    val b = Dedup.simhash64(Seq("gamma", "beta", "alpha"))
    val c = Dedup.simhash64(Seq("alpha", "beta", "delta"))
    assert(a == b)          // bag-of-words signature
    assert(a != c)          // content changes flip bits
    assert(java.lang.Long.bitCount(a ^ c) < 32) // but only a few
  }

  test("LSH ANN top-k achieves decent recall vs brute force") {
    val brute = Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(spark, dir, nQueries = 10, k = 5, nBits = 4, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall too low — bucketing broken?")
    // sanity: LSH returns at most k per query and only valid neighbors
    assert(lsh.size <= brute.size)
  }

  test("IVF ANN top-k achieves decent recall vs brute force") {
    val brute = Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(spark, dir, nQueries = 10, k = 5,
      nlist = 8, nprobe = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall too low — IVF probing broken?")
    assert(ivf.size <= brute.size)
  }

  test("IVF defaults derive sqrt(n) cells and the gated probe fraction") {
    // the registered q43 point: TWIN_GATES' sf0.1 sweep gates recall
    // >= 0.7 at exactly ivfDefaults(2000) = (45, 16); floors keep tiny
    // spec corpora above the k-means seed count
    assert(Similarity.ivfDefaults(2000) == ((45, 16)))
    assert(Similarity.ivfDefaults(20) == ((8, 3)))
    val (nl, np) = Similarity.ivfDefaults(200)
    assert(nl == 14 && np == 5)
    // nprobe never exceeds nlist
    assert(Similarity.ivfDefaults(1)._2 <= Similarity.ivfDefaults(1)._1)
  }

  test("exact-seed IVF (q43_exact) is deterministic, ranked, and decent-recall") {
    val e1 = Similarity.ivfTopKExact(spark, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val e2 = Similarity.ivfTopKExact(spark, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(e1.toSeq == e2.toSeq) // fully deterministic — the oracle contract
    // per-query ranks are contiguous from 1 and cos is non-increasing
    e1.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.reverse.toSeq)
    }
    val brute = Similarity.bruteForceTopK(spark, dir, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = e1.map(r => (r._1, r._3)).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low — seed-IVF probing broken?")
  }

  test("IVF centroids are deterministic and unit-length") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.Tables.embeddings(spark, dir)
      .select($"vec_id".cast("long").as("vec_id"),
        Similarity.normalized($"embedding").as("nv"))
    val c1 = Similarity.trainCentroids(e, nlist = 4, iters = 2)
    val c2 = Similarity.trainCentroids(e, nlist = 4, iters = 2)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    c1.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid norm $n not unit")
    }
  }

  test("near-dup clusters: transitive closure of the pair set, canonical = min id") {
    val pairs = Dedup.minhashLshPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find ground truth over the verified pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = Dedup.nearDupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // cluster_size agrees with the member count per label
    val sizes = Dedup.nearDupClusters(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val byCluster = sizes.groupBy(_._1)
    byCluster.foreach { case (c, rows) =>
      assert(rows.forall(_._2 == rows.length), s"cluster $c size mismatch")
    }
  }

  test("auto-sized LSH pairs equal the fixed twin at gate corpus sizes") {
    // n <= 2000 must resolve to the (nBits=4, nTables=8) default point,
    // so the fixed twin's recall spec covers the auto path too
    val fixed = Dedup.embeddingCosinePairsLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.embeddingCosinePairsLshAuto(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed)
  }

  test("lshAutoParams: anchor identity at gate n, miss budget holds at every derived point") {
    // gate corpora resolve to the fixed q22 anchor point
    assert(Dedup.lshAutoParams(200) == ((128, 3)))
    assert(Dedup.lshAutoParams(2000) == ((128, 3)))
    // each decade of corpus growth adds one row; bands re-solve the
    // 4e-8 per-qualifying-pair miss budget at the new steepness
    var prevRows = 0
    for (n <- Seq(2000L, 20000L, 200000L, 2000000L, 20000000L)) {
      val (b, r) = Dedup.lshAutoParams(n)
      assert(r >= prevRows, s"rows must be monotone in n (n=$n)")
      prevRows = r
      val miss = math.pow(1.0 - math.pow(0.5, r), b)
      assert(miss <= 4.1e-8, s"miss budget violated at n=$n: (b=$b, r=$r) -> $miss")
      // background J=0.1 candidate mass per pair shrinks with n:
      // b * 0.1^r falls at least 3x per decade past the gate
      if (n > 2000L) {
        val (pb, pr) = Dedup.lshAutoParams(n / 10)
        assert(b * math.pow(0.1, r) <= pb * math.pow(0.1, pr) / 3.0,
          s"background collision mass not shrinking at n=$n")
      }
    }
    assert(Dedup.lshAutoParams(20000) == ((264, 4)))
  }

  test("q22 auto operating point equals the fixed anchor at the gate corpus") {
    // at n <= 2000 lshAutoParams resolves to (128, 3), so the auto funnel
    // must be row-identical to the anchor (and both hash-match q22Sql)
    val anchor = graft.operators.TextQueries.q22LshMatchScoreFixed(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val auto = graft.operators.TextQueries.q22LshMatchScoreAuto(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(anchor.nonEmpty, "fixture should contain qualifying fuzzy-match pairs")
    assert(auto == anchor)
  }

  test("sign-signature Hamming prefilter: bounded boundary miss, no loss above it") {
    // the staged verify (signatures before vectors) trades a SMALL,
    // boundary-concentrated recall cost for an answer-mass-shaped fetch
    // (hammingCutoff doc): at +2 sigma a qualifying pair AT cos=0.45 is
    // mis-pruned with ~2.3%, and the miss probability collapses
    // sigma-fast above — so the spec pins (a) overall qualifying-pair
    // retention >= 95%, (b) NO losses among pairs at cos >= 0.55 (>= 4.5
    // sigma inside the cutoff, miss ~3e-6), (c) the cutoff sits between
    // the threshold mean and the background mean (it must prune)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val exact = Dedup.embeddingCosinePairs(spark, dir).select($"v1", $"v2", $"cos")
    val e = graft.Tables.embeddings(spark, dir)
      .select($"vec_id".cast("long").as("vec_id"),
        Similarity.normalized($"embedding").as("nv"))
    val planes = Similarity.signaturePlanes(64, Dedup.SignSigBits)
    val sigs = e.select($"vec_id",
      graft.plans.VectorExpressions.signPack($"nv", planes, 64).as("sg"))
    val cut = Dedup.hammingCutoff(Dedup.SignSigBits, 0.45)
    val rows = exact
      .join(sigs.select($"vec_id".as("v1"), $"sg".as("sg1")), "v1")
      .join(sigs.select($"vec_id".as("v2"), $"sg".as("sg2")), "v2")
      .select(graft.plans.VectorExpressions.hammingDistance($"sg1", $"sg2").as("ham"),
        $"cos")
      .as[(Int, Double)].collect()
    assert(rows.nonEmpty, "fixture should contain qualifying pairs")
    val kept = rows.count(_._1 <= cut)
    assert(kept.toDouble / rows.length >= 0.95,
      s"prefilter keeps only $kept/${rows.length} qualifying pairs")
    val missedHigh = rows.filter(r => r._2 >= 0.55 && r._1 > cut)
    assert(missedHigh.isEmpty,
      s"${missedHigh.length} pairs at cos >= 0.55 past the cutoff $cut (max ham ${missedHigh.map(_._1).maxOption})")
    // and the cutoff itself is where the comment says it is
    assert(cut < Dedup.SignSigBits / 2, "cutoff must sit below the background mean")
    val p = math.acos(0.45) / math.Pi
    assert(cut >= (Dedup.SignSigBits * p).toInt, "cutoff below the threshold mean")
  }

  test("LshBuckets kernel == per-table lshBucket composition, bucket for bucket") {
    // the production bucket projection is ONE LshBucketsKernel call (the
    // composed array(lshBucket(0..L)) form inlines L*nBits literal plane
    // arrays and blows janino's 64 KB method limit at auto operating
    // points, dropping the sketch projection to interpreted eval). The
    // kernel must reproduce the composed form's keys exactly — same
    // planes, same ascending dot accumulation, (t<<32)|bits key
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, dir)
      .select($"vec_id".cast("long").as("vec_id"),
        Similarity.normalized($"embedding").as("nv"))
      .limit(200)
    for ((nBits, nTables) <- Seq((4, 8), (10, 24))) {
      val mismatches = e.select(
          Similarity.lshBucketsArray($"nv", 64, nBits, nTables).as("k"),
          array((0 until nTables).map(t =>
            Similarity.lshBucket($"nv", 64, nBits, t)): _*).as("c"))
        .filter(not($"k" <=> $"c")).count()
      assert(mismatches == 0,
        s"kernel diverges from composed buckets at nBits=$nBits nTables=$nTables")
    }
  }

  test("packedBuckets bit t*nBits+b == bit b of bucket key t, for every table") {
    // the exactly-once emission map must encode EXACTLY the bucket keys'
    // sign bits (same planes, same dots) or first-collide would disagree
    // with the join's bucket equality and pairs would vanish or duplicate
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, dir)
      .select(Similarity.normalized($"embedding").as("nv")).limit(100)
    for ((nBits, nTables) <- Seq((4, 8), (11, 37), (31, 5))) {
      val rows = e.select(
          Similarity.lshBucketsArray($"nv", 64, nBits, nTables).as("keys"),
          Similarity.lshBucketsPacked($"nv", 64, nBits, nTables).as("pk"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val keys = r.getSeq[Long](0)
        val pk = r.getSeq[Long](1)
        for (t <- 0 until nTables; b <- 0 until nBits) {
          val fromKey = (keys(t) >>> b) & 1L
          val pos = t * nBits + b
          val fromPk = (pk(pos >>> 6) >>> (pos & 63)) & 1L
          assert(fromKey == fromPk,
            s"bit mismatch at table $t bit $b (nBits=$nBits nTables=$nTables)")
        }
      }
    }
  }

  test("firstCollidingTable == linear-scan reference on random packed maps") {
    val rnd = new scala.util.Random(4242)
    def refFirst(a: Array[Long], b: Array[Long], nBits: Int, nTables: Int): Int = {
      def slice(arr: Array[Long], t: Int): Long = {
        var out = 0L
        for (i <- 0 until nBits) {
          val pos = t * nBits + i
          out |= (((arr(pos >>> 6) >>> (pos & 63)) & 1L) << i)
        }
        out
      }
      (0 until nTables).find(t => slice(a, t) == slice(b, t)).getOrElse(-1)
    }
    for (_ <- 1 to 200) {
      val nBits = 1 + rnd.nextInt(32)
      val nTables = 1 + rnd.nextInt(40)
      val words = (nTables * nBits + 63) >>> 6
      val a = Array.fill(words)(rnd.nextLong())
      // bias toward collisions: b = a with a few flipped bits
      val b = a.clone()
      for (_ <- 0 to rnd.nextInt(8))
        b(rnd.nextInt(words)) ^= (1L << rnd.nextInt(64))
      val ad = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(a)
      val bd = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(b)
      val got = graft.plans.LshBucketsKernel.firstCollidingTable(ad, bd, nBits, nTables)
      val want = refFirst(a, b, nBits, nTables)
      assert(got == want, s"nBits=$nBits nTables=$nTables: got $got want $want")
    }
  }

  test("CentroidKernel == composed argmax/probe columns, cell for cell") {
    // the kernels replaced per-centroid literal compositions whose
    // nlist*dim inlined doubles blow janino at production quantizer
    // sizes; semantics (HALF_UP round-6, first-max ties, probe order
    // (dot desc, index asc)) must be bit-identical to the composed forms
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, dir)
      .select(Similarity.normalized($"embedding").as("nv")).limit(300)
      .localCheckpoint()
    val cents: Array[Array[Double]] = e.limit(11)
      .select($"nv").as[Seq[Double]].collect().map(_.toArray)
    for (rounded <- Seq(true, false)) {
      val mism = e.select(
          Similarity.nearestCentroid($"nv", cents).as("k0"),
          Similarity.nearestCentroidRounded($"nv", cents).as("k1"),
          Similarity.nearestCentroidComposed($"nv", cents, rounded = false).as("c0"),
          Similarity.nearestCentroidComposed($"nv", cents, rounded = true).as("c1"))
        .filter($"k0" =!= $"c0" || $"k1" =!= $"c1").count()
      assert(mism == 0, s"kernel assignment diverges from composed form")
    }
    // probe order vs the struct-sort composition (rounded, the oracle rule)
    val probeMism = e.select(
        Similarity.centroidProbes($"nv", cents, 4, rounded = true).as("k"),
        slice(array_sort(array(cents.indices.map(c =>
          struct((-round(Similarity.dot($"nv", array(cents(c).map(lit): _*)), 6)).as("d"),
            lit(c).as("c"))): _*)), 1, 4).getField("c").as("c"))
      .filter(not($"k" <=> $"c")).count()
    assert(probeMism == 0, "kernel probe list diverges from composed sort")
  }

  test("CentroidKernel.probes bounded selection == stable sort under dense ties") {
    // the r12 O(nlist*nprobe) insertion selection must keep the exact
    // (dot desc, index asc) order of the stable sort it replaced — ties
    // are the risk, so quantize dots onto a handful of values: vectors
    // and centroids drawn from {0,1}^dim with rounding ON collide hard
    val rnd = new scala.util.Random(77)
    val dim = 8
    for (trial <- 0 until 200) {
      val nlist = 1 + rnd.nextInt(40)
      val nprobe = 1 + rnd.nextInt(12)
      val cents = Array.fill(nlist * dim)(rnd.nextInt(2).toDouble)
      val v = Array.fill(dim)(rnd.nextInt(2).toDouble)
      val vd = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(v)
      val got = graft.plans.CentroidKernel
        .probes(vd, cents, dim, nprobe, rounded = true).toIntArray().toSeq
      // reference: full dot list, stable sort desc, take k
      val dots = Array.tabulate(nlist) { c =>
        val s = (0 until dim).map(i => cents(c * dim + i) * v(i)).sum
        java.math.BigDecimal.valueOf(s)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      val want = dots.indices.sortBy(i => -dots(i)).take(math.min(nprobe, nlist))
      assert(got == want, s"trial=$trial nlist=$nlist nprobe=$nprobe: got $got want $want dots=${dots.toSeq}")
    }
  }

  test("IvfIndex: persisted build+probe == in-memory exact twin; probe scan is partition-pruned") {
    // the FAISS IVF-Flat layout as a partitioned table: identical output
    // to ivfTopKExact (same quantizer), and the probe's corpus scan must
    // carry a dynamic partition-pruning filter on `cluster` — reading all
    // inverted lists would defeat the index at corpus scale
    val indexed = graft.operators.IvfIndex.q43Indexed(spark, dir)
    val pruned = indexed.queryExecution.executedPlan.toString()
    val exact = Similarity.ivfTopKExact(spark, dir).collect().map(_.toString).toSeq
    val got = indexed.collect().map(_.toString).toSeq
    assert(got == exact, s"indexed probe diverges from exact twin\n got: ${got.take(3)}\nwant: ${exact.take(3)}")
    assert(pruned.contains("dynamicpruning"),
      s"probe scan is not partition-pruned:\n${pruned.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")}")
  }

  test("IvfIndex.append: build-half + append-half == one build over the full corpus") {
    // the frozen-quantizer contract: appending with the persisted
    // centroids must land every new vector in the same cell a full
    // build with those centroids would pick, and probes must see old
    // and new vectors identically
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, dir)
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val n = e.count()
    val dirA = java.nio.file.Files.createTempDirectory("ivf_app_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("ivf_app_b").toString
    // A: build on the first half (seeds come from it), append the rest
    val half = n / 2
    val firstHalfDir = java.nio.file.Files.createTempDirectory("ivf_half").toString
    e.filter($"vec_id" < half).write.mode("overwrite")
      .parquet(s"$firstHalfDir/embeddings.parquet")
    graft.operators.IvfIndex.build(spark, firstHalfDir, dirA, nlist = 8)
    graft.operators.IvfIndex.append(spark, dirA, e.filter($"vec_id" >= half))
    // B: one build over the full corpus with the SAME seeds (the first 8
    // vec_ids live in the first half, so both quantizers are identical)
    graft.operators.IvfIndex.build(spark, dir, dirB, nlist = 8)
    val a = spark.read.parquet(s"$dirA/corpus")
      .select($"vec_id", $"cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = spark.read.parquet(s"$dirB/corpus")
      .select($"vec_id", $"cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a == b, s"append assignments diverge from full build: ${(a diff b).take(5)} / ${(b diff a).take(5)}")
    val queries = graft.Tables.embeddings(spark, dir)
      .select($"vec_id".cast("long").as("vec_id"),
        Similarity.normalized($"embedding").as("nv"))
      .filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"nv".as("qv"))
    val pa = graft.operators.IvfIndex.probe(spark, dirA, queries).collect().map(_.toString).toSeq
    val pb = graft.operators.IvfIndex.probe(spark, dirB, queries).collect().map(_.toString).toSeq
    assert(pa == pb, "probes over appended index diverge from full build")
  }

  test("sign-LSH pair emission is exactly-once: no duplicates without a distinct") {
    // the production path dropped its pair-dedup exchange — uniqueness is
    // now structural (first-colliding-table filter), so a regression here
    // would silently re-inflate the 100x shuffle AND duplicate rows
    val pairs = Dedup.embeddingCosinePairsLsh(spark, dir, nBits = 4, nTables = 12)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.length == pairs.toSet.size,
      s"${pairs.length - pairs.toSet.size} duplicate pair emissions")
  }

  test("LSH embedding near-dup pairs: subset of exact with decent recall") {
    val exact = Dedup.embeddingCosinePairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingCosinePairsLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-dup embedding pairs")
    assert(lsh.subsetOf(exact), "LSH path must never invent a pair (exact verify stage)")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low — bucketing broken?")
  }

  test("LSH embedding clusters (q45_lsh): consistent sizes, refinement of exact clusters") {
    val lsh = Dedup.embeddingClustersLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(lsh.nonEmpty, "production cluster path must produce rows")
    // cluster_size consistency
    lsh.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.forall(_._3 == rows.length), s"cluster $c size mismatch")
    }
    // LSH pairs ⊆ exact pairs, so every LSH cluster must sit inside ONE
    // exact cluster (the LSH clustering is a refinement of the exact one)
    val exactCluster = Dedup.embeddingClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lsh.groupBy(_._2).foreach { case (c, rows) =>
      val parents = rows.map(r => exactCluster.get(r._1)).toSet
      assert(parents.size == 1 && !parents.contains(None),
        s"LSH cluster $c spans exact clusters $parents")
    }
    // membership recall floor: most exactly-clustered vectors survive
    val clustered = exactCluster.keySet
    val lshMembers = lsh.map(_._1).toSet
    val memRecall = (clustered & lshMembers).size.toDouble / clustered.size
    assert(memRecall >= 0.6, s"cluster membership recall $memRecall too low")
  }

  test("exact dedup groups: every text maps to exactly one group") {
    val total = graft.Tables.documents(spark, dir).count()
    val groups = Dedup.exactDupGroups(spark, dir)
    import org.apache.spark.sql.functions._
    val sum = groups.agg(coalesce(org.apache.spark.sql.functions.sum("n"), lit(0L))).head.getLong(0)
    assert(sum == total)
  }

  test("q48 decontamination hits match a driver-side string-shingle recompute") {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSeq))
    def grams(t: Seq[String]) =
      t.sliding(5).filter(_.size == 5).map(_.mkString(" ")).toSet
    val bench = docs.filter(_._1 % 7 == 0).flatMap(d => grams(d._2)).toSet
    val expect = docs.filter(_._1 % 7 != 0)
      .map { case (id, t) => (id, grams(t).count(bench.contains).toLong) }
      .filter(_._2 > 0).toMap
    val got = Dedup.decontaminationHits(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.nonEmpty, "test data should contain contaminated docs")
    assert(got == expect)
  }

  test("q49 repetition fractions match a driver-side recompute") {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq))
    val got = graft.operators.TextAnalysis.q49Repetition(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.size == docs.count(_._2.nonEmpty))
    docs.filter(_._2.nonEmpty).foreach { case (id, t) =>
      val n = t.size
      val e1 = 1.0 - t.distinct.size.toDouble / n
      val e2 = t.groupBy(identity).values.map(_.size).max.toDouble / n
      val e3 = if (n < 2) 0.0
        else 1.0 - t.sliding(2).map(_.mkString(" ")).toSeq.distinct.size.toDouble / (n - 1)
      val (gn, g1, g2, g3) = got(id)
      assert(gn == n, s"doc $id token count")
      assert(math.abs(g1 - e1) < 5e-7 && math.abs(g2 - e2) < 5e-7 &&
        math.abs(g3 - e3) < 5e-7, s"doc $id fractions")
    }
  }

  test("q50 incremental dedup equals the exact pairs touching the new batch") {
    val full = Dedup.ngramJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = full.flatMap { case (d1, d2, j) =>
      (d1 % 10 == 0, d2 % 10 == 0) match {
        case (true, false) => Some((d1, d2, j))
        case (false, true) => Some((d2, d1, j))
        case (true, true) => Some((d1, d2, j)) // intra-batch, d1 < d2 already
        case _ => None // old x old is out of contract
      }
    }.toSet
    val got = Dedup.incrementalDedupPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expect.nonEmpty, "test data should contain new-batch near-dups")
    assert(got == expect)
  }

  test("q51 cross-doc duplicated-chunk stats match a driver-side recompute") {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSeq))
    def chunks(t: Seq[String]) =
      t.grouped(8).filter(_.size == 8).map(_.mkString(" ")).toSeq
    val ndocs = docs.flatMap { case (id, t) => chunks(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
    val got = Dedup.crossDocDupFraction(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val withChunks = docs.filter(_._2.size >= 8)
    assert(got.size == withChunks.size)
    var anyDup = false
    withChunks.foreach { case (id, t) =>
      val cs = chunks(t)
      val nDup = cs.count(c => ndocs(c) >= 2).toLong
      if (nDup > 0) anyDup = true
      val (gn, gd, gf) = got(id)
      assert(gn == cs.size.toLong, s"doc $id chunk count")
      assert(gd == nDup, s"doc $id dup count")
      assert(math.abs(gf - nDup.toDouble / cs.size) < 5e-7, s"doc $id fraction")
    }
    assert(anyDup, "test data should contain cross-doc duplicated chunks")
  }

  test("q54 salted budget mix fills each (source, salt) sub-budget greedily") {
    val budget = 800L; val salts = 4
    val docs = graft.Tables.documents(spark, dir)
      .selectExpr("cast(doc_id as long) doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = docs
      .map { case (id, src, text) =>
        (id, src, id % salts,
          text.toLowerCase.split(" ").count(_.nonEmpty).toLong, md5hex(text))
      }
      .groupBy(d => (d._2, d._3)).toSeq.flatMap { case (_, group) =>
        var cum = 0L
        group.sortBy(d => (d._5, d._1)).flatMap { case (id, src, salt, n, _) =>
          cum += n
          if (cum <= budget / salts) Some((id, src, salt, n, cum)) else None
        }
      }.toSet
    val got = graft.operators.TextAnalysis.q54TokenBudgetMixSalted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty && got == expect)
    assert(got.groupBy(t => (t._2, t._3)).size > 1, "multiple sub-windows")
  }

  test("q53 corpus-stats quality matches a driver-side recompute") {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq))
    val dfv = docs.flatMap { case (id, t) => t.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (tok, xs) => tok -> xs.size.toLong }
    val sorted = dfv.values.toSeq.sorted
    val median = if (sorted.size % 2 == 1) sorted(sorted.size / 2).toDouble
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    val rareBelow = median / 2
    val got = graft.operators.TextAnalysis.q53CorpusStats(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val withToks = docs.filter(_._2.nonEmpty)
    assert(got.size == withToks.size)
    var anyRare = false
    withToks.foreach { case (id, t) =>
      val n = t.size
      val meanDf = t.map(dfv).sum.toDouble / n
      val rareFrac = t.count(tok => dfv(tok) < rareBelow).toDouble / n
      if (rareFrac > 0) anyRare = true
      val (gn, gm, gr) = got(id)
      assert(gn == n.toLong, s"doc $id token count")
      assert(math.abs(gm - meanDf) < 5e-7 && math.abs(gr - rareFrac) < 5e-7,
        s"doc $id stats")
    }
    assert(anyRare, "test data should contain corpus-rare tokens")
  }

  test("q52 dedup corpus keeps exactly one min-id representative per cluster") {
    val clusters = Dedup.nearDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val all = graft.Tables.documents(spark, dir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val got = Dedup.dedupCorpus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == all, "one row per corpus doc")
    got.foreach { case (id, cluster, kept) =>
      assert(cluster == clusters.getOrElse(id, id), s"doc $id cluster")
      assert(kept == (if (cluster == id) 1L else 0L), s"doc $id kept flag")
    }
    val dropped = got.count(_._3 == 0L)
    assert(dropped > 0 && dropped == clusters.count { case (id, c) => id != c })
  }

  test("q57 sqrt(n) twin: sound drops and justified-mass parity with the fixed-nlist anchor") {
    // sf0.01 (500 vecs) so the twin's nlist = ceil(sqrt(500)) = 23 really
    // differs from the anchor's fixed 8 — at sf0.001 both resolve to 8
    // and the comparison would be vacuous. threshold=0.4: the synthetic
    // embeddings carry no >=0.7 pairs (the registered 0.7 runs are
    // all-kept), and 0.4 yields 59 true pairs / 53 droppable vectors —
    // enough signal to exercise drops on both paths.
    //
    // LAW (reformulated r17): soundness vs the EXHAUSTIVE global mate set
    // is the ground truth — every drop must have a real >=thr smaller-id
    // mate. Mutual agreement with the anchor is NOT a law: both paths
    // prune within quantizer cells only (SemDeDup semantics), so two
    // SOUND prunings of a diffuse near-threshold graph legitimately
    // disagree on WHICH justified vectors they catch (measured at sf0.1:
    // twin 143 / anchor 235 drops, all 378 sound, overlap only 67). What
    // must hold is mass parity: the finer sqrt-n cells may not collapse
    // the caught share of justified drops.
    val dir01 = "/root/testdata/sf0.01"
    val thr = 0.4
    val twin = Dedup.semanticDedupSqrtN(spark, dir01, threshold = thr).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val vecs = graft.Tables.embeddings(spark, dir01)
      .selectExpr("cast(vec_id as long) vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    assert(twin.size == vecs.length, "twin must emit one row per corpus vector")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    val byId = vecs.toMap
    val dropped = twin.collect { case (id, 0L) => id }.toSet
    assert(dropped.nonEmpty, "corpus should contain semantic dups at thr=0.4")
    // soundness: a dropped vector REALLY has a >=threshold smaller-id mate
    // (quantized compare, the operator's rule) — within-cell pruning can
    // only ever see a subset of all mates, so a drop without one is a bug
    dropped.foreach { id =>
      val v = byId(id)
      assert(vecs.exists { case (j, u) =>
        j < id && math.round(cos(u, v) * 1e6) >= math.round(thr * 1e6) },
        s"twin dropped $id without any >=$thr smaller-id mate")
    }
    // mass parity: the twin's finer cells see fewer mates (the
    // recall-for-scale trade), but the caught share must stay within a
    // constant factor of the anchor's (measured: anchor 19, twin 10 at
    // sf0.01; anchor 235, twin 143 at sf0.1 — ratios 0.53 / 0.61)
    val anchorDropped = Dedup.semanticDedup(spark, dir01, threshold = thr).collect()
      .filter(_.getLong(2) == 0L).map(_.getLong(0)).toSet
    info(s"twin dropped ${dropped.size}, anchor dropped ${anchorDropped.size}, " +
      s"overlap ${(dropped & anchorDropped).size}")
    assert(dropped.size >= (0.45 * anchorDropped.size).toInt,
      s"twin justified-drop mass collapsed: ${dropped.size} vs anchor ${anchorDropped.size}")
  }

  test("q59 packing semantics hold at shards in {8, 32, 64} (parallelism contract)") {
    // the operator contract says "set shards ~ cluster cores" — prove the
    // per-shard packing semantics (md5 order, running offsets, window
    // assignment) are shard-count-invariant (incl. the registered p32 point), not
    // the default 8
    Seq(8, 32, 64).foreach { shards =>
      val got = graft.operators.TextAnalysis
        .q59SequencePacking(spark, dir, ctx = 512, shards = shards)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val docs = graft.Tables.documents(spark, dir)
        .selectExpr("cast(doc_id as long) doc_id", "text").collect()
        .map { r =>
          val id = r.getLong(0)
          val text = r.getString(1)
          val nTok = text.split(" ").count(_.nonEmpty).toLong
          val ord = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
          (id, id % shards, nTok, ord)
        }
      val expect = docs.groupBy(_._2).toSeq.flatMap { case (shard, ds) =>
        var off = 0L
        ds.sortBy(d => (d._4, d._1)).map { d =>
          val start = off; off += d._3
          d._1 -> ((shard, d._3, start / 512, start % 512))
        }
      }.toMap
      assert(got == expect, s"shards=$shards packing mismatch")
    }
  }

  test("q61 substring dedup merges overlapping duplicated k-grams into maximal spans") {
    import spark.implicits._
    // docs 1/2 share a 10-token run (3 overlapping 8-gram starts -> ONE
    // merged 10-token span each); doc 3 is clean; doc 4 repeats an 8-token
    // run WITHIN itself at distance > k (two islands, 8 tokens each) —
    // within-doc repeats count toward the corpus frequency, per the
    // exact-substring definition
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 5).map(i => s"a$i") ++ Seq(shared) ++ (1 to 7).map(i => s"z$i")).mkString(" ")),
      (2L, (Seq(shared) ++ (1 to 9).map(i => s"b$i")).mkString(" ")),
      (3L, (1 to 20).map(i => s"c$i").mkString(" ")),
      (4L, (Seq(run) ++ Seq("x", "y") ++ Seq(run)).mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("q61spec").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.substringDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def round6(x: Double) = // Spark round() semantics: HALF_UP
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((22L, 10L, round6(1.0 - 10.0 / 22))))
    assert(got(2L) == ((19L, 10L, round6(1.0 - 10.0 / 19))))
    assert(got(3L) == ((20L, 0L, 1.0)))
    assert(got(4L) == ((18L, 16L, round6(1.0 - 16.0 / 18))))
  }

  test("q61 oracle SQL derives from the same k as the operator (no silent k divergence)") {
    import spark.implicits._
    // the oracle text tracks k: gram slice width, min token count, gap
    // threshold, and span arithmetic must all move together
    val sql8 = Dedup.q61Sql()
    assert(sql8.contains("t[i:i+7]") && sql8.contains("len(t) >= 8") &&
      sql8.contains("9) > 8") && sql8.contains("max(p) + 8 - min(p)"))
    val sql3 = Dedup.q61Sql(3)
    assert(sql3.contains("t[i:i+2]") && sql3.contains("len(t) >= 3") &&
      sql3.contains("4) > 3") && sql3.contains("max(p) + 3 - min(p)"))
    // and the operator honors non-default k: with k=3, doc 5's repeated
    // 3-token run ("p q r ... p q r") yields two 3-token islands
    val docs = Seq(
      (5L, "p q r u v w x p q r"),
      (6L, "m n o t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("q61kspec").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.substringDedup(spark, tmp, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(5L) == ((10L, 6L)))
    assert(got(6L) == ((10L, 0L)))
  }

  test("q61 hot gram never lands in a buffered window group (two-level count shape)") {
    import spark.implicits._
    // degenerate corpus: ONE 8-gram with ~10k corpus occurrences (50 docs
    // of a single repeated token). The r15 shape (count(*) window over
    // gh) buffered a hot gram's whole occurrence list in one WindowExec
    // group — at 100 TB a boilerplate gram is billions of rows in one
    // task's sort. The r16 two-level count must (a) stay exact here and
    // (b) plan NO window over the gram key: the only window in the plan
    // is the per-doc island merge, partitioned by doc_id.
    val hot = (1 to 50).map(d => (d.toLong, Array.fill(200)("h").mkString(" ")))
    val clean = (51 to 60).map(d =>
      (d.toLong, (1 to 200).map(i => s"c${d}_$i").mkString(" ")))
    val tmp = java.nio.file.Files.createTempDirectory("q61hotspec").toString
    (hot ++ clean).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // r18: walk the working pipeline, not the answer checkpoint's
    // Scan ExistingRDD (operators.Answer.planAuditBypass)
    graft.operators.Answer.planAuditBypass = true
    val df = try Dedup.substringDedup(spark, tmp)
      finally graft.operators.Answer.planAuditBypass = false
    // traverse THROUGH AdaptiveSparkPlanExec — a bare collect stops at
    // the AQE wrapper and sees no window at all
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val expanded = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      expanded +: expanded.children.flatMap(allNodes)
    }
    val windows = allNodes(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "the island merge is still a window")
    assert(windows.forall(_.partitionSpec.forall(
        _.references.map(_.name).toSeq == Seq("doc_id"))),
      s"no window may partition by the gram key: " +
        windows.map(_.partitionSpec).mkString("; "))
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    hot.foreach { case (d, _) => assert(got(d) == ((200L, 200L, 0.0))) }
    clean.foreach { case (d, _) => assert(got(d) == ((200L, 0L, 1.0))) }
  }

  test("bench harness materializes the full plan — count() would eliminate q61's join") {
    // r15 finding: timing `df.count()` lets Catalyst prune everything the
    // count doesn't need; for q61 (unique-key left join feeding only the
    // row count) the WHOLE operator optimized away and the bench measured
    // a parquet footer count (0.4s/15KB shuffle at 500k docs vs the
    // honest 15s/599MB). Bench/ScaleBench therefore time
    // executedPlan.execute().count() — this guard pins that the harness
    // plan retains the operator's window + join.
    // r18: under the answer checkpoint the harness plan is a Scan
    // ExistingRDD (the operator ran eagerly — count() can no longer prune
    // anything); the pin below grades the un-truncated pipeline via the
    // spec bypass, which is what the checkpoint materializes.
    graft.operators.Answer.planAuditBypass = true
    val df = try Dedup.substringDedup(spark, dir)
      finally graft.operators.Answer.planAuditBypass = false
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "harness plan lost the frequency window")
    assert(plan.toLowerCase.contains("join"), "harness plan lost the final join")
    // and the pitfall is real on this Spark: the same frame under a bare
    // count optimizes the window/join away entirely
    val countPlan = df.groupBy().count().queryExecution.optimizedPlan.toString
    assert(!countPlan.contains("Window"),
      "count() no longer prunes the plan — harness comment is stale")
  }
}
