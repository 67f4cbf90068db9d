package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Large-scale document deduplication operators.
  *
  * The reference deduplicates bibliographic entities by shared identifiers
  * (SURVEY §2.6); a 100 TB training-data pipeline additionally needs
  * content-level dedup. All variants below are shuffle-bounded joins with
  * no driver-side state:
  *
  *  - exact: hash-groupBy on the full text (one shuffle on the hash).
  *  - n-gram Jaccard: shingle-explode -> self-join on shingle -> exact
  *    set-overlap verify. Exact but quadratic in per-shingle bucket size.
  *  - MinHash+LSH: shingle -> 1 base hash -> H affine permutations ->
  *    b bands of r rows -> bucket join -> exact-Jaccard verify. At scale
  *    the candidate join touches only colliding bands: shuffle volume is
  *    O(docs * b) instead of O(docs * shingles).
  *  - SimHash: 64-bit signature; Hamming<=k retrieval via the pigeonhole
  *    block join (4 blocks of 16 bits -> any pair within distance 3 shares
  *    a block).
  *
  * All thresholds/params are arguments; defaults match the verify suite.
  */
object Dedup {

  /** q30 oracle — exact duplicate groups (all groups listed so the result
    * is non-empty even when the corpus has no exact dups at small SF). */
  val q30Sql: String =
    """SELECT md5(text) AS text_md5, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(doc_id) AS BIGINT) AS keep_id
      |FROM documents GROUP BY md5(text) ORDER BY text_md5""".stripMargin

  /** CTE body shared by the q31/q32 pair oracle and the q42 cluster
    * oracle: exact all-pairs word-5-gram Jaccard via the shared-shingle
    * candidate join. */
  private val jaccardCtes: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]) AS s
      |  FROM toks WHERE len(t) >= 5
      |), ex AS (
      |  SELECT doc_id, unnest(s) AS sg FROM sh
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |), j AS (
      |  SELECT d1, d2, len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(x.s || y.s)) AS jac
      |  FROM cand JOIN sh x ON x.doc_id = d1 JOIN sh y ON y.doc_id = d2
      |)""".stripMargin

  /** Shared oracle for q31 (exact shared-shingle join) and q32 (MinHash+LSH
    * + verify): both must equal the exact all-qualifying-pairs set — the
    * oracle independently proves the LSH path loses no pair at this SF. */
  val jaccardPairsSql: String =
    s"""WITH $jaccardCtes
      |SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2, round(jac, 6) AS jac
      |FROM j WHERE jac >= 0.8 ORDER BY d1, d2""".stripMargin

  /** q42 oracle — connected components over the exact near-dup pair set,
    * computed independently of the engine's label-propagation: recursive
    * label reachability (every node inherits every label that can reach
    * it; the component id is the min). Canonical keep-doc = min doc_id =
    * the cluster label, as in the engine. */
  val q42Sql: String =
    s"""WITH RECURSIVE $jaccardCtes,
      |pairs AS (SELECT d1, d2 FROM j WHERE jac >= 0.8),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS label FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT e.b AS node, r.label FROM reach r JOIN edges e ON r.node = e.a
      |), cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node)
      |SELECT CAST(node AS BIGINT) AS doc_id, CAST(cluster AS BIGINT) AS cluster,
      |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
      |FROM cc ORDER BY doc_id""".stripMargin

  /** q33 oracle — the SAME FNV-1a-64 token hash + bit-vote + signed
    * signature arithmetic as [[simhash64]], expressed in DuckDB SQL so the
    * driver hash-compare gates the simhash path like every other query.
    * 64-bit wraparound multiply is emulated in HUGEINT by hi/lo 32-bit
    * decomposition (DuckDB has no modular UBIGINT multiply); the char xor
    * is applied on the full low 16 bits (`h % 65536`) to match the Scala
    * side's UTF-16 `charAt` xor for every BMP code point, not just ASCII
    * (DuckDB `ord` = code point = the code unit for BMP chars).
    * The oracle brute-forces all pairs — the pigeonhole block join on the
    * Spark side must find exactly the same Hamming<=3 set. */
  val q33Sql: String = {
    val xh = "(h - (h % 65536) + CAST(xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT))"
    val step = s"((($xh % 4294967296) * 1099511628211 + " +
      s"((($xh // 4294967296) * 1099511628211) % 4294967296) * 4294967296) " +
      "% 18446744073709551616)"
    val fnv = "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"[CAST(ord(c) AS HUGEINT) FOR c IN string_split(tok, '')]), (h, c) -> $step)"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
       |  FROM documents
       |), th AS (
       |  SELECT doc_id, CAST($fnv AS UBIGINT) AS h FROM toks
       |), votes AS (
       |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, range(64) r(b) GROUP BY doc_id, b
       |), sigs AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN su >= 9223372036854775808 THEN su - 18446744073709551616 ELSE su END AS BIGINT) AS sig
       |  FROM (SELECT doc_id, sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) * (CAST(1 AS UBIGINT) << b) ELSE 0 END) AS su
       |        FROM votes GROUP BY doc_id)
       |)
       |SELECT CAST(a.doc_id AS BIGINT) AS d1, CAST(b.doc_id AS BIGINT) AS d2,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS dist
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY d1, d2""".stripMargin
  }

  /** q34 oracle — brute-force cosine near-dup pairs (quantized compare,
    * matching the Spark side's 6-decimal rounding before the filter). */
  val q34Sql: String =
    """SELECT CAST(a.vec_id AS BIGINT) AS v1, CAST(b.vec_id AS BIGINT) AS v2,
      |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
      |ORDER BY v1, v2""".stripMargin

  /** Word n-gram shingle set (distinct, order-irrelevant) as a Column over
    * a text column — the STRING reference formulation, kept only as the
    * independent check the ShingleKernelSpec compares the hashed pipeline
    * against (set sizes and pairwise intersections must agree). Production
    * paths use [[shingleHashes]]. */
  def shingles(text: Column, n: Int = 5): Column = {
    val toks = filter(split(text, " "), t => length(t) > lit(0))
    val count = greatest(size(toks) - lit(n - 1), lit(0))
    array_sort(array_distinct(transform(sequence(lit(0), count - lit(1)),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  /** Sorted deduped 64-bit shingle-hash set of the word n-grams of `text`
    * — the production shingle representation. One native kernel call per
    * document ([[graft.plans.VectorExpressions.ShingleHashSet]]): no
    * shingle strings are ever built, so the cached per-doc footprint is
    * 8 B/shingle instead of a full n-token string (~10x smaller — the
    * round-5 bench variance was traced to cached string-shingle frames).
    * Documents with fewer than n tokens hash to an empty array (dropped by
    * dedup, matching the string formulation). */
  def shingleHashes(text: Column, n: Int = 5): Column =
    graft.plans.VectorExpressions.shingleHashSet(
      filter(split(text, " "), t => length(t) > lit(0)), n)

  /** Exact duplicate groups: md5 over full text; keeps the smallest doc_id
    * as the canonical representative. */
  def exactDupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .groupBy(md5($"text").as("text_md5"))
      .agg(count(lit(1)).cast("long").as("n"),
        min($"doc_id").cast("long").as("keep_id"))
      .orderBy($"text_md5")
  }

  /** Fan a scan out to the session's core count ONLY when the scan
    * itself provides fewer partitions. A single small parquet file scans
    * as ONE partition, serializing per-row kernels (shingle/minhash/
    * gram projections) onto one core — measured 3.2 s single-threaded
    * set build at sf0.1. But an UNCONDITIONAL `repartition()` here is a
    * round-robin exchange of the ENTIRE text column no matter how the
    * scan is split (r16 audit: the old comment claimed it was a no-op
    * at scale; it is not) — at 100 TB that is the corpus through one
    * needless full shuffle. File splits already give the parallelism on
    * real corpora, so the exchange is paid exactly when it buys cores.
    * Reading `.rdd.getNumPartitions` plans the frame (file listing),
    * runs no job. */
  private[graft] def fanOutSmallScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Hashed shingle-set frame: (doc_id, hv sorted array<long>). Reused by
    * the exact and LSH paths. See [[fanOutSmallScan]] for why the fan-out
    * before the shingle projection is conditional. */
  private def shingleSets(s: SparkSession, dir: String, n: Int): DataFrame = {
    import s.implicits._
    fanOutSmallScan(documents(s, dir))
      .select($"doc_id".cast("long").as("doc_id"), shingleHashes($"text", n).as("hv"))
      .filter(size($"hv") > 0)
  }

  /** Exact all-pairs n-gram Jaccard >= threshold, candidates generated by
    * the shared-shingle join (a pair with J>0 shares >=1 shingle, so this
    * loses nothing). Returns (d1, d2, jac) with d1 < d2.
    *
    * `dfCap > 0` drops shingles with document frequency > dfCap from
    * CANDIDATE GENERATION only (verify still uses full sets, so jac values
    * are unchanged for every surviving pair): a shingle in k docs
    * contributes k^2 candidate rows, so one corpus-wide stop-phrase n-gram
    * is a quadratic hot bucket at scale. A qualifying pair at tau=0.8
    * shares >= 0.8/1.8 of its union — dozens of shingles for any real
    * document — so it is lost only if EVERY shared shingle is above the
    * cap; OperatorsSpec asserts capped == uncapped on the test corpora. */
  def ngramJaccardPairs(s: SparkSession, dir: String,
      n: Int = 5, threshold: Double = 0.8, dfCap: Int = 0): DataFrame = {
    import s.implicits._
    val sets = shingleSets(s, dir, n).cache()
    val nDocs = sets.count()
    val ex = sets.select($"doc_id", explode($"hv").as("sg"))
    // NEGATIVE RESULT (r19, kept as documentation): replacing this
    // count(*) window with a two-level groupBy + shuffle-hash LEFT ANTI
    // against the over-cap shingle set (the q61 r16 treatment — the
    // window buffers a hot shingle's every occurrence in one WindowExec
    // group) measured 1.59 -> 2.05 s warm at local[32]/sf0.1 even with
    // the hot set checkpointed once: the window's sg exchange is REUSED
    // by the candidate self-join below (same clustering), while the
    // anti shape adds agg+anti machinery per join side. The hot-key
    // buffering stays a theoretical 100-TB hazard here, bounded in
    // practice because the window's group payload is this operator's
    // own quadratic-bucket problem: any shingle hot enough to hurt the
    // window breaks the uncapped candidate join first, and the CAPPED
    // twin exists precisely to be re-shaped at that scale.
    val exr = if (dfCap > 0) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"sg")
      ex.withColumn("df", count(lit(1)).over(w)).filter($"df" <= dfCap).drop("df")
    } else ex
    val cand = exr.as("a").join(exr.as("b"),
        $"a.sg" === $"b.sg" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
    jaccardVerify(cand, sets, threshold, nDocs)
  }

  /** Below this doc count the hashed-set side broadcasts (a few tens of
    * MB); above it the verify joins stay shuffle-hash. */
  private val VerifyBroadcastMaxDocs = 250000L

  /** Broadcast-arm extension for larger corpora whose shingle-set frame
    * is nonetheless compact (short records — the fuzzy-match funnel's
    * bibliographic strings are ~15 shingles/doc): if the cached frame
    * MEASURES under this many bytes, verifying over a broadcast is worth
    * it at any doc count under the hard cap, because the candidate
    * stream — orders of magnitude heavier than the sets frame past the
    * LSH envelope — then never crosses an exchange at all. 800 MB
    * serialized is a deliberate ceiling: the hash relation builds ~3x
    * that on the executor, well inside one worker's memory at the target
    * shape. */
  private val VerifyBroadcastMaxBytes = 800L * 1024 * 1024
  private val VerifyBroadcastHardMaxDocs = 4000000L

  /** Optimizer-stats size of a frame. Only trustworthy when the frame is
    * a MATERIALIZED cache (stats then reflect actual in-memory bytes);
    * an unmaterialized cache or plain plan yields Catalyst's estimate,
    * which can be a severe UNDERestimate for array columns — the unsafe
    * direction for a broadcast decision. Callers must pair this with
    * [[statsAreMeasured]]. */
  private[operators] def measuredBytes(df: DataFrame): BigInt =
    try BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toString)
    catch { case _: Throwable => BigInt(Long.MaxValue) }

  /** True iff `df`'s optimized plan reads from cache AND the cached
    * column buffers are already built, so `stats.sizeInBytes` is a
    * measurement rather than an estimate. False (conservative: callers
    * fall back to the shuffle-hash arm) when the frame is uncached or
    * the cache has not been materialized by an action yet. */
  private[operators] def statsAreMeasured(df: DataFrame): Boolean = {
    val rels = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    rels.nonEmpty && rels.forall(_.cacheBuilder.isCachedColumnBuffersLoaded)
  }

  /** The exact broadcast-vs-shuffle-hash dispatch [[jaccardVerify]] uses,
    * exposed so funnel callers (q22) can count the verify broadcast
    * against their own concurrent broadcast budget — the two can coexist
    * in one physical plan. */
  private[operators] def verifyWillBroadcast(sets: DataFrame, nDocs: Long): Boolean =
    nDocs <= VerifyBroadcastMaxDocs ||
      (nDocs <= VerifyBroadcastHardMaxDocs &&
        // measured size of the sets frame — trusted ONLY once the cache
        // is materialized (statsAreMeasured); an estimate that is wrong
        // low would broadcast a multi-GB frame, so unmeasured frames
        // take the shuffle-hash arm (conservative direction)
        statsAreMeasured(sets) && measuredBytes(sets) <= VerifyBroadcastMaxBytes)

  /** Bytes to CHARGE against a caller's shared broadcast budget for the
    * verify-side broadcast [[jaccardVerify]] will make: the measured
    * cache size when the stats really are a measurement, otherwise the
    * broadcast ceiling itself. [[verifyWillBroadcast]]'s small-docs arm
    * fires without [[statsAreMeasured]], and charging Catalyst's
    * estimate there is the severe-underestimate direction
    * [[measuredBytes]]'s own doc warns against (ADVICE r15) — the
    * ceiling is the conservative worst case the broadcast can reach. */
  private[operators] def verifyBroadcastCharge(sets: DataFrame, nDocs: Long): BigInt =
    if (!verifyWillBroadcast(sets, nDocs)) BigInt(0)
    else if (statsAreMeasured(sets)) measuredBytes(sets)
    else BigInt(VerifyBroadcastMaxBytes)

  /** Exact Jaccard for candidate pairs via two joins against the hashed
    * shingle sets; used as the verify stage by both the exact and LSH
    * paths (and by TextQueries.q22's LSH-fronted bibliographic match).
    * The kernel is the native sorted-merge intersection count over the
    * pre-sorted hash arrays with |union| derived as n1 + n2 - i —
    * measured ~2.5x faster than array_intersect + array_union on q22's
    * 4M-candidate verify, which is the stage that dominates the
    * LSH-fronted match. The join sides shuffle 8 B/shingle (the hash
    * arrays) — no shingle strings exist anywhere in the pipeline.
    *
    * `nDocs` is the caller's one cached count of `sets` (every caller
    * caches + counts once to materialize); taking it as a parameter keeps
    * this from launching an extra job per invocation.
    *
    * @param sorted emit pairs ordered by (d1, d2) — callers that register
    *   the pair set directly need the deterministic order; funnel callers
    *   (q22) that keep joining/re-sorting downstream pass false and skip
    *   a full mid-pipeline sort exchange of the pair stream. */
  private[operators] def jaccardVerify(cand: DataFrame, sets: DataFrame,
      threshold: Double, nDocs: Long, sorted: Boolean = true): DataFrame = {
    import cand.sparkSession.implicits._
    // join-strategy dispatch on the caller-supplied count: small set side
    // -> broadcast, so the multi-million-row candidate side is never
    // shuffled at all; large -> shuffle-hash, not sort-merge, because
    // sorting the candidate side twice would dominate and the set side
    // hash-builds per partition. At corpus scale the shingle-set frame is
    // O(docs), so the broadcast arm is only taken by genuinely small
    // inputs.
    val bcast = verifyWillBroadcast(sets, nDocs)
    def side(df: DataFrame, k: String, renames: (String, String)*) = {
      val s = renames.foldLeft(df.withColumnRenamed("doc_id", k)) {
        case (d, (from, to)) => d.withColumnRenamed(from, to)
      }
      if (bcast) broadcast(s) else s.hint("shuffle_hash")
    }
    // STAGED FETCH: sizes first, arrays second. The exact size-ratio
    // prune (J >= t forces min(n1,n2) >= t*max(n1,n2), since i <= min
    // and union >= max) runs over (doc_id, int) frames BEFORE any hash
    // array is fetched, so hopeless pairs never carry the 8 B/shingle
    // arrays through a shuffle — fetching arrays first meant every
    // candidate dragged hv1 through the d2-key shuffle, the engine's
    // only measured spill (5.7 GB) at 10x corpus.
    val sizes = sets.select($"doc_id", size($"hv").as("n"))
    val pruned = cand
      .join(side(sizes, "d1", "n" -> "n1"), "d1")
      .join(side(sizes, "d2", "n" -> "n2"), "d2")
      .filter(least($"n1", $"n2") >= lit(threshold) * greatest($"n1", $"n2"))
    val arrays = sets.select($"doc_id", $"hv")
    val verified = pruned
      .join(side(arrays, "d1", "hv" -> "hv1"), "d1")
      .join(side(arrays, "d2", "hv" -> "hv2"), "d2")
      .withColumn("i",
        graft.plans.VectorExpressions.sortedLongIntersectSize($"hv1", $"hv2").cast("double"))
      .withColumn("jac", $"i" / ($"n1" + $"n2" - $"i"))
      .filter($"jac" >= threshold)
      .select($"d1", $"d2", round($"jac", 6).as("jac"))
    // answer-mass checkpoint before the output sort — the range sampler
    // otherwise re-runs the verify joins over the full candidate stream
    // (operators.Answer)
    if (sorted) Answer.sorted(verified, $"d1", $"d2") else verified
  }

  // MinHash parameters: H = bands * rows affine permutations over a 32-bit
  // prime field; base hash = xxhash64 folded into the field. Overflow
  // invariant (the margin is ~0.001%, so it is ENFORCED, not assumed):
  // a <= 2^31-1 and h <= p-1 < 2^32 give a*h + b <= (2^31-1)(2^32-1) +
  // (2^31-1) = (2^31-1)*2^32 ~ 9.22337199e18 < Long.MaxValue
  // ~ 9.22337204e18. Note a < 2^32 would NOT suffice.
  private val MinhashPrime = 4294967291L // largest prime < 2^32

  private def affineParams(h: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    val params = Seq.fill(h)((math.abs(rnd.nextInt(Int.MaxValue - 1)).toLong + 1L,
      math.abs(rnd.nextInt(Int.MaxValue)).toLong))
    // guard the kernel's overflow domain at table-construction time (once
    // per plan, not per row): a future generator edit that widens `a`
    // past 2^31-1 would silently overflow a*h+b negative and corrupt
    // every signature — see the invariant above and MinHashKernel's.
    params.foreach { case (a, b) =>
      require(a >= 1L && a <= Int.MaxValue.toLong,
        s"minhash 'a' out of overflow-safe domain [1, 2^31-1]: $a")
      require(b >= 0L && b <= Int.MaxValue.toLong,
        s"minhash 'b' out of overflow-safe domain [0, 2^31-1]: $b")
    }
    params
  }

  /** MinHash signature from a PRE-HASHED shingle column (array<long> of
    * base hashes): array<long> of length bands*rows, computed in a single
    * pass by the native MinHashSig expression (one iteration of the hash
    * array for all permutations, vs bands*rows separate aggregates). */
  def minhashSignature(baseHashes: Column, bands: Int, rows: Int): Column = {
    val params = affineParams(bands * rows)
    graft.plans.VectorExpressions.minhashSig(baseHashes,
      params.map(_._1).toArray, params.map(_._2).toArray, MinhashPrime)
  }

  /** Base shingle hashes folded into the 32-bit prime field, from the
    * hashed shingle array (per-element pmod — no string hashing). */
  def shingleBaseHashes(hv: Column): Column =
    transform(hv, x => pmod(x, lit(MinhashPrime)))

  /** MinHash+LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * With bands=32, rows=4 the detection probability at J=0.8 is
    * 1-(1-0.8^4)^32 ~ 1-5e-8, so after the verify stage the output equals
    * the exact [[ngramJaccardPairs]] result (the DuckDB oracle checks
    * exactly that equivalence). Candidate generation shuffles (doc, band)
    * pairs — O(docs*bands) rows — instead of the full shingle explosion. */
  def minhashLshPairs(s: SparkSession, dir: String, n: Int = 5,
      bands: Int = 32, rows: Int = 4, threshold: Double = 0.8): DataFrame = {
    import s.implicits._
    // verify INSIDE the band-group slices (answer-mass spill past the
    // disk envelope); the deterministic order the registered pair set
    // needs is restored after the cross-slice dedup
    Answer.sorted(minhashLshPairsUnsorted(s, dir, n, bands, rows, threshold),
      $"d1", $"d2")
  }

  /** [[minhashLshPairs]] without the trailing answer checkpoint + total
    * sort — the cluster consumers (q42/q52) feed connected components,
    * which neither needs order nor benefits from a second checkpoint
    * (they materialize the pair set themselves). r19: the cluster paths
    * previously paid the registered query's checkpoint + full pair sort
    * and then re-materialized. */
  private def minhashLshPairsUnsorted(s: SparkSession, dir: String, n: Int,
      bands: Int, rows: Int, threshold: Double): DataFrame = {
    import s.implicits._
    val sets = shingleSets(s, dir, n).cache()
    val nDocs = sets.count()
    lshCandidatePairsRefined(sets, bands, rows,
      c => jaccardVerify(c, sets, threshold, nDocs, sorted = false),
      nDocsKnown = nDocs)
  }

  /** q42 — near-dup CLUSTERS: the dedup decision a training-data pipeline
    * actually ships. Pairs alone don't dedup a corpus — transitive groups
    * do (A~B, B~C means keep one of {A,B,C} even if A!~C). Production
    * path: MinHash-LSH pairs -> distributed min-label connected components
    * ([[graft.curation.ConnectedComponents.byShardKey]], the same operator
    * that powers entity resolution) -> canonical keep-doc = min doc_id =
    * the component label. Output one row per clustered doc with its
    * cluster id and size; "drop all docs where doc_id != cluster" is then
    * a filter. Scale shape: LSH candidate shuffle O(docs*bands) + a few
    * label-propagation rounds, each two narrow shuffles of (doc, pair)
    * edges — no quadratic stage anywhere. */
  def nearDupClusters(s: SparkSession, dir: String, n: Int = 5,
      bands: Int = 32, rows: Int = 4, threshold: Double = 0.8): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"cluster")
    Answer.sorted(
      nearDupClusterIds(s, dir, n, bands, rows, threshold)
        .withColumn("cluster_size", count(lit(1)).over(w)),
      $"doc_id")
  }

  /** The (doc_id, cluster) CC labels q42's window/sort and q52's corpus
    * join both ride on. Factored out (r19): q52 consumed the FULL
    * [[nearDupClusters]] — whose eager answer checkpoint materializes
    * the cluster_size window and the total sort — then dropped
    * cluster_size and re-sorted after its join; column pruning cannot
    * reach through the checkpoint's RDD scan, so that window + sort were
    * executed for nothing. */
  private def nearDupClusterIds(s: SparkSession, dir: String, n: Int,
      bands: Int, rows: Int, threshold: Double): DataFrame = {
    import s.implicits._
    val pairs = minhashLshPairsUnsorted(s, dir, n, bands, rows, threshold)
      .select($"d1", $"d2").localCheckpoint()
    val membership = pairs.select($"d1".as("entity"), struct($"d1", $"d2").as("key"))
      .union(pairs.select($"d2".as("entity"), struct($"d1", $"d2").as("key")))
    val cc = graft.curation.ConnectedComponents.byShardKey(membership)
    cc.select($"entity".as("doc_id"), $"component".as("cluster"))
  }

  /** q45 oracle — connected components over the exact cosine pair set
    * (same independent recursive-reachability shape as q42's). */
  val q45Sql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
      |), edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS label FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT e.b AS node, r.label FROM reach r JOIN edges e ON r.node = e.a
      |), cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node)
      |SELECT CAST(node AS BIGINT) AS vec_id, CAST(cluster AS BIGINT) AS cluster,
      |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
      |FROM cc ORDER BY vec_id""".stripMargin

  /** q45 — embedding near-dup CLUSTERS: [[nearDupClusters]] for the
    * embedding modality.
    *
    * The REGISTERED query deliberately benchmarks the ORACLE-ANCHOR shape
    * (exact all-pairs [[embeddingCosinePairs]] feeding CC): unlike
    * q32/q42, where minhash-LSH at J>=0.8 has ~1-5e-8 miss probability
    * and therefore hash-matches the exact oracle, sign-LSH recall at
    * cos>=0.45 is ~0.8 BY CONSTRUCTION ((1-(1-(1-theta/pi)^nBits)^nTables
    * with theta~63 deg) — an LSH-fronted q45 could never pass the exact
    * cluster oracle, and pushing the miss rate below the oracle's noise
    * floor would take ~70 hash tables. The production swap-in is
    * [[embeddingClustersLsh]] (registered rows-only as
    * q45_lsh_embedding_clusters; recall-spec'd in OperatorsSpec); same
    * scale shape as q42: pair generation + a few narrow
    * label-propagation shuffles. */
  def embeddingClusters(s: SparkSession, dir: String,
      threshold: Double = 0.45): DataFrame =
    // unsorted pair core (r19): CC needs no order, and the registered
    // pair query's answer checkpoint + total sort were executed for
    // nothing behind the cluster path's own materialization
    clustersFromEmbeddingPairs(embeddingCosinePairsUnsorted(s, dir, threshold))

  /** The production twin of [[embeddingClusters]]: identical CC collapse
    * fed by [[embeddingCosinePairsLsh]] instead of the O(n²) all-pairs
    * anchor. Registered rows-only (q43 precedent): sign-LSH recall at
    * cos>=0.45 is ~0.8 by construction, so it can never hash-match the
    * exact oracle — the recall floor vs the exact pairs is asserted in
    * OperatorsSpec instead. */
  def embeddingClustersLsh(s: SparkSession, dir: String,
      threshold: Double = 0.45): DataFrame =
    clustersFromEmbeddingPairs(
      embeddingCosinePairsLshFrom(normalizedEmbeddings(s, dir), threshold, 64, 4, 8))

  /** [[embeddingClustersLsh]] fed by the corpus-sized LSH operating point
    * ([[embeddingCosinePairsLshAuto]]) — identical at gate corpus sizes,
    * holds bucket occupancy constant as the corpus grows. */
  def embeddingClustersLshAuto(s: SparkSession, dir: String,
      threshold: Double = 0.45): DataFrame =
    clustersFromEmbeddingPairs(
      embeddingCosinePairsLshAutoUnsorted(s, dir, threshold, 64))

  private def clustersFromEmbeddingPairs(pairsIn: DataFrame): DataFrame = {
    val s = pairsIn.sparkSession
    import s.implicits._
    val pairs = pairsIn.select($"v1", $"v2").localCheckpoint()
    val membership = pairs.select($"v1".as("entity"), struct($"v1", $"v2").as("key"))
      .union(pairs.select($"v2".as("entity"), struct($"v1", $"v2").as("key")))
    val cc = graft.curation.ConnectedComponents.byShardKey(membership)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"cluster")
    Answer.sorted(
      cc.select($"entity".as("vec_id"), $"component".as("cluster"))
        .withColumn("cluster_size", count(lit(1)).over(w)),
      $"vec_id")
  }

  /** q48 — benchmark decontamination: flag training documents that share
    * any word n-gram with a held-out evaluation set (the standard
    * pre-training hygiene pass — eval text leaking into training data
    * inflates benchmark scores). The eval set here is the deterministic
    * slice doc_id % benchMod == 0; in production it is a separate, small,
    * fixed-size table. Scale shape: the eval gram set is O(|benchmark|)
    * and BROADCAST, so the 100 TB training corpus is never shuffled at
    * all — one scan, a map-side hash probe per shingle, and a partial
    * count-aggregate per doc. Gram identity uses the same 64-bit hashed
    * shingles as q31/q32 (ShingleKernelSpec proves hash-set == string-set
    * cardinalities on these corpora). Output: one row per contaminated
    * training doc with its shared-gram count. */
  def decontaminationHits(s: SparkSession, dir: String, n: Int = 5,
      benchMod: Long = 7): DataFrame = {
    import s.implicits._
    // cached: the frame feeds both the broadcast bench side and the train
    // side — uncached, the corpus tokenize + shingle-hash scan runs twice
    val sets = shingleSets(s, dir, n).cache()
    val bench = sets.filter($"doc_id" % benchMod === 0)
      .select(explode($"hv").as("sg")).distinct()
    // hv is distinct per doc, so count(*) counts distinct shared grams
    sets.filter($"doc_id" % benchMod =!= 0)
      .select($"doc_id", explode($"hv").as("sg"))
      .join(broadcast(bench), "sg")
      .groupBy($"doc_id").agg(count(lit(1)).cast("long").as("n_hits"))
      .orderBy($"doc_id")
  }

  /** q48 oracle — the same overlap computed on STRING 5-grams in DuckDB
    * (independent of the hashed-shingle kernel). */
  val q48Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]) AS s
      |  FROM toks WHERE len(t) >= 5
      |), bench AS (
      |  SELECT DISTINCT unnest(s) AS sg FROM sh WHERE doc_id % 7 = 0
      |), train AS (
      |  SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 7 <> 0
      |)
      |SELECT CAST(t.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_hits
      |FROM train t JOIN bench b ON t.sg = b.sg
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** q50 — INCREMENTAL dedup: near-dups of a new ingest batch against the
    * already-ingested corpus, the shape a 100 TB pipeline actually runs
    * day-to-day (full-corpus self-dedup happens once; every later ingest
    * only needs new-vs-corpus + new-vs-new). The batch here is the
    * deterministic slice doc_id % newMod == 0. Candidates come from the
    * banded MinHash table restricted to new x old plus the tiny new x new
    * self-join (same-batch near-dups must be caught too) — the corpus
    * side shuffles O(old_docs * bands) band rows once, the batch side is
    * tiny, and no old x old candidate is ever generated (that quadratic
    * bulk is exactly what incremental ingestion avoids). Verification is
    * the same exact-Jaccard kernel as q31/q32, so output pairs are
    * exact. */
  def incrementalDedupPairs(s: SparkSession, dir: String, n: Int = 5,
      bands: Int = 32, rows: Int = 4, threshold: Double = 0.8,
      newMod: Long = 10): DataFrame = {
    import s.implicits._
    val sets = shingleSets(s, dir, n).cache()
    val nDocs = sets.count()
    val banded = bandedSignatures(sets, bands, rows)
    val newB = banded.filter($"doc_id" % newMod === 0)
    val oldB = banded.filter($"doc_id" % newMod =!= 0)
    // joins on the band-salted bucket hash alone (bandedSignatures r19:
    // the band index is folded into bh; candidates are exact-verified)
    val cross = oldB.as("o").hint("shuffle_hash").join(newB.as("nw"),
        $"o.bh" === $"nw.bh")
      .select($"nw.doc_id".as("d1"), $"o.doc_id".as("d2"))
    // intra-batch pairs: two near-dups arriving in the same ingest batch
    // must still be caught — the batch is tiny, so this adds a small
    // self-join, never the old x old bulk
    val intra = newB.as("a").hint("shuffle_hash").join(newB.as("b"),
        $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
    val cand = cross.union(intra).distinct()
    jaccardVerify(cand, sets, threshold, nDocs)
      .withColumnRenamed("d1", "new_id").withColumnRenamed("d2", "other_id")
  }

  /** q50 oracle — exact new x (old + same-batch) Jaccard pairs (candidate
    * join on shared string shingles, like q31's oracle, restricted to the
    * batch split; intra-batch pairs ordered new_id < other_id). */
  val q50Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t)-3)]) AS s
      |  FROM toks WHERE len(t) >= 5
      |), exn AS (
      |  SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 10 = 0
      |), exo AS (
      |  SELECT doc_id, unnest(s) AS sg FROM sh WHERE doc_id % 10 <> 0
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS other_id
      |  FROM exn a JOIN exo b ON a.sg = b.sg
      |  UNION
      |  SELECT DISTINCT a.doc_id, b.doc_id
      |  FROM exn a JOIN exn b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |), j AS (
      |  SELECT new_id, other_id,
      |    len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(x.s || y.s)) AS jac
      |  FROM cand JOIN sh x ON x.doc_id = new_id JOIN sh y ON y.doc_id = other_id
      |)
      |SELECT CAST(new_id AS BIGINT) AS new_id, CAST(other_id AS BIGINT) AS other_id,
      |  round(jac, 6) AS jac
      |FROM j WHERE jac >= 0.8 ORDER BY new_id, other_id""".stripMargin

  /** Array of `bands` 64-bit band keys from a minhash signature: band b's
    * key hashes signature rows [b*rows, (b+1)*rows) salted with b. */
  private[graft] def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * lit(rows) + lit(1), lit(rows)), b))

  /** The banded (doc_id, bh) frame of the Banded-MinHash candidate
    * funnel: signature of bands*rows permutations (base hashes are a
    * per-element pmod over the already-hashed shingle array, cheap enough
    * to inline into the signature projection), one bucket hash per band
    * (xxhash64 of the band's row slice, salted by the band index), then
    * a SHUFFLE-HASH self-equi-join on bh. Two measured plan choices
    * (sf0.1, local[32], from a materialized band table): shuffle-hash
    * 4.3 s vs sort-merge 15.9 s (sorting 2x docs*bands rows dominates)
    * vs groupBy + in-bucket pair expansion 10.2 s (the higher-order-
    * function lambdas are interpreted, not codegen'd) — so the band
    * table is checkpointed once (it is O(docs * bands) narrow rows, and
    * feeding both join sides from it stops the signature subtree from
    * being computed twice) and joined with the shuffle_hash hint.
    * Detection probability for a pair with Jaccard J is
    * 1-(1-J^rows)^bands; shuffle volume is O(docs * bands) rows
    * regardless of corpus size. Shared by the document-dedup path (q32)
    * and the LSH-fronted bibliographic match (q22).
    *
    * CONTRACT — consumers MUST exact-verify: the band index is folded
    * into bh, not kept as a column, so a join on bh alone also pairs two
    * docs whose bucket hashes collide ACROSS bands (p = 2^-64 per row
    * pair). A bh match is therefore a candidate, never an answer: every
    * consumer must exact-verify (Jaccard, score filter) and distinct the
    * pairs it takes from this frame. OperatorsSpec "band-group-sliced
    * candidate generation equals the single-piece frame" pins the
    * bh-only pair set against the (band, bh)-keyed sliced shape. */
  private def bandedSignatures(sets: DataFrame, bands: Int, rows: Int): DataFrame = {
    import sets.sparkSession.implicits._
    // STILL checkpointed after the r18 probe (re-confirmed r19, ~2.7x):
    // dropping it in favor of exchange reuse was tried and reverted — the
    // band self-join's two repartition exchanges do NOT collapse into one
    // (plan_ids stay distinct even canonicalized under AQE), so without
    // the checkpoint the bands*rows-hash-per-doc signature subtree
    // computes once per side (Q22StageProbe r19: join+dedup 1.4 s
    // checkpointed vs 4.4 s recomputed at local[32]). The r18 win here is
    // upstream: the envelope branch no longer runs a count() job against
    // this frame (rows = nDocs * bands by construction).
    //
    // r19: rows are (doc_id, bh) ONLY — the band index is folded into bh
    // (bandKeys seeds xxhash64 with the band index, so bh is band-salted
    // by construction). Joining on bh alone admits a cross-band collision
    // with p = 2^-64 per row pair (~1e-6 expected birthday mass even at a
    // 5 M-row frame), and every consumer exact-verifies and distincts its
    // candidate pairs, so the pair set is unchanged while the checkpoint
    // and the band exchange drop the 8 B/row band column and the join key
    // narrows to one 64-bit word (Q22StageProbe: band join + dedup
    // 1.61 -> 1.37 s). The SLICED branch keeps explicit band indices —
    // its first-collision suppression predicate needs them
    // (bandedSignaturesSlice).
    sets.select($"doc_id",
        minhashSignature(shingleBaseHashes($"hv"), bands, rows).as("sig"))
      .select($"doc_id", explode(bandKeys($"sig", bands, rows)).as("bh"))
      .localCheckpoint()
  }

  /** Banded (doc_id, band, bh, bhp) rows for bands [lo, hi) ONLY of the
    * full (bands, rows) operating point: the affine-permutation table is
    * sliced, so the minhash kernel computes exactly this slice's hashes
    * (total CPU across all slices == one full-signature pass; the only
    * repeated work is re-iterating each doc's base-hash array once per
    * slice). Band keys/seeds use ABSOLUTE band indices, so the union over
    * slices has the same bucket hashes as [[bandedSignatures]] of the
    * full point.
    *
    * Each row ALSO carries the doc's PREVIOUS band's bucket hash (`bhp`):
    * the signature is computed from band lo-1 on (one extra band of
    * rows), so `bhp` is exact across slice boundaries. Band 0 has no
    * predecessor — its `bhp` is a constant the join's `band === 0` arm
    * ignores. The extra column is 8 B/row on the band exchange; it buys
    * the chained first-collision suppression in
    * [[sliceCandidatePairsOnce]]'s join. */
  private def bandedSignaturesSlice(sets: DataFrame, bands: Int, rows: Int,
      lo: Int, hi: Int): DataFrame = {
    import sets.sparkSession.implicits._
    val loP = math.max(0, lo - 1) // include the predecessor band's rows
    val params = affineParams(bands * rows).slice(loP * rows, hi * rows)
    val sig = graft.plans.VectorExpressions.minhashSig(
      shingleBaseHashes($"hv"), params.map(_._1).toArray,
      params.map(_._2).toArray, MinhashPrime)
    val off = lo - loP // 0 for the first slice, 1 otherwise
    sets.select($"doc_id", sig.as("sig"))
      .select($"doc_id", posexplode(transform(sequence(lit(0), lit(hi - lo - 1)),
        b => struct(
          xxhash64(slice($"sig", (b + lit(off)) * rows + 1, lit(rows)), b + lit(lo))
            .as("bh"),
          when(b + lit(lo) === 0, lit(0L)).otherwise(
            xxhash64(slice($"sig", (b + lit(off) - 1) * rows + 1, lit(rows)),
              b + lit(lo) - 1)).as("bhp"))))
        .as(Seq("band_local", "h")))
      .select($"doc_id", ($"band_local" + lit(lo)).as("band"),
        $"h.bh".as("bh"), $"h.bhp".as("bhp"))
  }

  /** Corpus-sized MinHash-LSH (bands, rows) operating point for a
    * J >= `threshold` funnel — the q34_lsh_auto treatment applied to
    * set-similarity banding. Holding (bands, rows) FIXED while the corpus
    * grows lets background candidate mass grow ~n^2 * bands * Jbg^rows
    * (measured: q22's fixed 128x3 point spilled 5.7 GB at 10x corpus).
    * Scaling is rows: each extra row cuts a background J=0.1 pair's
    * per-band collision 10x, so rows = baseRows + ceil(log10(n/n0))
    * keeps expected background candidates per doc ~flat; bands then
    * re-solves the per-QUALIFYING-pair miss budget
    * (1 - threshold^rows)^bands <= missBudget, so the funnel stays
    * oracle-exact at every operating point (the 4e-8 budget that lets
    * q22/q32 hash-match their exact DuckDB oracles). At the gate corpora
    * (n <= n0) this resolves to the fixed anchor point — identity
    * asserted in OperatorsSpec. */
  def lshAutoParams(n: Long, threshold: Double = 0.5, n0: Long = 2000,
      baseRows: Int = 3, missBudget: Double = 4e-8): (Int, Int) = {
    val extra = if (n <= n0) 0
      else math.ceil(math.log10(n.toDouble / n0)).toInt
    val rows = baseRows + extra
    val pBand = math.pow(threshold, rows)
    val bands = math.ceil(math.log(missBudget) / math.log1p(-pBand)).toInt
    (bands, rows)
  }

  /** Target rows per shuffle partition in the band self-join. A
    * shuffle-hash join CANNOT spill its build side — the per-partition
    * hash map must fit in executor memory — so the partition count is
    * sized from the banded-frame row count instead of inheriting
    * spark.sql.shuffle.partitions (at 537 bands x 200k docs = 107M
    * banded rows over 16 partitions, the 6.7M-row build maps OOM'd). */
  private val BandJoinRowsPerPartition = 1500000L

  /** Dedup a band-join pair stream ENTIRELY after its exchange. A plain
    * `.distinct()` here plans a partial HashAggregate inside the join
    * stage — but a pair's duplicate emissions come from DIFFERENT
    * (band, bucket) groups, i.e. different partitions of the join, so
    * that pre-exchange hash map collapses ~nothing while holding every
    * pair of its partition in memory ALONGSIDE the shuffle-hash join's
    * build map (measured: the q22_auto candidate dedup was the funnel's
    * last spill, 61 MB at the 10x corpus). The explicit repartition by
    * the pair keys satisfies the aggregate's distribution, so both agg
    * passes run post-exchange over co-located pairs — the map now holds
    * the partition's DISTINCT pairs only, the join stage carries no agg
    * state, and shuffle bytes are unchanged (the partial collapsed ~0). */
  private def dedupPairs(pairs: DataFrame, parts: Int,
      k1: String, k2: String): DataFrame =
    pairs.repartition(parts, col(k1), col(k2)).distinct()

  /** Upper cap on the banded-frame envelope per band-join pass (rows):
    * past this the frame is generated and joined in bounded BAND-GROUP
    * slices instead of one piece. 256 M rows x ~24 B ≈ 6 GB of exchange
    * per slice. At the q22_auto 100x point (n = 2 M records, ~1082 bands
    * -> 2.2 B banded rows, the ~35 GB single-piece frame that exceeded
    * the node, SCALE.json r11 _note) this yields ~9 slices of ~128 bands
    * each. The production entry point tightens this cap to what the
    * node's free disk actually affords ([[maxBandedRowsForDisk]]). */
  private[graft] val MaxBandedRowsPerPass = 256000000L

  /** Banded-frame envelope derived from the node's measured free disk,
    * not a constant: the smallest usable space across the configured
    * shuffle dirs, budgeting a slice's exchange at 1/8 of it. The
    * divisor prices a banded row at 32 B of shuffle (2x the ~16 B/row
    * measured in the lz4 exchange) so one slice's exchange + its pair
    * spill + OS headroom fit even while the previous slice's files are
    * still being reclaimed. Floor of 16 M rows keeps slices from
    * degenerating on a nearly-full disk (below that the operator cannot
    * run anywhere). On a cluster each executor sees its own disk; the
    * driver-side bound here is the single-node worst case. */
  private[graft] def maxBandedRowsForDisk(spark: org.apache.spark.sql.SparkSession): Long = {
    val dirs = spark.sparkContext.getConf.get("spark.local.dir",
      System.getProperty("java.io.tmpdir", "/tmp"))
    val usable = dirs.split(",").iterator
      .map(d => new java.io.File(d.trim).getUsableSpace)
      .foldLeft(Long.MaxValue)(math.min)
    math.max(16000000L, math.min(MaxBandedRowsPerPass, usable / (8L * 32L)))
  }

  /** [[lshCandidatePairsSliced]] at the envelope the node's free disk
    * affords ([[maxBandedRowsForDisk]]), with the caller's verify stage
    * pushed inside each band-group slice (see `refine` there).
    * Production funnels (q22, q32) pass their exact-Jaccard verify here
    * so the per-slice spill — and the cross-slice dedup exchange — is
    * answer-mass-sized. Below the envelope this composes identically to
    * verify-after-candidates (refine(dedupPairs(join))), so gate-SF
    * oracles see the exact same plan shape. */
  private[operators] def lshCandidatePairsRefined(sets: DataFrame, bands: Int,
      rows: Int, refine: DataFrame => DataFrame,
      nDocsKnown: Long = -1L): DataFrame =
    lshCandidatePairsSliced(sets, bands, rows,
      maxBandedRowsForDisk(sets.sparkSession), refine, nDocsKnown)

  /** ONE band-group slice's candidate pairs, computed independently of
    * every other slice: banded signatures for bands [lo, hi) (with the
    * run-start suppression predicate evaluated against the GLOBAL band
    * index, so a collision run that started before `lo` emits nothing
    * here — its start slice owns the emission), the caller's refine per
    * occurrence, then a post-exchange distinct. Slices are therefore
    * independent jobs whose union-distinct equals the sequential sliced
    * result — asserted in OperatorsSpec ("band slices are independent"). */
  private[graft] def sliceCandidatePairsOnce(sets: DataFrame, bands: Int,
      rows: Int, lo: Int, hi: Int, parts: Int,
      refine: DataFrame => DataFrame = identity): DataFrame = {
    import sets.sparkSession.implicits._
    val keyed = bandedSignaturesSlice(sets, bands, rows, lo, hi)
      .repartition(parts, $"band", $"bh")
    val occurrences = keyed.as("a").hint("shuffle_hash").join(keyed.as("b"),
        $"a.band" === $"b.band" && $"a.bh" === $"b.bh" &&
          $"a.doc_id" < $"b.doc_id" &&
          ($"a.band" === 0 || $"a.bhp" =!= $"b.bhp"))
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
    dedupPairs(refine(occurrences), parts, "d1", "d2")
  }

  /** LSH candidate pairs with the banded frame bounded per pass. The
    * band-group decomposition is loss-free AND exact: a pair's candidacy
    * is a union over per-band collisions, so generating bands [lo, hi)
    * per slice, deduping within the slice, and deduping the slice union
    * yields the IDENTICAL pair set (the per-band miss-budget law — and
    * hence every oracle — is untouched).
    *
    * Peak disk is bounded for REAL, not heuristically (the r12 lesson:
    * a GC beat + sleep left slice shuffle files to accumulate — 60.9 GB
    * written, ENOSPC at the 100x rung where one slice is ~6 GB):
    *
    *   - each slice's deduped pairs are spilled to compact parquet
    *     (columnar + compressed, answer-mass-sized), NOT localCheckpoint
    *     blocks — so the slice's result holds no executor memory and its
    *     whole lineage (including the exchange) is dead on completion;
    *   - the slice's shuffle files are then reclaimed SYNCHRONOUSLY:
    *     shuffle ids are snapshotted around the slice and the new ids
    *     released through the ContextCleaner's blocking path
    *     ([[org.apache.spark.GraftSparkInternals.cleanupShufflesBlocking]])
    *     before the next slice writes a byte;
    *   - the envelope itself is sized from measured free disk
    *     ([[maxBandedRowsForDisk]]), not a constant.
    *
    * Peak disk is therefore ONE slice's (answer-shaped) exchanges + the
    * answer parquet, held exactly once by the incremental anti-join. The
    * spill directory is a temp dir, deleted as soon as the final read
    * materializes (eager localCheckpoint of the answer-mass pair set).
    * On a cluster the band slices remain sequential rounds of
    * independent shuffles; the synchronous reclamation is
    * driver-coordinated and works the same there (the cleaner broadcasts
    * removals to every block manager). Caveat: ids created by CONCURRENT
    * jobs inside the snapshot window would be reclaimed too — their
    * stages would recompute (correctness unaffected); this operator
    * assumes the serial batch context it runs in.
    *
    * `refine` (default identity) runs INSIDE each slice, on the raw
    * (suppressed) occurrence stream BEFORE any pair exchange — the r11
    * staged-verify discipline applied to the text funnel: when the
    * caller's verify stage (exact Jaccard, score filter) is pushed here,
    * both the dedup exchange and the spilled parquet are ANSWER-mass,
    * not candidate-mass. Without it the spill is the full candidate
    * set, which at the q22_auto 100x point exceeds a single node's disk
    * even though every banded exchange is bounded. Exactness is
    * preserved for any PER-ROW deterministic refine (filter + annotate):
    * refine commutes with the band-union decomposition, the per-slice
    * distinct collapses an occurrence's identical refined rows, and the
    * cross-slice anti-join keeps the first slice's copy. The refine must
    * be BLIND to occurrence multiplicity — a pair colliding in several
    * bands of a slice reaches refine once per unsuppressed collision
    * run, and its refined rows must be identical every time. */
  private[graft] def lshCandidatePairsSliced(sets: DataFrame, bands: Int,
      rows: Int, maxBandedRows: Long,
      refine: DataFrame => DataFrame = identity,
      nDocsKnown: Long = -1L): DataFrame = {
    import sets.sparkSession.implicits._
    // callers that already counted their cached sets pass it in —
    // re-counting here would be one extra cached-scan job per operator
    val nDocs = if (nDocsKnown >= 0L) nDocsKnown else sets.count()
    if (nDocs * bands <= maxBandedRows) {
      val banded = bandedSignatures(sets, bands, rows)
      // banded rows = nDocs * bands EXACTLY (posexplode emits `bands` rows
      // per doc) — no count job needed. The banded frame itself stays
      // localCheckpointed inside bandedSignatures: dropping it for
      // exchange reuse was tried in r18 and REVERTED (the self-join's two
      // repartition exchanges keep distinct plan_ids under AQE and never
      // collapse, so the signature subtree would compute once per side).
      // (A refine-first full-range slice — sliceCandidatePairsOnce(0,
      // bands) — was measured 1.6x SLOWER here: sub-envelope the dedup
      // exchange is memory-cheap while verify-per-occurrence nearly
      // doubles the verify compute; refine-first only wins past the
      // envelope where the exchange is the disk bomb.)
      val nBanded = nDocs * bands
      val parts = math.max(banded.sparkSession.sparkContext.defaultParallelism,
        math.min(4096, (nBanded / BandJoinRowsPerPartition).toInt + 1))
      // join on the band-salted bucket hash alone — see bandedSignatures
      // for why the explicit band key is redundant here
      val keyed = banded.repartition(parts, $"bh")
      refine(dedupPairs(
        keyed.as("a").hint("shuffle_hash").join(keyed.as("b"),
            $"a.bh" === $"b.bh" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2")),
        parts, "d1", "d2"))
    } else {
      val spark = sets.sparkSession
      val sc = spark.sparkContext
      val spillDir = java.nio.file.Files
        .createTempDirectory("graft-lsh-slices-").toAbsolutePath
      val bandsPerSlice = math.max(1, (maxBandedRows / math.max(1L, nDocs)).toInt)
      val sliceRows = nDocs * bandsPerSlice
      val parts = math.max(sc.defaultParallelism,
        math.min(4096, (sliceRows / BandJoinRowsPerPartition).toInt + 1))
      // ids "seen" stay seen after their cleanup — Spark never reuses a
      // shuffle id, so the running snapshot is monotone
      var seen = org.apache.spark.GraftSparkInternals.registeredShuffleIds(sc)
      try {
        // Past the envelope the candidate stream's MULTIPLICITY is the
        // disk bomb, not the banded frame (r13 measurement, x100 fuzzy
        // match: ~60x answer-mass of raw (d1, d2) emissions per full
        // frame — a ~49 GB exchange per 128-band slice where the banded
        // exchange itself is 6 GB). Three exact cuts keep a slice's
        // footprint answer-shaped:
        //   1. chained first-collision suppression INSIDE the band join:
        //      a pair colliding at band b is emitted only when b == 0 or
        //      the two docs did NOT collide at b-1 (`bhp`, exact across
        //      slice edges) — one emission per collision RUN, so the
        //      all-band colliders (exact duplicates, the worst mass)
        //      emit once per corpus instead of once per band. Loss-free:
        //      every colliding pair has a first band in each run.
        //      (Same 2^-64 hash-proxy model as bucket equality itself.)
        //   2. refine runs per OCCURRENCE, before any pair exchange —
        //      with the broadcast-verify arm the sub-threshold bulk dies
        //      as compute inside the join stage and is never exchanged;
        //      only refined survivors reach the dedup repartition.
        //   3. cross-slice dedup is INCREMENTAL: each slice anti-joins
        //      the accumulated answer parquet and appends only new
        //      pairs, so the spill directory is the answer set exactly
        //      once (not answer x slices-hit) and no end-of-loop
        //      dedup exchange over the whole spill exists.
        val seenPaths = (0 until bands by bandsPerSlice)
          .foldLeft(Vector.empty[String]) { (done, lo) =>
            val hi = math.min(bands, lo + bandsPerSlice)
            val sliceDistinct =
              sliceCandidatePairsOnce(sets, bands, rows, lo, hi, parts, refine)
            val fresh = if (done.isEmpty) sliceDistinct
              else sliceDistinct.join(
                spark.read.parquet(done: _*).select($"d1", $"d2"),
                Seq("d1", "d2"), "left_anti")
            val path = s"$spillDir/s${done.size}"
            fresh.write.parquet(path) // the slice executes HERE, bounded
            // the slice's shuffles are dead (its only product is now
            // parquet) — release their files before the next slice writes
            val now = org.apache.spark.GraftSparkInternals.registeredShuffleIds(sc)
            org.apache.spark.GraftSparkInternals.cleanupShufflesBlocking(sc, now -- seen)
            seen ++= now
            done :+ path
          }
        // the spill is globally distinct by construction; eager
        // checkpoint so the spill dir can be deleted before returning
        val all = spark.read.parquet(seenPaths: _*).localCheckpoint()
        val now = org.apache.spark.GraftSparkInternals.registeredShuffleIds(sc)
        org.apache.spark.GraftSparkInternals.cleanupShufflesBlocking(sc, now -- seen)
        all
      } finally {
        // best-effort recursive delete; the final pair set no longer
        // reads from here (checkpointed above)
        def rm(p: java.nio.file.Path): Unit = {
          if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.list(p)
            try s.forEach(rm(_)) finally s.close()
          }
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () }
        }
        rm(spillDir)
      }
    }
  }

  /** 64-bit SimHash of the token multiset — Scala REFERENCE implementation
    * (FNV-1a 64 token hash, +/-1 per bit, sign fold), kept as the
    * spec-side twin of the production kernel. The query path uses the
    * codegen'd [[graft.plans.VectorExpressions.SimHash64]] expression
    * (same arithmetic over [[graft.plans.SimHashKernel]]); OperatorsSpec
    * asserts expression == this function token-for-token. */
  private[graft] def simhash64(tokens: Seq[String]): Long = {
    val counts = new Array[Int](64)
    for (t <- tokens) {
      var h = 0xcbf29ce484222325L // FNV-1a 64
      var i = 0
      while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      var j = 0
      while (j < 64) { if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1; j += 1 }
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }


  /** SimHash near-duplicate pairs with Hamming distance <= maxDist.
    * Retrieval uses the pigeonhole principle: the 64-bit signature is cut
    * into maxDist+1 blocks; any pair within maxDist collides on at least
    * one exact block, so an equi-join on (block index, block value) finds
    * all of them without an all-pairs scan. */
  def simhashPairs(s: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    import s.implicits._
    val nBlocks = maxDist + 1
    val width = 64 / nBlocks
    // token-less documents are excluded (a simhash over zero tokens is 0,
    // which would pair every empty doc with every other — meaningless, and
    // the oracle's unnest drops them the same way)
    val sigs = documents(s, dir)
      .select($"doc_id".cast("long").as("doc_id"),
        filter(split($"text", " "), t => length(t) > lit(0)).as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id",
        graft.plans.VectorExpressions.simhash64($"toks").as("sig"))
    val blockCols = (0 until nBlocks).map { b =>
      shiftrightunsigned($"sig", b * width).bitwiseAND(lit((1L << width) - 1))
    }
    val blocked = sigs.select($"doc_id", $"sig",
      posexplode(array(blockCols: _*)).as(Seq("blk", "bv")))
    blocked.as("a").join(blocked.as("b"),
        $"a.blk" === $"b.blk" && $"a.bv" === $"b.bv" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        bit_count($"a.sig".bitwiseXOR($"b.sig")).cast("long").as("dist"))
      .distinct()
      .filter($"dist" <= maxDist)
      .transform(Answer.sorted(_, $"d1", $"d2"))
  }

  /** Embedding-cosine near-duplicate pairs (brute force, exact). The scale
    * path is [[Similarity.annTopK]]'s LSH bucketing; this exact variant is
    * the oracle-checkable baseline. */
  def embeddingCosinePairs(s: SparkSession, dir: String, threshold: Double = 0.45): DataFrame = {
    import s.implicits._
    embeddingCosinePairsUnsorted(s, dir, threshold)
      .transform(Answer.sorted(_, $"v1", $"v2"))
  }

  /** [[embeddingCosinePairs]] without the trailing answer checkpoint +
    * total sort — for the cluster consumer (q45), which feeds connected
    * components and materializes the pair set itself (r19; same
    * reasoning as [[minhashLshPairsUnsorted]]). */
  private def embeddingCosinePairsUnsorted(s: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    import s.implicits._
    // Materialize normalized vectors BEFORE the self-join: without the
    // checkpoint Catalyst inlines the normalization into the join and
    // recomputes it per pair (O(n^2 d) extra work, measured 10x slower).
    val e = embeddings(s, dir)
      .select($"vec_id".cast("long").as("vec_id"),
        Similarity.normalized($"embedding").as("nv"))
      .localCheckpoint()
    // cross-engine float rule (q57 precedent): quantize the cosine to 6
    // decimals BEFORE the threshold compare so a boundary pair cannot
    // flip between Spark (normalized dot) and DuckDB (raw-vector
    // list_cosine_similarity). Residual exposure, accepted: rounding
    // narrows but does not CLOSE the window — if the two engines' raw
    // cosines straddle a 0.5e-6 rounding boundary the rounded values
    // still differ by 1e-6 and a boundary pair can flip. Making the rule
    // exact per engine would need an integer key round(cos*1e6) computed
    // identically on both sides; at 6 decimals the straddle band is
    // ~1e-10 wide for these 8-dim vectors and has never fired at gate SFs.
    // rawCos >= threshold - 1e-4 is implied by round(rawCos, 6) >=
    // threshold (HALF_UP rounding moves a value by < 5e-7), so the cheap
    // raw-double compare prunes ~all pairs before the expensive rounded
    // compare — Catalyst's Round on DoubleType allocates a BigDecimal per
    // evaluation (measured ~0.8 us/pair in r18: the 2M-pair filter
    // was 1.26 s raw vs 2.92 s rounded). The rounded filter still decides
    // every boundary pair, so results are bit-identical.
    e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .withColumn("rawcos", Similarity.dot($"a.nv", $"b.nv"))
      .filter($"rawcos" >= threshold - 1e-4)
      .withColumn("cos", round($"rawcos", 6))
      .filter($"cos" >= threshold)
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"), $"cos")
  }

  /** [[embeddingCosinePairsLsh]] at the corpus-sized operating point.
    *
    * Sign-LSH bucket occupancy is n/2^nBits per table: holding nBits
    * FIXED while the corpus grows makes candidate mass (and the band
    * join's shuffle) grow ~n^2/2^nBits — measured 45x time at 10x corpus
    * (SCALE.json). Scaling is nBits ~ log2(n/n0): bucket width stays
    * constant; holding RECALL while adding bits then needs
    * nTables ~ (1/p1)^extraBits (p1 = per-bit collision probability at
    * the target cosine, 1 - theta/pi ~ 0.65 at cos 0.45) — the classic
    * n^rho table growth, rho = ln(1/p1)/ln(1/p2) ~ 0.62. Net candidate
    * cost n^(1+rho): the sign-LSH law. When the corpus has cluster
    * structure, the [[semanticDedupSqrtN]] quantizer-cell route is the
    * cheaper pair generator (measured ~n^1.15 on clustered synthetics).
    * At the gate SFs (n <= 2000) this resolves to the default (4, 8)
    * point, so the recall spec gates both paths. */
  def embeddingCosinePairsLshAuto(s: SparkSession, dir: String,
      threshold: Double = 0.45, dim: Int = 64): DataFrame = {
    import s.implicits._
    Answer.sorted(embeddingCosinePairsLshAutoUnsorted(s, dir, threshold, dim),
      $"v1", $"v2")
  }

  private def embeddingCosinePairsLshAutoUnsorted(s: SparkSession,
      dir: String, threshold: Double, dim: Int): DataFrame = {
    // r19: size the operating point from the SAME eagerly-checkpointed
    // normalized frame the LSH then rides — the count is a cached-block
    // scan instead of a second parquet scan + normalize pass (one full
    // job saved at query construction)
    val e = normalizedEmbeddings(s, dir)
    val n = e.count()
    val extraBits = math.max(0,
      math.ceil(math.log(n / 2000.0) / math.log(2)).toInt)
    val nTables = math.ceil(8 * math.pow(1.0 / 0.65, extraBits)).toInt
    embeddingCosinePairsLshFrom(e, threshold, dim, 4 + extraBits, nTables)
  }

  /** Verify-prefilter signature width: 16 longs (~128 B/row). Sizing: the
    * prune's discriminating power goes as sqrt(nSigBits) — at 1024 bits
    * the cosine estimate's standard error at the 0.45 boundary is ~0.04,
    * so the +2-sigma cutoff separates the answer band from the
    * near-threshold band within ~0.1 of cosine (a background pair at
    * cos ~ 0 sits ~7.5 sigma out and is gone entirely), while at 256
    * bits the boundary blurs to ~0.08 of cosine and the sub-threshold
    * band leaks through ~4x harder. The 8*dim-byte vector fetch this
    * avoids costs 4x the signature bytes at dim=64. */
  private[graft] val SignSigBits = 1024

  /** Hamming cutoff for the sign-signature prune at a cosine threshold:
    * a pair at exactly cos = t has per-bit flip probability
    * p = acos(t)/pi (the sign-LSH identity), so ham ~ Binomial(nSigBits,
    * p); the cutoff sits 2 sigma above that mean.
    *
    * Why 2 and not 6: the prune's job is to make the verify FETCH
    * answer-mass-shaped. On a clustered corpus the pair-cosine
    * distribution has a fat band just under the threshold, and a 6-sigma
    * cutoff (mean at cos 0.45 + 6 sigma = 452/1024) admits every pair
    * down to cos ~0.18 — at the 100x auto point that was ~120 M
    * sub-threshold candidates, each dragging a 520 B vector through the
    * second fetch exchange: ~72 GB of shuffle for a 13 M-pair answer
    * (the third r11 disk-fill, after the staged-verify and
    * exactly-once fixes removed the first two). At +2 sigma a pair AT
    * the boundary survives with 97.7%, cos 0.5 with 99.95%, cos 0.55+
    * with ~1 - 1e-6 — a <=2.3%-at-the-boundary recall cost (on top of
    * the ~20% table-miss rate the recall spec already budgets for),
    * while the sub-threshold band is cut by sigma-steps: cos 0.40 keeps
    * ~70%, 0.35 ~35%, 0.30 ~10%, 0.25 ~1.6% — the fetch volume drops
    * ~5x to within ~2x of answer mass. Pairs past the cutoff are
    * hopeless-by-measurement and never fetch their float vectors;
    * survivors still face the EXACT rounded-cosine filter, so the
    * subset-of-exact property is untouched. */
  private[graft] def hammingCutoff(nSigBits: Int, threshold: Double): Int = {
    val p = math.acos(threshold) / math.Pi
    math.min(nSigBits,
      math.ceil(nSigBits * p + 2.0 * math.sqrt(nSigBits * p * (1 - p))).toInt)
  }

  /** The eagerly-materialized (vec_id, normalized vector) frame every
    * embedding operator starts from — factored out (r19) so the _auto
    * twins can derive their operating point from its cached count
    * instead of paying a second scan+normalize job. */
  private def normalizedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir)
      .select($"vec_id".cast("long").as("vec_id"),
        Similarity.normalized($"embedding").as("nv"))
      .localCheckpoint()
  }

  /** The PRODUCTION shape of embedding near-dup ([[embeddingCosinePairs]]
    * is the all-pairs oracle anchor): multi-table random-hyperplane
    * sign-LSH buckets front the exact cosine check — a pair is a candidate
    * iff it shares a bucket in ANY table, so the join is an equi-join on
    * (table, bucket) with O(vectors * tables) shuffle instead of an
    * O(n^2) BNLJ. Approximate by construction: per-table collision
    * probability for angle theta is (1 - theta/pi)^nBits, so recall is
    * tuned by (nBits, nTables) — at cos >= 0.45 the defaults give ~0.8,
    * rising steeply for the truly-near pairs a dedup pass cares about
    * (cos 0.9 -> ~0.99). Recall vs the exact baseline is asserted in the
    * spec, mirroring [[Similarity.lshTopK]].
    *
    * Registered as q34_lsh_embedding_pairs, with the staged Hamming
    * verify inside the band join.
    *
    * BEHAVIOR CHANGE (r11, applies to the registered
    * q34_lsh_embedding_pairs / q45_lsh_embedding_clusters and the _auto
    * twins alike): the +2-sigma Hamming prefilter ([[hammingCutoff]])
    * drops a qualifying pair sitting EXACTLY at the cosine threshold
    * with ~2.3% probability (cos >= 0.5 with 0.05%, cos >= 0.55
    * effectively never) — on top of the ~20% table-miss rate these
    * fixed parameters always had. Spec floor: >=95% retention at the
    * boundary, zero measured loss at cos >= 0.55 (OperatorsSpec).
    * Consumers needing the r10 admit-everything behavior at the
    * boundary should use the exact anchor (q34/q45) — the tradeoff buys
    * the answer-mass-shaped vector fetch that keeps the 100x rung on
    * disk (SCALE.json). */
  def embeddingCosinePairsLsh(s: SparkSession, dir: String,
      threshold: Double = 0.45, dim: Int = 64,
      nBits: Int = 4, nTables: Int = 8): DataFrame = {
    import s.implicits._
    Answer.sorted(embeddingCosinePairsLshFrom(normalizedEmbeddings(s, dir),
      threshold, dim, nBits, nTables), $"v1", $"v2")
  }

  private def embeddingCosinePairsLshFrom(e: DataFrame,
      threshold: Double, dim: Int,
      nBits: Int, nTables: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // STAGED VERIFY — the q22 sizes-before-arrays discipline applied to
    // embeddings, pushed INTO the band join: each banded row carries its
    // 16-long packed sign signature (~128 B — 4x smaller than the
    // 8*dim-byte vector it stands for), the within-bucket pair
    // enumeration prunes on XOR-popcount Hamming distance INSIDE the
    // join stage, and only surviving pairs (ids, 16 B) reach the
    // candidate-dedup exchange. The r10 unstaged shape instead dragged
    // full float vectors per DEDUPED candidate through two fetch joins —
    // 83 GB spill / disk-fill at the 100x point (SCALE.json r10 _note);
    // here the hopeless n^(1+rho) candidate mass dies as compute (a
    // 2-word XOR+popcount per enumerated pair), never as shuffle bytes,
    // and the vector fetch is answer-mass-sized. Shuffle total:
    // n*tables*(sig+bucket) for the band join + O(survivors) — at 200k
    // vectors x 164 tables that is ~5 GB where the unstaged plan moved
    // ~600 GB. Signature planes are seeded outside the bucket-table
    // family so the prune statistic is independent of the collision that
    // nominated the pair.
    val planes = Similarity.signaturePlanes(dim, SignSigBits)
    // shuffle-hash build sides cannot spill — size the partition count
    // from the banded BYTES (rows known as n*tables without
    // materializing — e is checkpointed so the count is a cached scan;
    // ~176 B of id+sg+bucket plus the packed collision map per row)
    // instead of inheriting spark.sql.shuffle.partitions, targeting
    // ~256 MB build maps. Repartitioning by the join key means both
    // self-join sides reuse ONE exchange (ReuseExchange), so the sketch
    // projections run once.
    val rowBytes = 176L + 8L * ((nTables.toLong * nBits + 63) / 64)
    val nBanded = e.count() * nTables
    val parts = math.max(s.sparkContext.defaultParallelism,
      math.min(4096, (nBanded * rowBytes / (256L << 20)).toInt + 1))
    val banded = e
      // the banded exchange's MAP side must be ~parts tasks too: e comes
      // out of localCheckpoint with a handful of scan partitions and the
      // explode amplifies each xnTables, so left alone each map task
      // shuffle-writes GBs — UnsafeShuffleWriter spills and then MERGES
      // (a 2x transient disk copy per task), and 16 such tasks in flight
      // peaked past the x100 node's free disk (the second r11 disk-fill).
      // With map outputs ~256 MB the merge transient is bounded and
      // staggered. This extra exchange moves only e (ids+vectors,
      // ~1/60 of the banded bytes).
      .repartition(parts)
      .withColumn("sg", graft.plans.VectorExpressions.signPack($"nv", planes, dim))
      // pk: all nTables bucket sign bits packed (~nTables*nBits/8 bytes)
      // — the EXACTLY-ONCE emission map. A very-near pair collides in
      // most of the nTables tables, so without it the pair stream
      // carries up to nTables duplicate emissions per true pair into the
      // dedup exchange — at the 100x auto point (164 tables, ~13M answer
      // pairs) that is ~33 GB of shuffle for ~200 MB of distinct pairs,
      // the r11 disk-fill after the Hamming staging removed the r10 one.
      // With pk, the join keeps a pair only at its FIRST colliding
      // table, pairs are unique by construction, and the dedup
      // exchange + distinct disappear outright.
      .withColumn("pk", Similarity.lshBucketsPacked($"nv", dim, nBits, nTables))
      .select($"vec_id", $"sg", $"pk",
        explode(Similarity.lshBucketsArray($"nv", dim, nBits, nTables)).as("bucket"))
    val keyed = banded.repartition(parts, $"bucket")
    val cut = hammingCutoff(SignSigBits, threshold)
    val cand = keyed.as("a").hint("shuffle_hash")
      .join(keyed.as("b"), $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      // order matters: the 2-word XOR+popcount Hamming prune kills the
      // n^(1+rho) background mass first; the first-collide scan (early-
      // exit slice compare) then dedups the survivors' emissions
      .filter(graft.plans.VectorExpressions.hammingDistance($"a.sg", $"b.sg") <= cut)
      .filter(graft.plans.VectorExpressions.firstCollidingTable(
        $"a.pk", $"b.pk", nBits, nTables) ===
        shiftright($"a.bucket", 32).cast("int"))
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"))
    cand
      .join(e.select($"vec_id".as("v1"), $"nv".as("nv1")).hint("shuffle_hash"), "v1")
      .join(e.select($"vec_id".as("v2"), $"nv".as("nv2")).hint("shuffle_hash"), "v2")
      // quantized compare, same rule as the exact anchor — keeps the
      // subset relation exact at threshold boundaries. The raw-double
      // prefilter is implied by the rounded compare (see
      // embeddingCosinePairs) and keeps the per-pair BigDecimal rounding
      // off the candidate bulk.
      .withColumn("rawcos", Similarity.dot($"nv1", $"nv2"))
      .filter($"rawcos" >= threshold - 1e-4)
      .withColumn("cos", round($"rawcos", 6))
      .filter($"cos" >= threshold)
      .select($"v1", $"v2", $"cos")
  }

  /** q51 — cross-document duplicated-chunk fraction: for each document,
    * the fraction of its consecutive non-overlapping k-token chunks whose
    * exact content also occurs in at least one OTHER document. This is the
    * corpus-level duplication quality signal of large-scale curation
    * pipelines (distinct from q49's within-doc repetition and q48's
    * eval-set overlap): high-fraction docs are boilerplate/templated text
    * that survives document-level dedup because the whole doc is not a
    * near-dup of any single other doc.
    *
    * Scale shape: one chunk-explode (rows = tokens/k, an order less than a
    * shingle explode), one groupBy on the 64-bit chunk hash for the
    * distinct-doc count, one hash-join back on the same key (co-partitioned
    * by the groupBy's shuffle), one per-doc aggregate. No self-join, no
    * candidate generation — O(corpus tokens / k) shuffle volume end to
    * end. A chunk repeated only within one document does not count
    * (distinct-doc count stays 1), matching the cross-document
    * definition. */
  def crossDocDupFraction(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val toks = filter(split($"text", " "), t => length(t) > lit(0))
    val nChunks = (size($"t") / k).cast("int")
    val occ = fanOutSmallScan(documents(s, dir))
      .select($"doc_id".cast("long").as("doc_id"), toks.as("t"))
      .filter(size($"t") >= k)
      .select($"doc_id", explode(transform(sequence(lit(0), nChunks - 1),
        i => xxhash64(concat_ws(" ", slice($"t", i * k + 1, lit(k)))))).as("ch"))
    val nd = occ.groupBy($"ch").agg(countDistinct($"doc_id").as("ndocs"))
    occ.join(nd, "ch")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when($"ndocs" >= 2, 1L).otherwise(0L)).cast("long").as("n_dup"))
      .select($"doc_id", $"n_chunks", $"n_dup",
        round($"n_dup".cast("double") / $"n_chunks", 6).as("dup_frac"))
      .transform(Answer.sorted(_, $"doc_id"))
  }

  /** q51 oracle — the same per-doc duplicated-chunk stats computed on the
    * chunk STRINGS in DuckDB (independent of the xxhash64 chunk key). */
  val q51Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM documents
      |), occ AS (
      |  SELECT doc_id, unnest([array_to_string(t[(i-1)*8+1:i*8], ' ') for i in range(1, len(t)//8 + 1)]) AS ch
      |  FROM toks WHERE len(t) >= 8
      |), nd AS (
      |  SELECT ch, count(DISTINCT doc_id) AS ndocs FROM occ GROUP BY ch
      |), per_doc AS (
      |  SELECT o.doc_id, count(*) AS n_chunks,
      |    sum(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup
      |  FROM occ o JOIN nd ON o.ch = nd.ch GROUP BY o.doc_id
      |)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
      |  CAST(n_dup AS BIGINT) AS n_dup,
      |  round(CAST(n_dup AS DOUBLE) / n_chunks, 6) AS dup_frac
      |FROM per_doc ORDER BY doc_id""".stripMargin

  /** q61 — EXACT-SUBSTRING dedup stats (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): a token span is
    * duplicated when its k-gram occurs >= 2 times ANYWHERE in the corpus
    * (unlike q51's per-doc non-overlapping chunks, this slides one
    * position at a time and counts within-doc repeats too); overlapping
    * duplicated k-grams merge into maximal removal spans, the operation
    * the paper's suffix-array pass performs. Output per document: token
    * count, duplicated-span token mass, retained fraction after removal.
    *
    * Spark-first shape (the suffix array is a single-node construct; the
    * same answer falls out of two bounded shuffles):
    *   1. positional k-gram frame — posexplode over a transform(sequence)
    *      projection, one xxhash64 per start position (no string
    *      materialization past the scan);
    *   2. corpus frequency — a TWO-LEVEL count (r16; the r15 shape was a
    *      count(*) window over gh, which put a hot gram's every
    *      occurrence into ONE WindowExec group's buffered sort — a
    *      degenerate boilerplate gram at 100 TB would sort/spill
    *      billions of rows in one task): `groupBy(gh).count()` partial-
    *      aggregates map-side, so the hot gram crosses the exchange as
    *      one 16 B (gh, cnt) row per map partition, and the exchange
    *      carries partial counts, never positions. The duplicated-gram
    *      set (answer-shaped: grams with corpus count >= 2) then rejoins
    *      the positional stream as a LEFT SEMI — broadcast under the
    *      row-count gate below, so the positional frame's ONLY exchange
    *      is the doc_id one it needs anyway; past the gate, shuffle-hash
    *      (streaming probe, build = the dup set) — either way no
    *      operator buffers a gram's occurrence list;
    *   3. interval merge — the classic gaps-and-islands: per-doc window
    *      ordered by position, a break whenever the gap exceeds k (fixed
    *      k-length intervals mean the running max end is always
    *      prev_p + k), islands summed as max(p)+k-min(p). The window is
    *      doc-partitioned — no global sort, no driver state.
    * The token-array frame is NOT cached — it is consumed by three
    * passes (frequency agg, semi probe, per-doc token counts), and at
    * corpus scale re-scanning the pushed-down text column is strictly
    * cheaper than pinning an O(corpus tokens) frame in executor memory
    * for the session (the cache also never had a safe unpersist point —
    * the returned plan is lazy). The one materialized frame is the
    * answer-shaped dup-gram SET, checkpointed DISK_ONLY (r17): the agg
    * runs once, the gate count is free, and no executor memory is held —
    * see the checkpoint comment in the body for why disk is not new
    * exposure. */
  // ~10M longs ≈ low-hundreds MB built. var: test seam so the past-gate
  // shuffle-hash arm's PLAN is assertable at spec scale (Q61PlanSpec).
  private[graft] var DupGramBroadcastMaxRows = 10000000

  def substringDedup(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val toks = filter(split($"text", " "), t => length(t) > lit(0))
    val docs = fanOutSmallScan(documents(s, dir))
      .select($"doc_id".cast("long").as("doc_id"), toks.as("t"))
    val grams = docs.filter(size($"t") >= k)
      .select($"doc_id", posexplode(transform(sequence(lit(0), size($"t") - k),
        i => xxhash64(concat_ws(" ", slice($"t", i + 1, lit(k)))))))
      .toDF("doc_id", "p", "gh")
    // Eager DISK_ONLY checkpoint: the corpus-frequency agg runs ONCE (the
    // gate count and both join arms read the checkpointed blocks) and no
    // executor MEMORY is held — the r16 shape pinned the set at
    // MEMORY_AND_DISK for the session (ADVICE/VERDICT r16), while the
    // probe-and-recompute alternative re-scanned the entire gram stream a
    // second time inside the join (measured +67% on q61 at sf0.1, and at
    // 100 TB a second full pass over the corpus gram stream is the cost
    // that actually scales). The disk bytes are not new exposure: past
    // the gate the shuffle-hash arm writes this SAME answer-shaped set to
    // executor local disk as its build-side shuffle files; under it the
    // set is broadcast-small by definition.
    val dupGrams = grams.groupBy($"gh")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 2).select($"gh")
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val gateExceeded = dupGrams.count() > DupGramBroadcastMaxRows
    val dupStarts = (
      if (!gateExceeded)
        grams.join(broadcast(dupGrams), Seq("gh"), "left_semi")
      // LEFT SEMI can only build RIGHT — hint the BUILD side (the
      // answer-shaped dup set), as in the embedding band join; a probe-
      // side hint is silently ignored and the join would sort-merge,
      // re-buffering the hot gram's positions in one sort (ADVICE r16)
      else grams.join(dupGrams.hint("shuffle_hash"), Seq("gh"), "left_semi")
    ).select($"doc_id", $"p")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"p")
    val islands = dupStarts
      .withColumn("brk",
        when(coalesce($"p" - lag($"p", 1).over(w), lit(k + 1)) > k, 1).otherwise(0))
      .withColumn("island", sum($"brk").over(w))
    val dupPerDoc = islands.groupBy($"doc_id", $"island")
      .agg((max($"p") + k - min($"p")).as("span"))
      .groupBy($"doc_id").agg(sum($"span").cast("long").as("dup_tokens"))
    docs.select($"doc_id", size($"t").cast("long").as("n_tokens"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        when($"n_tokens" === 0, lit(1.0)).otherwise(
          round(lit(1.0) - coalesce($"dup_tokens", lit(0L)).cast("double") / $"n_tokens", 6))
          .as("retained_frac"))
      .transform(Answer.sorted(_, $"doc_id"))
  }

  /** q61 oracle — the same spans computed on the k-gram STRINGS in DuckDB
    * (positional struct unnest; independent of the xxhash64 gram key).
    * Derived from the SAME `k` as [[substringDedup]] so a caller using a
    * non-default k gets a matching oracle instead of a silent divergence
    * from a hardcoded k=8 text. */
  def q61Sql(k: Int = 8): String =
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS t FROM documents
      |), occ AS (
      |  SELECT doc_id, unnest([struct_pack(p := i - 1, g := array_to_string(t[i:i+${k - 1}], ' ')) for i in range(1, len(t) - ${k - 2})], recursive := true)
      |  FROM toks WHERE len(t) >= $k
      |), freq AS (
      |  SELECT g FROM occ GROUP BY g HAVING count(*) >= 2
      |), d AS (
      |  SELECT doc_id, p FROM occ WHERE g IN (SELECT g FROM freq)
      |), isl AS (
      |  SELECT doc_id, p, CASE WHEN coalesce(p - lag(p) OVER (PARTITION BY doc_id ORDER BY p), ${k + 1}) > $k THEN 1 ELSE 0 END AS brk FROM d
      |), isl2 AS (
      |  SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM isl
      |), spans AS (
      |  SELECT doc_id, island, max(p) + $k - min(p) AS span FROM isl2 GROUP BY doc_id, island
      |), dup AS (
      |  SELECT doc_id, sum(span) AS dup_tokens FROM spans GROUP BY doc_id
      |)
      |SELECT CAST(t.doc_id AS BIGINT) AS doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(dup.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      |  CASE WHEN len(t.t) = 0 THEN 1.0 ELSE round(1.0 - CAST(coalesce(dup.dup_tokens, 0) AS DOUBLE) / len(t.t), 6) END AS retained_frac
      |FROM toks t LEFT JOIN dup ON t.doc_id = dup.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q52 — the dedup DECISION over the whole corpus: every document with
    * its near-dup cluster id (its own id when unclustered) and whether it
    * survives (kept iff it is its cluster's canonical min-id member).
    * Completes the family end-to-end — q31/q32 find pairs, q42 groups
    * them, this emits the surviving corpus; "the deduplicated dataset" is
    * then `WHERE kept = 1`. Scale shape: [[nearDupClusters]]'s
    * O(docs*bands) LSH + label propagation, plus one join of the (small —
    * clustered docs only) cluster table back to the corpus; AQE broadcasts
    * it at real-world dup rates. */
  def dedupCorpus(s: SparkSession, dir: String, n: Int = 5,
      bands: Int = 32, rows: Int = 4, threshold: Double = 0.8): DataFrame = {
    import s.implicits._
    // the raw CC labels — NOT the registered q42 frame, whose eager
    // checkpoint would execute a cluster_size window and a total sort
    // this query never reads (see nearDupClusterIds)
    val clusters = nearDupClusterIds(s, dir, n, bands, rows, threshold)
    documents(s, dir)
      .select($"doc_id".cast("long").as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"cluster", $"doc_id"))
      .select($"doc_id", $"cluster",
        when($"cluster" === $"doc_id", 1L).otherwise(0L).as("kept"))
      .transform(Answer.sorted(_, $"doc_id"))
  }

  /** q52 oracle — q42's independent recursive-reachability CC, left-joined
    * onto the full corpus so unclustered docs appear as their own kept
    * cluster. */
  val q52Sql: String =
    s"""WITH RECURSIVE $jaccardCtes,
      |pairs AS (SELECT d1, d2 FROM j WHERE jac >= 0.8),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT a AS node, a AS label FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT e.b AS node, r.label FROM reach r JOIN edges e ON r.node = e.a
      |), cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node)
      |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
      |  CAST(coalesce(cc.cluster, d.doc_id) AS BIGINT) AS cluster,
      |  CAST(CASE WHEN coalesce(cc.cluster, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM documents d LEFT JOIN cc ON cc.node = d.doc_id ORDER BY doc_id""".stripMargin

  /** q57 — SemDeDup-style semantic deduplication: quantize the corpus
    * into coarse cells (the q43_exact deterministic seed quantizer —
    * first-`nlist` vectors as centroids, argmax-cosine assignment), then
    * within each cell drop every vector that has a smaller-id cell-mate
    * with cosine >= threshold. This is the standard embedding-space
    * answer to "near-dups that share no n-grams" (paraphrases,
    * translations, re-renders), run after lexical dedup in large
    * pipelines.
    *
    * Scale shape: assignment is a pure scan (centroids ride as literal
    * columns — no join, no shuffle); the within-cell pair join is an
    * equi-join on the cell id, so the quadratic term is bounded by the
    * LARGEST CELL, not the corpus. The REGISTERED query is the
    * fixed-nlist=8 ORACLE ANCHOR (the seed quantizer the q43_exact
    * oracle can replay) — at gate SFs cells are a few hundred vectors;
    * a production run MUST pass nlist ~ sqrt(n) (IVF practice) so cells
    * stay near-constant and the cell-key cardinality scales with the
    * corpus; a SKEWED cell (the IVF-imbalance problem) is defused by
    * [[blockedWithinKeyPairs]] — the within-cell join is grid-blocked so
    * no task ever handles more than `cellCap`^2 pairs, with zero
    * replication for cells under the cap. Same anchor-vs-production
    * split as q34/q45. The pair join shuffles (vec_id, cell) ids with
    * vectors fetched per surviving comparison — same ids-first
    * discipline as [[embeddingCosinePairsLsh]].
    */
  def semanticDedup(s: SparkSession, dir: String,
      threshold: Double = 0.7, nlist: Int = 8,
      cellCap: Int = 4096): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"vec_id".cast("long").as("vec_id"),
        Similarity.normalized($"embedding").as("nv"))
      .localCheckpoint()
    // seed = first nlist rows in vec_id ORDER (not `vec_id < nlist`): a
    // corpus with sparse/offset ids still yields nlist real centroids, and
    // a degenerate corpus fails loudly instead of assigning null cells
    val cents: Array[Array[Double]] = e.orderBy($"vec_id").limit(nlist)
      .select($"nv").as[Seq[Double]].collect().map(_.toArray)
    require(cents.nonEmpty, s"semanticDedup: no embeddings found under $dir")
    // cross-engine float rule: both the cell argmax and the >= threshold
    // prune compare cosines QUANTIZED to 6 decimals, so a boundary pair /
    // centroid near-tie cannot flip between Spark (normalized dot) and the
    // oracle (list_cosine_similarity on raw vectors)
    val corpus = e
      .withColumn("cluster",
        Similarity.nearestCentroidRounded($"nv", cents).cast("long"))
      .localCheckpoint()
    val ids = corpus.select($"vec_id", $"cluster")
    val dropped = blockedWithinKeyPairs(ids, cellCap)
      .select($"vec_id", $"mate")
      .join(corpus.select($"vec_id", $"nv"), "vec_id")
      .join(corpus.select($"vec_id".as("mate"), $"nv".as("mv")), "mate")
      // raw-double prefilter implied by the rounded compare (see
      // embeddingCosinePairs): keeps the per-pair BigDecimal rounding off
      // the within-cell pair bulk; the rounded compare still decides
      // every boundary pair
      .withColumn("rawcos", Similarity.dot($"nv", $"mv"))
      .filter($"rawcos" >= threshold - 1e-4)
      .filter(round($"rawcos", 6) >= threshold)
      .select($"vec_id").distinct()
    Answer.sorted(
      corpus.select($"vec_id", $"cluster")
        .join(dropped.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
        .select($"vec_id", $"cluster",
          when($"is_dup".isNotNull, 0L).otherwise(1L).as("kept")),
      $"vec_id")
  }

  /** All unordered within-cell pairs `(vec_id, mate)` with
    * `mate < vec_id`, each emitted EXACTLY once, with per-task pair work
    * bounded by `cellCap`^2 — the IVF-imbalance salt [[semanticDedup]]'s
    * within-cell join rides on. A plain self-join on the cell key puts a
    * skewed cell's full m^2 blowup in ONE task (the quadratic term the
    * sqrt(n) twin exists to kill, re-created by one hot cell); here each
    * cell of size m splits into g = ceil(m/cellCap) stable hash blocks
    * and the join key becomes the block-pair (cluster, p, q), p <= q:
    * a row in block b is exploded to the g keys {(min(b,o), max(b,o))},
    * so a cross-block pair co-occurs under exactly one key (the one with
    * both blocks as coordinates) and a same-block pair is restricted to
    * its diagonal key (b, b). Non-skewed cells (m <= cellCap) have g = 1
    * — one key, zero replication, the original plan. Cell sizes come
    * from a groupBy over cell ids only (nlist rows, broadcast back). */
  private[graft] def blockedWithinKeyPairs(ids: DataFrame, cellCap: Int): DataFrame = {
    import ids.sparkSession.implicits._
    require(cellCap >= 1, s"cellCap must be >= 1, got $cellCap")
    val sizes = ids.groupBy($"cluster").agg(count(lit(1)).as("cell_m"))
    val withBlk = ids.join(broadcast(sizes), "cluster")
      .withColumn("g", ceil($"cell_m" / lit(cellCap.toDouble)).cast("int"))
      .withColumn("blk", pmod(xxhash64($"vec_id"), $"g").cast("int"))
    val exploded = withBlk
      .select($"vec_id", $"cluster", $"blk",
        explode(sequence(lit(0), $"g" - 1)).as("o"))
      .select($"vec_id", $"cluster", $"blk",
        least($"blk", $"o").as("p"), greatest($"blk", $"o").as("q"))
    exploded.as("a").hint("shuffle_hash")
      .join(exploded.as("b"),
        $"a.cluster" === $"b.cluster" && $"a.p" === $"b.p" && $"a.q" === $"b.q" &&
          $"b.vec_id" < $"a.vec_id" &&
          ($"a.blk" =!= $"b.blk" ||
            ($"a.p" === $"a.blk" && $"a.q" === $"a.blk")))
      .select($"a.cluster".as("cluster"),
        $"a.vec_id".as("vec_id"), $"b.vec_id".as("mate"))
  }

  /** q57 oracle — the same seed quantizer + within-cell prune replayed in
    * DuckDB (assignment CTE shared with q43_exact's oracle shape). Both
    * the argmax and the threshold compare round to 6 decimals, matching
    * [[semanticDedup]]'s quantized comparisons; the seed list is the first
    * 8 rows in vec_id ORDER, matching the sparse-id-safe Spark seed. The
    * cluster label is the seed's RANK (0-based position in vec_id order),
    * matching Spark's centroid-array index — labeling by seed vec_id would
    * only coincide when the first 8 ids happen to be dense from 0. */
  def q57SqlAt(threshold: Double): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
      |assign AS (
      |  SELECT vec_id, c AS cluster FROM (
      |    SELECT e.vec_id, s.c,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 6) DESC, s.c) AS rn
      |    FROM e, seeds s) WHERE rn = 1),
      |dup AS (
      |  SELECT DISTINCT a.vec_id
      |  FROM assign a JOIN assign b USING (cluster)
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id
      |  WHERE b.vec_id < a.vec_id
      |    AND round(list_cosine_similarity(ea.v, eb.v), 6) >= $threshold)
      |SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
      |  CAST(a.cluster AS BIGINT) AS cluster,
      |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
      |ORDER BY vec_id""".stripMargin

  val q57Sql: String = q57SqlAt(0.7)

  /** q57 production twin — [[semanticDedup]] at IVF practice's
    * `nlist ~ sqrt(n)` so the expected cell size stays near-constant as
    * the corpus grows and the within-cell quadratic term never scales
    * with the corpus: cell-key cardinality grows with n, per-cell work
    * does not (a skewed cell is the IVF-imbalance problem, grid-block
    * salted by [[blockedWithinKeyPairs]]). Same anchor-vs-production
    * registry split as
    * q34/q45 (SURVEY §7.4.7: the exact anchor proves semantics, the
    * bucketed twin is the scale path — registered rows-only, gated by
    * the soundness/agreement spec in OperatorsSpec). The corpus count
    * here is one cheap parquet-metadata scan, not a collect. */
  def semanticDedupSqrtN(s: SparkSession, dir: String,
      threshold: Double = 0.7): DataFrame = {
    val n = embeddings(s, dir).count()
    val nlist = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    semanticDedup(s, dir, threshold, nlist)
  }
}
