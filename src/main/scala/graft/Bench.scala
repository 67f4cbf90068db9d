package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** 1-minute system load average, or -1 where the JVM can't read it —
    * stamped into the artifact so a noisy refresh (loaded sandbox) is
    * distinguishable from a real regression without an A/B re-run. */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line; (-1,-1)
    * where unreadable. Steal fraction over the bench window = hypervisor
    * time stolen from this sandbox — with load_avg the two numbers that
    * explain the ±15% round-to-round drift (VERDICT r17 #8). */
  private def procStatSteal: (Long, Long) = try {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
    (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
  } catch { case _: Throwable => (-1L, -1L) }

  /** Mean "cpu MHz" across cores, or -1 — frequency scaling is the other
    * sandbox-drift lever worth stamping. */
  private def cpuMhz: Double = try {
    val mhz = scala.io.Source.fromFile("/proc/cpuinfo").getLines()
      .filter(_.startsWith("cpu MHz")).map(_.split(":")(1).trim.toDouble).toSeq
    if (mhz.isEmpty) -1.0 else math.round(mhz.sum / mhz.size).toDouble
  } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg
    val stealStart = procStatSteal
    val startedAt = java.time.Instant.now().toString
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // NOTE: wide AQE exchanges (initialPartitionNum >> cpus) live in
      // ScaleBench, where 10x-100x frames need them; at this harness's
      // data scale they cost ~1.5x in per-query scheduling overhead
      // (measured 57s -> 85s over the sf0.1 suite) for zero benefit.
      .config("spark.ui.enabled", "false")
      // tsEpochNanos interprets TIMESTAMP_NTZ events.ts as UTC — every
      // entrypoint must pin the session zone or q14/q40 benchmark a
      // different (host-zone) workload than Verify gates
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // ERROR, not WARN: the driver's capture is byte-capped from the TOP,
    // so every pre-line WARN (cache-already-cached etc.) eats budget the
    // final contract line needs
    spark.sparkContext.setLogLevel("ERROR")
    // per-stage executor metrics between resets, so each query's JSON row
    // carries its spill/shuffle/peak-memory profile — added after the
    // round-5 q31/q32 bench variance (5x run-to-run swing) was suspected
    // to be storage-pressure-driven but undiagnosable from wall times alone
    val listener = graft.obs.StageMetrics.on(spark.sparkContext)
    // Warmup outside the timed region: one trivial count per input table
    // plus one small query, so parquet footers, filesystem metadata, and
    // the first round of JIT/codegen compilation don't land on whichever
    // query happens to run first (measured ~3 s on q01 as the alphabetical
    // leader). Per-query work is NOT pre-run — only session-level state.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.Tables.table(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    // a known-cheap query (Map order is hash-arbitrary, .head could pick
    // an expensive one) to warm the SQL/codegen pipeline itself
    try SparkEntry.queries("q02_filter_project")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // full storage flush between measurements: clearCache drops SQL-cached
    // plans, and unpersisting every lingering RDD drops localCheckpoint
    // residue (which clearCache does NOT touch) — without it cached_bytes
    // read as a near-constant ~300 MB of warmup+checkpoint carry-over for
    // every query, and late queries paid earlier queries' storage pressure
    // (measured: q21 5.4 s cold vs 13.7 s late in a hash-ordered run).
    // Prior queries' checkpointed RDDs are dead at this point, so the
    // truncated lineage is never re-demanded.
    def clearStorage(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      // blocking: the next trial's "storage starts empty" premise (and
      // cached_bytes attribution) is false if removal is still in flight
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    clearStorage()
    // variance-prone headline queries take the median of 3 cold trials so
    // one loaded-sandbox run can't fake (or mask) a regression — the r7
    // driver bench reported the pipeline at 29.4 s where a same-commit
    // rerun gave 4.9 s. The cheap tail stays at 1 trial to bound bench
    // wall time.
    // NOTE: the q31_dedup_ngram_jaccard key timed the dfCap=50 variant
    // through round 7; from round 8 it times the uncapped oracle anchor
    // and the capped production variant reports as q31_capped_ngram_jaccard
    // (both headlined) — cross-round comparisons must pair the capped
    // history with the _capped key.
    val headline = Set("q03_join_agg", "q19_levenshtein", "q21_match_score",
      "q22_lsh_match_score", "q31_dedup_ngram_jaccard", "q31_capped_ngram_jaccard",
      "q32_dedup_minhash_lsh", "q42_neardup_clusters", "q45_embedding_clusters",
      "q45_lsh_embedding_clusters")
    // Materialize the query's OWN executed plan and count its rows —
    // NOT df.count(): count() plans a fresh Aggregate over the query and
    // Catalyst then prunes every column the count doesn't need, which for
    // q61 (a unique-key left join feeding only the row count) eliminated
    // the ENTIRE operator — the bench measured a parquet footer count
    // (r15 finding). executedPlan.execute() computes every output column
    // of every row with no driver-side collection, the same idiom the
    // ScaleBench IVF probe uses.
    def materialize(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.execute().count()
    // deterministic name order: Map iteration is hash-ordered, and a
    // query's wall time must not depend on which queries ran before it.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val trials = if (headline(name)) 3 else 1
      val runs = (1 to trials).map { _ =>
        clearStorage()
        listener.reset()
        val t0 = System.nanoTime()
        // a throwing query is NOT silently folded into the totals: its
        // wall time still reports (the failure cost real seconds) but the
        // name lands in the artifact's `failed` list so bench_ab.py and
        // round-over-round diffs can exclude it — a fast crash otherwise
        // reads as a speedup (ADVICE r15)
        val ok = try { materialize(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        // stage events arrive async; attribute them to THIS query's window
        org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
        // storage was empty at trial start, so what is resident now is the
        // query's OWN cache()/localCheckpoint footprint
        val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
        (sec, ok, Map(
          "spill_mem" -> listener.spillMem, "spill_disk" -> listener.spillDisk,
          "shuffle_write" -> listener.shuffleWrite,
          "peak_exec_mem" -> listener.peakExecMem, "cached_bytes" -> cached))
      }
      // the reported time AND metrics come from the SAME (median) trial,
      // so a variance investigation never pairs a clean median time with
      // an outlier trial's spill profile
      val (sec, _, metrics) = runs.sortBy(_._1).apply(runs.length / 2)
      (name, sec, runs.forall(_._2), metrics)
    }
    val failed = results.collect { case (name, _, false, _) => name }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ms = results.map { case (k, _, _, m) =>
      s"\"" + k + "\":" + m.toSeq.sortBy(_._1)
        .map { case (mk, mv) => s"\"$mk\":$mv" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // the composed corpus-curation pipeline, timed like a query (cold
    // cache) but reported separately: it is a multi-query program, not a
    // SparkEntry oracle row
    val pipelineSec = {
      val ts = (1 to 3).map { _ =>
        clearStorage()
        val tp = System.nanoTime()
        try {
          materialize(graft.operators.DocumentPipeline.curate(spark, sfDir))
          (System.nanoTime() - tp) / 1e9
        } catch { case _: Throwable => -1.0 }
      }
      ts.sorted.apply(1) // median of 3
    }
    // run-environment provenance: the r14 lesson — a byte-identical jar
    // benched 74.1s vs 99.0s across rounds on sandbox load alone; without
    // these fields the canonical artifact can't distinguish noise from a
    // regression (load > ~1 per used core means the numbers are suspect)
    val loadEnd = loadAvg
    val stealEnd = procStatSteal
    // steal over THIS bench's window as a fraction of all-cpu jiffies
    val stealFrac =
      if (stealStart._2 < 0 || stealEnd._2 <= stealStart._2) -1.0
      else math.round((stealEnd._1 - stealStart._1).toDouble /
        (stealEnd._2 - stealStart._2) * 10000) / 10000.0
    val mhz = cpuMhz
    val env = s""""env":{"started_at":"$startedAt","load_avg_start":$loadStart,""" +
      s""""load_avg_end":$loadEnd,"steal_frac":$stealFrac,"cpu_mhz":$mhz,""" +
      s""""host_cores":${Runtime.getRuntime.availableProcessors},""" +
      s""""local_threads":$cpus,"heap_max_bytes":${Runtime.getRuntime.maxMemory}}"""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"metrics":$ms,"pipeline_sec":$pipelineSec,"failed":$failedJson,"sf":"$sfDir",""" +
      s""""harness":"executed-plan-materialize (r15: a count() harness let Catalyst prune count-irrelevant work — q61's unique-key left join was eliminated entirely; totals before r15 are count-harness)",$env}"""
    // COMPACT stdout line: the driver's output capture is byte-capped and
    // every BENCH_rN since r10 shows the ~10 KB full line truncated
    // mid-token inside its 2000-byte tail window (parsed:null). Per-query
    // seconds rounded to 10 ms (full precision persists via
    // BENCH_FULL.json below — the 2-decimal trim buys the bytes for the
    // env stamp), no metrics blob → ~1.9 KB, inside the window. The env
    // stamp (VERDICT r17 #8) puts load/steal/MHz NEXT TO the contract
    // line so the driver can discount sandbox drift without a worktree
    // A/B: r14's byte-identical jar measured 74.1 vs 99.0 s on load alone.
    def ms3(v: Double): Double = math.round(v * 1000) / 1000.0
    def cs2(v: Double): Double = math.round(v * 100) / 100.0
    val envCompact = s""""env":{"load":[${cs2(loadStart)},${cs2(loadEnd)}],""" +
      s""""steal":$stealFrac,"mhz":${mhz.toLong}}"""
    val compact = s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":""" +
      results.map { case (k, v, _, _) => s"\"" + k + "\":" + cs2(v) }
        .mkString("{", ",", "}") +
      s""","pipeline_sec":${cs2(pipelineSec)},"failed":$failedJson,"sf":"$sfDir",$envCompact}"""
    // the driver's committed BENCH artifact truncates to the output tail;
    // persist the full line so per-query numbers survive the round. The
    // destination resolves via SPARK_GRAFT_BENCH_OUT so a run launched
    // from another cwd can still land the artifact at the repo root, and
    // a write failure is LOGGED, never silently dropped (the committed
    // artifact is what cross-round perf comparisons read).
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
      .toAbsolutePath
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_full.json"), line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] target/bench_full.json write failed: $e") }
    try {
      java.nio.file.Files.writeString(outPath, line + "\n")
      System.err.println(s"[bench] full artifact written to $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write to $outPath FAILED: $e") }
    // stop BEFORE the contract line so no Spark shutdown output can land
    // after it — the compact line must be the process's final stdout line
    spark.stop()
    println(compact)
  }
}
