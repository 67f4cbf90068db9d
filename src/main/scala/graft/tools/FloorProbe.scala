package graft.tools

import org.apache.spark.sql.SparkSession

/** r19 floor-decomposition probe (VERDICT r18 "Next round" #9): the bench
  * shows ~34 of 65 queries pinned at a ~1 s floor that does not
  * parallelize (c8/c32 >= 0.85). This probe splits that second into its
  * parts for a representative set of cheap queries:
  *
  *   construct — SparkEntry.queries(name)(spark, sfDir) returning the
  *               DataFrame (analysis + any eager work a query does at
  *               construction, e.g. cache counts / eager checkpoints);
  *   plan      — forcing queryExecution.executedPlan (optimize+physical);
  *   exec1     — first executedPlan.execute().count() (codegen compile +
  *               jobs);
  *   exec2     — re-CONSTRUCTED query executed again in-session (warm
  *               codegen cache for identical generated sources, warm AQE
  *               paths — the steady-state per-query cost);
  *   jobs/stages — Spark job + stage counts of exec1 (AQE stage
  *               scheduling rounds).
  *
  * The repo's one per-query profiling main. Tooling only — never a
  * query path.
  *
  *   runMain graft.tools.FloorProbe [sfDir] [q1,q2,...]
  *   (local[SPARK_GRAFT_CPUS], default: the host's core count) */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val queries: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("q02_filter_project", "q04_semi_join", "q05_anti_join",
        "q08_distinct_count", "q13_regex_extract", "q14_date_trunc",
        "q15_topk_per_group", "q20_first_nonempty", "q30_dedup_exact",
        "q38_token_count", "q41_binary_meta", "q46_hash_sample",
        "q47_vocab_topk", "q53_corpus_stats", "q58_unigram_logprob",
        "q59_sequence_packing")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val metrics = graft.obs.StageMetrics.on(spark.sparkContext)

    def clearStorage(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // warmup, as the bench does
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try graft.Tables.table(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    try graft.SparkEntry.queries("q02_filter_project")(spark, sfDir).count()
    catch { case _: Throwable => () }

    println(f"${"query"}%-26s ${"constr"}%8s ${"plan"}%8s ${"exec1"}%8s ${"exec2"}%8s ${"total1"}%8s jobs stages")
    for (name <- queries) {
      val fn = graft.SparkEntry.queries(name)
      clearStorage()
      org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
      metrics.reset()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.queryExecution.executedPlan.execute().count()
      val t3 = System.nanoTime()
      org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
      val (j1, s1) = (metrics.jobs, metrics.stages)
      // steady-state: fresh construction, warm session
      clearStorage()
      val t4 = System.nanoTime()
      val df2 = fn(spark, sfDir)
      df2.queryExecution.executedPlan.execute().count()
      val t5 = System.nanoTime()
      def s(a: Long, b: Long) = (b - a) / 1e9
      println(f"$name%-26s ${s(t0, t1)}%8.3f ${s(t1, t2)}%8.3f ${s(t2, t3)}%8.3f ${s(t4, t5)}%8.3f ${s(t0, t3)}%8.3f $j1%4d $s1%6d")
    }
    spark.stop()
  }
}
