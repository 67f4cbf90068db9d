package graft

import org.apache.spark.GraftSparkInternals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.StageMetrics

/** The harnesses' shared listener counts what a shuffling job does and
  * starts from zero again after `reset()`. */
class StageMetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("counts jobs, stages and shuffle bytes between resets") {
    val m = StageMetrics.on(spark.sparkContext)
    spark.range(10000).repartition(4, col("id")).groupBy(col("id") % 7).count().collect()
    GraftSparkInternals.drainListenerBus(spark.sparkContext)
    assert(m.jobs >= 1)
    assert(m.stages >= 2, "a shuffle splits the job into map and reduce stages")
    assert(m.shuffleWrite > 0)
    assert(m.peakExecMem > 0, "the aggregation reserves execution memory")
    m.reset()
    assert(Seq(m.jobs, m.stages, m.spillMem, m.spillDisk, m.shuffleWrite,
      m.peakExecMem).forall(_ == 0L))
  }
}
