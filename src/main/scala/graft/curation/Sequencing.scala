package graft.curation

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Deterministic global sequence assignment — the Spark-native replacement
  * for the reference's mutable OMID counters (`core/curator.py:1024-1032`,
  * SURVEY §7.4 risk 1).
  *
  * `row_number()` over an unpartitioned window funnels everything through
  * one task; instead we range-repartition on the sort key (partitions are
  * globally ordered), sort within partitions, and use RDD `zipWithIndex`,
  * which computes per-partition offsets with a single O(#partitions)
  * driver round. Deterministic for a total sort key, stable across
  * retries, and scales to any batch size.
  */
object Sequencing {

  /** Batch-size bound under which the lazy single-task window variant is
    * safe: a window sort of this many rows is milliseconds on one task,
    * and per-batch frames (rows, mentions, entities) stay within a small
    * constant factor of the input row count. */
  val LazyWindowMaxRows: Long = 200000L

  /** Appends `indexName` = offset + dense 1-based position of each row in
    * the total order defined by `sortCols` (must be a total order — add a
    * tiebreaker column if needed).
    *
    * LAZY single-partition window implementation: correct at the scale it
    * is used for — per-BATCH entity/mention frames, which are bounded by
    * the curation batch size (one input file), not by corpus size. Being
    * lazy it folds into downstream jobs instead of forcing an eager
    * zipWithIndex job per sequence (the fresh-load pipeline assigns ~6
    * sequences; eager assignment doubled its wall time at small n).
    * For corpus-scale sequences use [[globalSequenceDistributed]]. */
  def globalSequence(df: DataFrame, sortCols: Seq[Column], indexName: String,
      offset: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lit, row_number}
    val w = Window.orderBy(sortCols: _*)
    df.withColumn(indexName, row_number().over(w).cast(LongType) + lit(offset))
  }

  /** Distributed variant for corpus-scale inputs: range-repartition on the
    * sort key (globally ordered partitions) + RDD zipWithIndex (one
    * O(#partitions) driver round). Eager. */
  def globalSequenceDistributed(df: DataFrame, sortCols: Seq[Column], indexName: String,
      offset: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(1, math.min(df.rdd.getNumPartitions,
      spark.sparkContext.defaultParallelism))
    val sorted =
      if (df.isEmpty) df
      else df.repartitionByRange(n, sortCols: _*).sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema.add(indexName, LongType, nullable = false)
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L + offset))
    }
    spark.createDataFrame(indexed, schema)
  }
}
