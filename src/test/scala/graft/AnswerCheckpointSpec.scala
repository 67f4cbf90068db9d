package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** r19 (VERDICT r18 #7): pins that the PRODUCTION plan of an answer-mass
  * query really carries the eager checkpoint — i.e. the final sort reads
  * a materialized `Scan ExistingRDD`, not the recomputable pipeline.
  * ExplainAuditSpec runs wholly under Answer.planAuditBypass (it grades
  * the working pipeline), so without this spec a silent revert of
  * Answer.sorted to the double-computing orderBy would pass every test.
  * Covers the edit-distance join (q19), the LSH-fronted match (q22) and
  * the SimHash dedup (q33).
  */
class AnswerCheckpointSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  /** Every node of the plan, through adaptive wrappers and into
    * subquery plans. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val expanded = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    expanded +: (expanded.children ++ expanded.subqueries).flatMap(allNodes)
  }

  for (query <- Seq("q19_levenshtein", "q22_lsh_match_score", "q33_dedup_simhash")) {
    val short = query.takeWhile(_ != '_')
    test(s"production $short final sort scans the checkpointed answer (ExistingRDD)") {
      assert(!graft.operators.Answer.planAuditBypass,
        "spec must observe the production path")
      // constructing the query executes the pipeline (the checkpoint is
      // eager by design); sf0.001 keeps that cheap
      val df = SparkEntry.queries(query)(spark, dir)
      val nodes = allNodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortExec]), "final sort missing")
      assert(nodes.exists(_.isInstanceOf[RDDScanExec]),
        "expected the final sort to read the eager localCheckpoint " +
          "(Scan ExistingRDD) — Answer.sorted may have silently reverted " +
          "to the double-computing plain orderBy")
      // and the checkpoint truncated the lineage: no file scan and no
      // join (the verify stage the checkpoint keeps from re-running)
      // survives in the as-constructed plan, subqueries included. A
      // pipeline whose inputs are all cached has no file scan left, so
      // the join check is the one that sees q22's revert.
      assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
        "as-constructed plan still scans the input files above the sort")
      assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]),
        "as-constructed plan still contains the pipeline's joins above the sort")
    }
  }
}
