package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Seed determinism of the generated inputs and a smoke run of every
  * workload on tiny inputs (n = 50, the bundled sf0.001 tables). */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    // deep enough call sites for module attribution, as a traced run sets
    System.setProperty("spark.callstack.depth", "400")
    SparkSession.builder().master("local[2]").appName("workload-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
  }
  private val work = Files.createTempDirectory("perfbench-spec")
  private val tinyData = Paths.get("data", "sf0.001").toAbsolutePath.toString

  override def afterAll(): Unit = spark.stop()

  private def ctx(seed: Long, traced: Boolean, expected: Path, record: Boolean) =
    new Ctx(spark, seed, new Tracer(spark.sparkContext, traced), tinyData,
      expected, record, Files.createTempDirectory(work, "run"))

  test("curation inputs are a function of the seed, and the CSV reads back as written") {
    def rows(seed: Long) =
      graft.curation.CurationBench.syntheticRecords(spark, 50, partial = false, seed = seed).collect().toSeq
    assert(rows(7) == rows(7))
    assert(rows(7) != rows(8))
    assert(rows(7).size == 50)
    val csv = Files.createTempDirectory(work, "csv").resolve("records.csv")
    CurationWorkload.writeCsv(csv, rows(7))
    assert(graft.curation.Curator.readInput(spark, csv.toString).collect().toSeq == rows(7))
  }

  test("the query order is a seeded permutation of the subset") {
    assert(QuerySuiteWorkload.order(3) == QuerySuiteWorkload.order(3))
    assert(QuerySuiteWorkload.order(3) != QuerySuiteWorkload.order(4))
    assert(QuerySuiteWorkload.order(3).sorted == QuerySuiteWorkload.Queries.sorted)
    assert(QuerySuiteWorkload.Queries.toSet.subsetOf(graft.SparkEntry.queries.keySet))
  }

  test("every query maps to an operator module, the ones named in the suite included") {
    val modules = (graft.SparkEntry.queries.keys.toSeq :+ QuerySuiteWorkload.Pipeline)
      .map(QuerySuiteWorkload.moduleOf).toSet
    assert(modules == Layers.QueryModules.toSet)
    assert(QuerySuiteWorkload.Queries.map(QuerySuiteWorkload.moduleOf).toSet ==
      Layers.QueryModules.toSet - "operators.DocumentPipeline")
    assert(QuerySuiteWorkload.moduleOf("q03_join_agg") == "operators.RelationalQueries")
    assert(QuerySuiteWorkload.moduleOf("q22_lsh_match_score_auto") == "operators.TextQueries")
    assert(QuerySuiteWorkload.moduleOf("q38_token_count") == "operators.TextAnalysis")
    assert(QuerySuiteWorkload.moduleOf("q42_neardup_clusters") == "operators.Dedup")
    assert(QuerySuiteWorkload.moduleOf("q43_ann_ivf") == "operators.Similarity")
    assert(QuerySuiteWorkload.moduleOf("q43_ann_ivf_indexed") == "operators.IvfIndex")
  }

  /** Run twice: the first run records the outputs, the second checks them. */
  private def recordThenCheck(run: Ctx => Outcome, traced: Boolean): Outcome = {
    val expected = Files.createTempDirectory(work, "expected")
    val first = run(ctx(11, traced = false, expected, record = true))
    assert(first.failures.isEmpty, first.failures)
    val second = run(ctx(11, traced, expected, record = false))
    assert(second.failures.isEmpty, second.failures)
    assert(second.workS > 0 && second.workCpuS > 0 && second.attempted > 0)
    second
  }

  test("curation smoke run: outputs recorded then checked, jobs attributed to modules") {
    val out = recordThenCheck(CurationWorkload.run(_, 50), traced = true)
    assert(out.layers.map(_.name) == Layers.All)
    val v = out.layers.map(m => m.name -> m.value).toMap
    Seq("curation.MetaProcess", "curation.Curator", "rdf.Serialization", "rdf.SparqlUpdate",
      "rdf.SparqlHttp").foreach(m => assert(v(s"meta.$m.jobs") > 0, m))
    assert(v("meta.other.jobs") == 0)
    assert(v("sinks.push_requests") > 0 && v("sinks.push_failed") == 0)
    assert(v("operators.Dedup.jobs") == 0)
  }

  test("query smoke run: outputs recorded then checked, a wrong digest fails") {
    val qs = Seq("q01_agg", "q31_dedup_ngram_jaccard", "q43_ann_ivf")
    val out = recordThenCheck(QuerySuiteWorkload.run(_, qs), traced = true)
    val v = out.layers.map(m => m.name -> m.value).toMap
    assert(v("operators.Dedup.exec_s") > 0 && v("operators.Dedup.jobs") > 0)
    assert(v("operators.DocumentPipeline.rows_out") > 0)
    assert(v("meta.curation.Curator.jobs") == 0)

    val expected = Files.createTempDirectory(work, "wrong")
    Files.write(expected.resolve("query_suite.tsv"),
      "query\trows\tdigest\tcheck\nq01_agg\t1\t0\texact\n".getBytes("UTF-8"))
    val bad = QuerySuiteWorkload.run(ctx(11, traced = false, expected, record = false), Seq("q01_agg"))
    assert(bad.failures.exists(_.startsWith("q01_agg:")))
    assert(bad.failures.exists(_.startsWith("document_pipeline: no recorded")))
  }
}
