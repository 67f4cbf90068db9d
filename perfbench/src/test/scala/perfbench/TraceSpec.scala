package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("coveredWithin unions overlapping intervals and clips them to the window") {
    assert(Intervals.coveredWithin(0, 100, Nil) == 0)
    assert(Intervals.coveredWithin(0, 100, Seq((10, 20), (15, 30), (50, 60))) == 30)
    assert(Intervals.coveredWithin(0, 100, Seq((-10, 5), (95, 200))) == 10)
    assert(Intervals.coveredWithin(0, 100, Seq((40, 50), (10, 20))) == 20)
    assert(Intervals.coveredWithin(0, 100, Seq((10, 90), (20, 30))) == 80)
    assert(Intervals.coveredWithin(0, 100, Seq((200, 300))) == 0)
  }

  test("each job is assigned to the innermost span open when it started") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      spark.range(10).count() // outside every span
      tracer.span("outer") {
        spark.range(100).count()
        tracer.span("inner")(spark.range(1000).count())
        spark.range(10).count()
      }
      val (spans, jobs) = tracer.finish()
      val idOf = spans.map(s => s.name -> s.id).toMap
      assert(spans.map(_.name).toSet == Set("outer", "inner"))
      assert(spans.find(_.name == "inner").get.parent == idOf("outer"))
      val bySpan = jobs.groupBy(_.span).map { case (k, v) => k -> v.size }
      assert(bySpan(-1) >= 1)
      assert(bySpan(idOf("outer")) >= 2)
      assert(bySpan(idOf("inner")) >= 1)
      assert(jobs.forall(j => j.endMs >= j.startMs && j.busyMs >= 0))
      assert(jobs.map(_.busyMs).sum > 0)
    } finally spark.stop()
  }

  test("an untraced run records nothing") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec-off")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val tracer = new Tracer(spark.sparkContext, enabled = false)
      assert(tracer.span("x")(spark.range(5).count()) == 5)
      val (spans, jobs) = tracer.finish()
      assert(spans.isEmpty && jobs.isEmpty)
    } finally spark.stop()
  }

  test("a call site goes to the innermost frame of a listed module") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:3615)",
      "graft.curation.Ck$RichDF.localCheckpointClamped(Ck.scala:17)",
      "graft.rdf.SparqlHttp$.$anonfun$push$2(SparqlHttp.scala:117)",
      "graft.curation.MetaProcess$.run(MetaProcess.scala:210)").mkString("\n")
    assert(Layers.moduleOf(site) == "rdf.SparqlHttp")
    assert(Layers.moduleOf(site.linesIterator.toSeq.patch(2, Nil, 1).mkString("\n")) == "curation.MetaProcess")
    assert(Layers.moduleOf("graft.curation.Sequencing$.apply(Sequencing.scala:9)\n" +
      "graft.curation.Curator$.curateFresh(Curator.scala:40)") == "curation.Curator")
    assert(Layers.moduleOf("perfbench.Main$.main(Main.scala:1)") == "other")
    assert(Layers.moduleOf("") == "other")
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("the per-layer names match BENCHMARK.json") {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val names = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(perLayer).map(_.group(1)).toSet
    assert(names == Layers.All.toSet + "trace_overhead_frac")
  }
}
