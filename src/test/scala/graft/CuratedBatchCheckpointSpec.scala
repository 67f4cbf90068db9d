package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.GraftSparkInternals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.curation.{CurationBench, Curator, MetaProcess, Validation}
import graft.obs.StageMetrics
import graft.rdf.{Provenance, TriplesEmitter}

/** `CuratedBatch.checkpointed` checkpoints each frame on its first read:
  * calling it starts no Spark job, the first read of a frame runs that
  * frame's jobs, a second read runs none. A fresh `MetaProcess.run`, which
  * reads only the graph frames, must give the same triples, provenance and
  * counters as the eager composition over a batch whose every frame was
  * read, and runs its plans interpreted, compiling next to no generated
  * code. Input: 50 synthetic records, no fixture outside the repo. */
class CuratedBatchCheckpointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val T0 = "2026-01-01T00:00:00Z"

  /** 50 synthetic records as a CSV file `Curator.readInput` reads. */
  lazy val inputFile: String = {
    def q(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    val rows = CurationBench.syntheticRecords(spark, 50, partial = false, seed = 7L)
      .collect().toSeq
    val lines = Validation.InputColumns.mkString(",") +:
      rows.map(_.toSeq.map(v => q(String.valueOf(v))).mkString(","))
    val p = Files.createTempDirectory("graft_lazy_ck").resolve("records.csv")
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    p.toString
  }

  private lazy val metrics: StageMetrics = StageMetrics.on(spark.sparkContext)

  /** Spark jobs started while evaluating `body`. */
  private def jobsOf[T](body: => T): (T, Long) = {
    GraftSparkInternals.drainListenerBus(spark.sparkContext)
    val before = metrics.jobs
    val r = body
    GraftSparkInternals.drainListenerBus(spark.sparkContext)
    (r, metrics.jobs - before)
  }

  private def allFrames(b: Curator.CuratedBatch): Seq[DataFrame] =
    Seq(b.rows, b.indexIdBr, b.indexIdRa, b.arIndex, b.reIndex, b.vviIndex,
      b.entities, b.entityIds, b.roles, b.raNames, b.pages, b.partOf,
      b.explicitRefs, b.rowProp)

  private def assertSameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.exceptAll(want).count() == 0, s"$what: rows missing from the eager run")
    assert(want.exceptAll(got).count() == 0, s"$what: rows missing from MetaProcess.run")
  }

  // first in the suite: a generated class compiled by an earlier test
  // would be a cache hit here, not a compile
  test("a fresh MetaProcess.run starts fewer than 50 Janino compiles") {
    val in = inputFile
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    MetaProcess.run(spark, Seq(in), T0)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles < 50, s"$compiles generated classes compiled")
  }

  test("checkpointed starts no job; a frame's first read runs its jobs, a second read none") {
    val b = Curator.curateFresh(Curator.readInput(spark, inputFile))
    val (cb, atCall) = jobsOf(b.checkpointed)
    assert(atCall == 0, "checkpointed must not start a job")
    for ((name, read) <- Seq[(String, Curator.CuratedBatch => DataFrame)](
        "rows" -> (_.rows), "entities" -> (_.entities), "vviIndex" -> (_.vviIndex))) {
      val (first, atFirst) = jobsOf(read(cb))
      assert(atFirst > 0, s"first read of $name must checkpoint it")
      val (second, atSecond) = jobsOf(read(cb))
      assert(atSecond == 0, s"second read of $name must start no job")
      assert(first eq second, s"$name must be checkpointed once")
    }
  }

  test("fresh MetaProcess.run equals the eager composition over every frame") {
    val rdfDir = Files.createTempDirectory("graft_lazy_rdf")
    val updDir = Files.createTempDirectory("graft_lazy_upd")
    val st = MetaProcess.run(spark, Seq(inputFile), T0,
      sinks = Some(MetaProcess.Sinks(rdfDir = Some(rdfDir.toString),
        updatesDir = Some(updDir.toString))))

    val b = Curator.curateFresh(Curator.readInput(spark, inputFile)).checkpointed
    allFrames(b).foreach(_.count())
    val triples = TriplesEmitter.emit(b)
    val prov = Provenance.freshSnapshots(b, T0)
    val counters = graft.operators.Tools
      .regenerateCounters(Provenance.allEntities(b), "060")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap

    assert(triples.count() > 0 && prov.count() > 0)
    assertSameRows("triples", st.triples.get, triples)
    assertSameRows("prov", st.prov.get, prov)
    assert(st.counters == counters)
    for (d <- Seq(rdfDir.resolve("records/data"), rdfDir.resolve("records/prov"),
        updDir.resolve("records/data"), updDir.resolve("records/prov")))
      assert(Files.isDirectory(d), s"sink output $d missing")
  }
}
