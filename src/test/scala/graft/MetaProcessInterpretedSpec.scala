package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.curation.{CurationBench, MetaProcess, Validation}

/** `MetaProcess.run` runs the plans of a small file interpreted and then
  * puts the two session settings back. The interpreted run must give what
  * the same per-file loop gives in the session's default code-generating
  * mode, on both branches: a partial preload as the first file (fresh
  * world), then the complete records against the store it built (update
  * branch), as in CurationBench's update scenario, with the JSON-LD and
  * update-file sinks on. Input: 60 synthetic records per file, no fixture
  * outside the repo. */
class MetaProcessInterpretedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val T0 = "2026-01-01T00:00:00Z"
  val Keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

  /** The partial and the complete file, in queue order. */
  lazy val queue: Seq[String] = {
    def q(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    val dir = Files.createTempDirectory("graft_interpreted")
    for ((name, partial) <- Seq("1_partial.csv" -> true, "2_complete.csv" -> false)) yield {
      val rows = CurationBench.syntheticRecords(spark, 60, partial, seed = 42L)
        .collect().toSeq
      val lines = Validation.InputColumns.mkString(",") +:
        rows.map(_.toSeq.map(v => q(String.valueOf(v))).mkString(","))
      val p = dir.resolve(name)
      Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
      p.toString
    }
  }

  /** The keys of [[Keys]] that are set on the session, with their values. */
  private def settings: Map[String, String] = spark.conf.getAll.filter(kv => Keys.contains(kv._1))

  /** A JSON-LD and an update-file sink, both under a new temp dir. */
  private def fileSinks(): (Path, Option[MetaProcess.Sinks]) = {
    val root = Files.createTempDirectory("graft_sinks")
    (root, Some(MetaProcess.Sinks(rdfDir = Some(root.resolve("rdf").toString),
      updatesDir = Some(root.resolve("upd").toString))))
  }

  /** The lines of the data files under `root`, sorted, by their directory
    * relative to `root` (part-file names are not compared). */
  private def writtenUnder(root: Path): Map[String, Seq[String]] =
    Files.walk(root).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("[._].*"))
      .groupBy(p => root.relativize(p.getParent).toString)
      .map { case (d, ps) => d -> ps.flatMap(Files.readAllLines(_, UTF_8).asScala).sorted }

  private def assertSameRows(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.exceptAll(want).count() == 0, s"$what: rows missing from the codegen run")
    assert(want.exceptAll(got).count() == 0, s"$what: rows missing from the interpreted run")
  }

  test("the update branch gives the same triples, provenance, counters and sink files interpreted") {
    val files = queue
    val (interpretedOut, interpretedSinks) = fileSinks()
    val (codegenOut, codegenSinks) = fileSinks()
    val interpreted = MetaProcess.run(spark, files, T0, sinks = interpretedSinks)
    assert(settings.isEmpty, "run must leave both settings unset")
    val codegen = MetaProcess.runFiles(spark, files, T0, MetaProcess.Empty, "060",
      persistTo = None, sinks = codegenSinks, interpret = _ => false)

    assert(interpreted.done == files.toSet && codegen.done == files.toSet)
    assert(codegen.triples.get.count() > 0 && codegen.prov.get.count() > 0)
    assertSameRows("triples", interpreted.triples.get, codegen.triples.get)
    assertSameRows("prov", interpreted.prov.get, codegen.prov.get)
    assert(interpreted.counters == codegen.counters)
    val written = writtenUnder(codegenOut)
    assert(written.keySet.exists(_.startsWith("upd/2_complete/data")),
      s"no update files for the second file: ${written.keySet}")
    assert(writtenUnder(interpretedOut) == written, "sink files differ")
  }

  test("run puts both settings back as the caller had them, also when it throws") {
    val missing = Files.createTempDirectory("graft_missing").resolve("absent.csv").toString
    // a state with triples but no provenance throws while the file is
    // processed interpreted
    val broken = MetaProcess.PipelineState(Some(spark.range(1).toDF()), None, Map.empty, Set.empty)
    for (caller <- Seq(Map(Keys(0) -> "true"), Map(Keys(1) -> "FALLBACK"),
        Map(Keys(0) -> "true", Keys(1) -> "CODEGEN_ONLY"))) {
      Keys.foreach(spark.conf.unset)
      caller.foreach { case (k, v) => spark.conf.set(k, v) }
      val e = intercept[Exception](MetaProcess.run(spark, Seq(missing), T0))
      assert(e.getMessage.contains("absent.csv"), e.getMessage)
      assert(settings == caller, "after a run on a missing file")
      val e2 = intercept[IllegalStateException](
        MetaProcess.run(spark, queue.take(1), T0, state = broken))
      assert(e2.getMessage.contains("no prov"), e2.getMessage)
      assert(settings == caller, "after a run that threw while interpreted")
      MetaProcess.run(spark, Seq.empty, T0)
      assert(settings == caller, "after a run with nothing to do")
    }
    Keys.foreach(spark.conf.unset)
  }

  test("a file above InterpretedMaxBytes keeps generated code") {
    assert(MetaProcess.interprets(spark, queue.head))
    val dir = Files.createTempDirectory("graft_sizes")
    for ((name, bytes, want) <- Seq(("at.csv", MetaProcess.InterpretedMaxBytes, true),
        ("above.csv", MetaProcess.InterpretedMaxBytes + 1, false))) {
      val f = new java.io.RandomAccessFile(dir.resolve(name).toFile, "rw")
      try f.setLength(bytes) finally f.close()
      assert(MetaProcess.interprets(spark, dir.resolve(name).toString) == want, name)
    }
  }
}
