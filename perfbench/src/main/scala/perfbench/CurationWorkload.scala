package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

import graft.curation.{CurationBench, MetaProcess, Validation}
import graft.rdf.Checkers

/** In-process SPARQL UPDATE endpoint that counts what arrives. A body
  * that is neither a DELETE nor an INSERT is refused with 400. */
final class StubEndpoint(threads: Int) {
  val deletes = new AtomicLong
  val inserts = new AtomicLong
  val failed = new AtomicLong
  val bytes = new AtomicLong
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads,
    (r: Runnable) => { val t = new Thread(r, "perfbench-stub"); t.setDaemon(true); t })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/sparql", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    bytes.addAndGet(body.getBytes(UTF_8).length.toLong)
    val code =
      if (body.startsWith("DELETE")) { deletes.incrementAndGet(); 200 }
      else if (body.startsWith("INSERT")) { inserts.incrementAndGet(); 200 }
      else { failed.incrementAndGet(); 400 }
    ex.sendResponseHeaders(code, -1)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
  def requests: Long = deletes.get + inserts.get + failed.get
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** `curation_1k`: the reference harness's fresh-load scenario at n = 1000
  * (`CurationBench.syntheticRecords(1000, seed)`) as the reference runs it:
  * through the user-facing `MetaProcess.run`, as the first file of a queue,
  * with every sink on. `MetaProcess` curates the file (`Curator`), emits
  * the triples (`TriplesEmitter`) and their fresh provenance
  * (`Provenance`), writes JSON-LD (`Serialization`) and SPARQL update files
  * (`SparqlUpdate`) and pushes the updates (`SparqlHttp`) to in-process
  * data and provenance endpoints. The run is cold, as a `MetaProcessJob`
  * process is: nothing runs before the timed call but the session start
  * and writing the input file. */
object CurationWorkload {
  val N = 1000
  val Prefix = "060"
  val GeneratedAt = "2026-01-01T00:00:00Z"

  /** Write rows as a CSV file `Curator.readInput` reads: a header line,
    * every field quoted, quotes doubled. */
  def writeCsv(path: Path, rows: Seq[Row]): Unit = {
    def q(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    Files.createDirectories(path.getParent)
    val lines = Validation.InputColumns.mkString(",") +:
      rows.map(_.toSeq.map(v => q(String.valueOf(v))).mkString(","))
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def run(ctx: Ctx): Outcome = run(ctx, N)

  def run(ctx: Ctx, n: Int): Outcome = {
    import ctx.{spark, tracer}
    // the data endpoint and the provenance endpoint
    val endpoints @ Seq(dataEp, provEp) = Seq.fill(2)(new StubEndpoint(ctx.threads))
    try {
      val file = ctx.setup {
        val f = ctx.workDir.resolve("queue").resolve("records.csv")
        writeCsv(f, CurationBench.syntheticRecords(spark, n, partial = false, seed = ctx.seed).collect().toSeq)
        f
      }
      val out = ctx.workDir.resolve("sinks")
      val sinks = MetaProcess.Sinks(
        rdfDir = Some(out.resolve("rdf").toString),
        updatesDir = Some(out.resolve("updates").toString),
        endpoint = Some(dataEp.url), provEndpoint = Some(provEp.url))
      val clock = new Stopwatch
      val state = tracer.span("curation.MetaProcess.run") {
        MetaProcess.run(spark, Seq(file.toString), GeneratedAt, prefix = Prefix, sinks = Some(sinks))
      }
      val (workS, cpuS) = (clock.wallS, clock.cpuS)
      ctx.log(f"MetaProcess.run $workS%.3f s")

      val (triples, prov) = (state.triples.get, state.prov.get)
      val violations = Seq(Checkers.missingProvenance(triples, prov),
        Checkers.openSnapshotInvariant(prov), Checkers.invalidDatatypes(triples),
        Checkers.misplacedEditorArs(triples))
        .reduce(_ unionByName _).groupBy("check").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").toSeq
      val counts = Seq(prov.select("entity").distinct().count(), triples.count(), prov.count(),
        state.counters.values.sum, dataEp.deletes.get, dataEp.inserts.get, provEp.requests)
      val refused = endpoints.map(_.failed.get).sum
      val failures = Checks.curation(ctx, counts) ++
        Seq((violations.isEmpty, s"Checkers violations: ${violations.mkString(", ")}"),
          (refused == 0, s"$refused push requests refused"))
          .collect { case (false, msg) => s"curation_1k: $msg" }
      val pushes = endpoints.map(_.requests).sum

      val (spans, jobs) = tracer.finish()
      val layers = if (!tracer.enabled) Nil else {
        // MetaProcess.run is one call: each of its jobs goes to the module
        // of the innermost program frame of its call site
        val moduleMetrics = Layers.MetaModules.flatMap { m =>
          val mine = jobs.filter(j => j.span >= 0 && j.module == m)
          Seq("job_s" -> mine.map(_.seconds).sum, "jobs" -> mine.size.toDouble,
            "busy_s" -> mine.map(_.busyMs).sum / 1e3,
            "shuffle_write_bytes" -> mine.map(_.shuffleWriteBytes).sum.toDouble)
            .map { case (f, v) => s"meta.$m.$f" -> v }
        }
        val span = spans.head
        val (lo, hi) = (tracer.epochMs(span.startNs), tracer.epochMs(span.endNs))
        val timed = jobs.filter(_.span == span.id)
        Layers.complete((moduleMetrics ++ Seq(
          // time inside the call that no Spark job covers
          "meta.driver_s" -> ((hi - lo) - Intervals.coveredWithin(lo, hi,
            timed.map(j => (j.startMs, j.endMs)))) / 1e3,
          "meta.core_util" -> timed.map(_.busyMs).sum / 1e3 / (span.seconds * ctx.threads),
          "sinks.push_requests" -> pushes.toDouble,
          "sinks.push_failed" -> refused.toDouble,
          "sinks.wire_bytes" -> endpoints.map(_.bytes.get).sum.toDouble,
          "sinks.stored_bytes_per_triple" -> dirBytes(out).toDouble / counts(1))).toMap)
      }
      Outcome(workS, cpuS, attempted = 1 + pushes.toInt, failures, layers,
        detail = ("rec_per_s" -> n / workS) +:
          Checks.CurationCounts.zip(counts.map(_.toDouble)))
    } finally endpoints.foreach(_.stop())
  }
}
