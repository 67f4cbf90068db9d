package graft.tools

import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.curation.{CurationBench, MetaProcess}

/** Composed end-to-end rung (VERDICT r17 #6): the full
  * MetaProcess-with-Sinks loop — curation, triples emission, provenance,
  * JSON-LD storage, SPARQL update rendering, HTTP push to in-process
  * data/prov endpoints — measured as ONE pass at n=100k fresh plus an
  * enrichment batch against the resulting store, so the composition's
  * overhead and shuffle shape are receipt-backed instead of inferred
  * from the parts (SCALE.json's `curation_fresh` rung stops before the
  * sinks; SPARQL_PUSH.json pushes synthetic update strings). Emits
  * `COMPOSED_BENCH.json` with per-leg sec/spill/shuffle and the stub
  * endpoints' arrival accounting (kind counts, delete-before-insert
  * barrier violations, bytes).
  *
  *   runMain graft.tools.ComposedSinksBench [nFresh] [nUpdate]
  */
object ComposedSinksBench {

  private final class Stub {
    val deletes = new AtomicInteger(0)
    val inserts = new AtomicInteger(0)
    val barrierViolations = new AtomicInteger(0)
    val bytes = new AtomicLong(0L)
    private val insertSeen = new AtomicBoolean(false)
    val server: HttpServer = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/sparql", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      bytes.addAndGet(body.length.toLong)
      if (body.startsWith("DELETE")) {
        deletes.incrementAndGet()
        if (insertSeen.get()) barrierViolations.incrementAndGet()
      } else if (body.startsWith("INSERT")) {
        inserts.incrementAndGet()
        insertSeen.set(true)
      }
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    // daemonized pool: a plain fixed pool's non-daemon workers outlive
    // server.stop(0) and pin the JVM open after main returns
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    server.setExecutor(pool)
    server.start()
    /** new batch boundary: the barrier is per-batch */
    def newBatch(): Unit = insertSeen.set(false)
    def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  def main(args: Array[String]): Unit = {
    val nFresh = if (args.length > 0) args(0).toInt else 100000
    val nUpdate = if (args.length > 1) args(1).toInt else 2000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    require(cpus.nonEmpty && cpus.length <= 4 && cpus.forall(_.isDigit) && cpus.toInt > 0)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-composed-sinks-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = graft.obs.StageMetrics.on(spark.sparkContext)

    val work = java.nio.file.Files.createTempDirectory("graft_composed")
    // batch CSVs: generation stays OUTSIDE the timed region, and the run
    // starts from a file scan like the reference's queue
    def writeCsv(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val dir = work.resolve(name + ".d").toString
      df.coalesce(1).write.option("header", "true").option("quoteAll", "true")
        .mode("overwrite").csv(dir)
      val part = new java.io.File(dir).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = work.resolve(name).toString
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dst))
      dst
    }
    val fresh = CurationBench.syntheticRecords(spark, nFresh, partial = false)
    val f1 = writeCsv(fresh, "abatch1.csv")
    // enrichment: a slice of the same records re-submitted with an extra
    // pmid — the adopted-entity update leg with a real (non-empty) delta
    val upd = fresh.limit(nUpdate)
      .withColumn("id", concat(col("id"), lit(" pmid:9"),
        abs(xxhash64(col("id"))) % 1000000))
    val f2 = writeCsv(upd, "zbatch2.csv")

    val data = new Stub; val prov = new Stub
    val rdfDir = work.resolve("rdf").toString
    val updDir = work.resolve("upd").toString
    val sinks = Some(MetaProcess.Sinks(
      rdfDir = Some(rdfDir), updatesDir = Some(updDir),
      endpoint = Some(data.endpoint), provEndpoint = Some(prov.endpoint)))
    try {
      val T0 = "2026-01-01T00:00:00Z"
      listener.reset()
      val t1 = System.nanoTime()
      val st1 = MetaProcess.run(spark, Seq(f1), T0, sinks = sinks)
      val freshSec = (System.nanoTime() - t1) / 1e9
      org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
      val (freshSpill, freshShuffle) = (listener.spillDisk, listener.shuffleWrite)
      val freshTriples = st1.triples.get.count()
      val freshPush = (data.inserts.get(), data.deletes.get(), prov.inserts.get())

      data.newBatch(); prov.newBatch()
      listener.reset()
      val t2 = System.nanoTime()
      val st2 = MetaProcess.run(spark, Seq(f1, f2), "2026-01-02T00:00:00Z",
        state = st1, sinks = sinks)
      val updSec = (System.nanoTime() - t2) / 1e9
      org.apache.spark.GraftSparkInternals.drainListenerBus(spark.sparkContext)
      val out =
        s"""{"metric":"composed_sinks_bench","cpus":$cpus,""" +
          s""""fresh":{"n":$nFresh,"sec":$freshSec,""" +
          s""""rec_per_sec":${math.round(nFresh / freshSec * 10) / 10.0},""" +
          s""""triples":$freshTriples,""" +
          s""""spill_disk":$freshSpill,"shuffle_write":$freshShuffle,""" +
          s""""push_data_inserts":${freshPush._1},"push_data_deletes":${freshPush._2},""" +
          s""""push_prov_inserts":${freshPush._3}},""" +
          s""""update":{"n":$nUpdate,"sec":$updSec,""" +
          s""""rec_per_sec":${math.round(nUpdate / updSec * 10) / 10.0},""" +
          s""""triples":${st2.triples.get.count()},""" +
          s""""spill_disk":${listener.spillDisk},"shuffle_write":${listener.shuffleWrite},""" +
          s""""push_data_inserts":${data.inserts.get() - freshPush._1},""" +
          s""""push_data_deletes":${data.deletes.get() - freshPush._2},""" +
          s""""push_prov_inserts":${prov.inserts.get() - freshPush._3}},""" +
          s""""barrier_violations":${data.barrierViolations.get() + prov.barrierViolations.get()},""" +
          s""""wire_bytes":${data.bytes.get() + prov.bytes.get()},""" +
          """"_note":"Full MetaProcess.run with every sink enabled (JSON-LD out, update files, HTTP push to in-process data/prov stubs): fresh 100k-record batch + an enrichment batch against the resulting store, timed as the user-facing composition (VERDICT r17 #6). Push counts are update-batch arrivals (~100 triples each); barrier = no DELETE after an INSERT within a batch."}"""
      println(out)
      val outPath = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_COMPOSED_OUT", "COMPOSED_BENCH.json"))
        .toAbsolutePath
      try java.nio.file.Files.writeString(outPath, out + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[composed] artifact write FAILED: $e") }
    } finally {
      data.stop(); prov.stop()
    }
    spark.stop()
  }
}
