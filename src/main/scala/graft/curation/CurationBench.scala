package graft.curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.rdf.{StoreViews, TriplesEmitter, Provenance}

/** Curation benchmark mirroring the reference's harness scenarios
  * (`oc_meta/run/benchmark/benchmark.py`, BASELINE.md): synthetic
  * bibliographic records (same field distributions as
  * `generate_benchmark_data.py`, seed 42), a fresh-load phase and an
  * update phase (partial preload, then complete re-processing against the
  * resulting store). Prints one JSON line with throughput per phase.
  *
  *   runMain graft.curation.CurationBench [nRecords]
  */
object CurationBench {

  private val titles = Vector(
    "The impact of machine learning on scientific research",
    "A comprehensive review of climate change models",
    "Novel approaches to protein folding prediction",
    "Statistical methods for large-scale data analysis",
    "Understanding neural network architectures",
    "Advances in quantum computing algorithms",
    "Systematic analysis of gene expression patterns",
    "Deep learning applications in medical imaging",
    "Comparative study of optimization techniques",
    "Theoretical foundations of distributed systems")
  private val authors = Vector(
    "Smith, John [orcid:0000-0001-5000-0007]",
    "Johnson, Emily [orcid:0000-0002-1825-0097]",
    "Williams, David [orcid:0000-0002-9079-593X]",
    "Brown, Sarah [orcid:0000-0001-5109-3700]",
    "Garcia, Maria [orcid:0000-0002-1694-233X]",
    "Chen, Wei [viaf:101826960]",
    "Kumar, Raj [viaf:49230907]",
    "Anderson, Lisa [viaf:64013650]",
    "Martinez, Carlos [viaf:85312226]",
    "Lee, Yuki [viaf:112430248]")
  private val venues = Vector(
    "Nature [issn:0028-0836]", "Science [issn:0036-8075]",
    "Cell [issn:0092-8674]", "The Lancet [issn:0140-6736]",
    "PLOS ONE [issn:1932-6203]", "BMC Biology [issn:1741-7007]",
    "Scientific Reports [issn:2045-2322]", "IEEE Transactions [issn:0018-9340]",
    "ACM Computing Surveys [issn:0360-0300]",
    "Journal of Computational Biology [issn:1066-5277]")
  private val publishers = Vector(
    "Springer Nature [crossref:297]", "Elsevier [crossref:78]",
    "Wiley [crossref:311]", "Oxford University Press [crossref:286]",
    "Cambridge University Press [crossref:56]")
  private val types = Vector("journal article", "review article",
    "research article", "conference paper", "book chapter")

  def syntheticRecords(spark: SparkSession, n: Int, partial: Boolean,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val prefixes = Vector("10.1038", "10.1016", "10.1371", "10.1109", "10.1093")
    val rows = (0 until n).map { i =>
      val doi = f"doi:${prefixes(rnd.nextInt(prefixes.length))}/benchmark.$i%06d"
      val id = if (!partial && rnd.nextDouble() > 0.3)
        s"$doi pmid:${10000000 + rnd.nextInt(30000000)}" else doi
      val nAuth = 1 + rnd.nextInt(5)
      val auth = rnd.shuffle(authors).take(nAuth).mkString("; ")
      val date = f"${2015 + rnd.nextInt(10)}-${1 + rnd.nextInt(12)}%02d"
      val start = 1 + rnd.nextInt(500)
      (id, titles(rnd.nextInt(titles.length)), auth, date,
        if (partial) "" else venues(rnd.nextInt(venues.length)),
        if (partial) "" else (1 + rnd.nextInt(50)).toString,
        if (partial) "" else (1 + rnd.nextInt(12)).toString,
        if (partial) "" else s"$start-${start + 5 + rnd.nextInt(26)}",
        types(rnd.nextInt(types.length)),
        publishers(rnd.nextInt(publishers.length)), "")
    }
    rows.toDF(Validation.InputColumns: _*)
  }

  /** One BR with thousands of authors — the reference's ATLAS-paper skew
    * scenario (`run/benchmark/preload_high_author_data.py`: 2869 authors,
    * same name/ORCID shape). This is the D5 stress case: AR-sequence
    * alignment candidates are per-(BR, role) |authors|², i.e. one
    * 2869²≈8.2M-row candidate bucket on a single key. */
  def highAuthorRecord(spark: SparkSession, numAuthors: Int = 2869): DataFrame =
    highAuthorBatch(spark, nRecords = 1, numAuthors = numAuthors)

  /** `nRecords` distinct high-author BRs in ONE batch (each its own DOI
    * and disjoint author set). One record measures fixed DAG overhead
    * plus one skewed key; a batch of them is where the r8 candidate
    * shape actually hurt — |A|x|S| PER BR — and what the r9 equality
    * re-key is for. */
  def highAuthorBatch(spark: SparkSession, nRecords: Int,
      numAuthors: Int = 2869): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val rows = (0 until nRecords).map { r =>
      val auth = (0 until numAuthors).map { i =>
        val g = r * numAuthors + i
        f"Author_${g + 1}%05d, Test [orcid:0000-000${g / 10000}%1d-${g % 10000}%04d-${1000 + rnd.nextInt(9000)}%04dX]"
      }.mkString("; ")
      (f"doi:10.1140/epjc/s10052-016-4041-$r%d pmid:${28280425 + r}%d",
        f"Probing Lepton Flavour Violation Via Neutrinoless Tau Decays $r%d",
        auth, "2016-04-26", "The European Physical Journal C [issn:1434-6044]",
        "76", "5", "", "journal article",
        "Springer Science And Business Media LLC [crossref:297]", "")
    }
    rows.toDF(Validation.InputColumns: _*)
  }

  private def materialize(b: Curator.CuratedBatch): Long = {
    // force every output frame (the reference measures full curation incl.
    // index building)
    b.rows.count() + b.indexIdBr.count() + b.indexIdRa.count() +
      b.arIndex.count() + b.reIndex.count() + b.vviIndex.count()
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 1000
    val scenario = if (args.length > 1) args(1) else "both"
    // fail fast on a malformed scenario BEFORE Spark startup — in
    // particular "high_author_foo" would otherwise crash mid-bench on
    // stripPrefix(...).toInt
    val HighAuthorX = """high_author_x(\d+)""".r
    scenario match {
      case "fresh" | "update" | "both" | "csvexport" | "checkers" | "high_author" | HighAuthorX(_) => ()
      case other =>
        System.err.println(
          s"usage: CurationBench [n] [fresh|update|both|csvexport|checkers|high_author|high_author_x<N>] (got '$other')")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-curation-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      // NOTE: wide AQE exchanges (initialPartitionNum >> cpus) live in
      // ScaleBench, where 10x-100x frames need them; at this harness's
      // data scale they cost ~1.5x in per-query scheduling overhead
      // (measured 57s -> 85s over the sf0.1 suite) for zero benefit.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fresh-load phase
    var tFresh = 0.0; var entitiesCreated = 0L; var nTriples = 0L; var nProv = 0L
    var tUpdate = 0.0; var nPre = 0L
    if (scenario == "fresh" || scenario == "both") {
    val freshInput = syntheticRecords(spark, n, partial = false)
    // warmup pass: JVM/Catalyst JIT dominates a cold first run at small n;
    // report the warmed measurement like any JVM benchmark (the reference
    // is an interpreter and pays no warmup).
    Curator.curateFresh(syntheticRecords(spark, math.min(n, 100), partial = false))
      .rows.count()
    val t0 = System.nanoTime()
    // materialize reads every CSV frame and emission reads the graph
    // frames, some twice: checkpointed checkpoints each frame on its first
    // read, so each curation DAG executes once (same as the update path)
    val fresh = Curator.curateFresh(freshInput).checkpointed
    materialize(fresh)
    val triples = TriplesEmitter.emit(fresh)
    nTriples = triples.count()
    val prov = Provenance.freshSnapshots(fresh, "2026-01-01T00:00:00Z")
    nProv = prov.count()
    tFresh = (System.nanoTime() - t0) / 1e9
    entitiesCreated = Provenance.allEntities(fresh).count()
    }

    // phase boundary: drop the fresh phase's cache/localCheckpoint
    // residue so the update measurement doesn't depend on what ran before
    // it (same accumulated-storage skew Bench.scala clears per query —
    // measured update 43.6 vs 24.4 rec/s run-to-run without this)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

    // update phase: partial preload becomes the store, complete data re-curated
    if (scenario == "update" || scenario == "both") {
    val partialStoreBatch = Curator.curateFresh(syntheticRecords(spark, n, partial = true))
    val store = StoreViews.fromTriples(TriplesEmitter.emit(partialStoreBatch), "060")
    store.entityIds.cache().count()
    val completeInput = syntheticRecords(spark, n, partial = false)
    // warmup pass mirroring the fresh phase's: the store-join/adoption code
    // paths JIT inside the timed region otherwise (measured update swinging
    // 36-54 rec/s run-to-run with fresh stable — the cold paths are exactly
    // the ones fresh's warmup never touches). The store is immutable, so a
    // warmed curateWithStore leaves no state behind beyond JIT + caches.
    StoreCurator.curateWithStore(
      syntheticRecords(spark, math.min(n, 100), partial = false), store)
      .batch.rows.count()
    val t1 = System.nanoTime()
    val upd = StoreCurator.curateWithStore(completeInput, store)
    materialize(upd.batch)
    nPre = upd.preexisting.count()
    tUpdate = (System.nanoTime() - t1) / 1e9
    }

    // R5 at bench scale: curate n records fresh, emit the store triples,
    // export them back to CSV rows (generate_csv.py's job, 731 LoC) and
    // assert ROW PARITY — every curated work row must round-trip (join on
    // the br omid, no driver-side sets). Timed region = the export only;
    // curation+emission are setup.
    var tExport = 0.0; var nExportRows = 0L; var nExportTriples = 0L
    if (scenario == "csvexport") {
      import org.apache.spark.sql.functions.{col, regexp_extract}
      val fresh = Curator.curateFresh(
        syntheticRecords(spark, n, partial = false)).checkpointed
      materialize(fresh)
      // curated rows can be FEWER than n: rows sharing an external id
      // (synthetic pmid collisions at this n) merge into one entity and
      // collapse to one row (D1 + F6) — parity is against the curated
      // row count, not the input count
      val nCurated = fresh.rows.count()
      val triples = TriplesEmitter.emit(fresh).localCheckpoint()
      nExportTriples = triples.count()
      spark.sharedState.cacheManager.clearCache()
      val t4 = System.nanoTime()
      val exported = graft.rdf.CsvExporter.export(triples).localCheckpoint()
      nExportRows = exported.count()
      tExport = (System.nanoTime() - t4) / 1e9
      val exportedOmids = exported.select(
        regexp_extract(col("id"), "omid:(br/\\d+)", 1).as("br_meta"))
      val matched = fresh.rows.select(col("br_meta"))
        .join(exportedOmids, "br_meta").count()
      require(matched == nCurated,
        s"CSVEXPORT parity failed: $matched of $nCurated curated rows round-tripped")
    }

    // R6 at bench scale: curate n records fresh, emit triples + prov, run
    // the FULL Checkers suite (check_results.py + check_rdf_files.py,
    // ~2900 reference LoC) over the world and report violations + wall
    // time. The checks had only ever run on fixtures; this is the receipt
    // that they hold — and scale — on a bench-sized store. Timed region =
    // the checks only; curation/emission are setup.
    var tCheck = 0.0; var nViolations = -1L
    var nCheckTriples = 0L; var nCheckProv = 0L
    if (scenario == "checkers") {
      val fresh = Curator.curateFresh(
        syntheticRecords(spark, n, partial = false)).checkpointed
      materialize(fresh)
      val triples = TriplesEmitter.emit(fresh).localCheckpoint()
      nCheckTriples = triples.count()
      val prov = Provenance.freshSnapshots(fresh, "2026-01-01T00:00:00Z")
        .localCheckpoint()
      nCheckProv = prov.count()
      spark.sharedState.cacheManager.clearCache()
      val t5 = System.nanoTime()
      val report = graft.rdf.Checkers.checkAll(fresh.rows, triples, prov)
        .localCheckpoint()
      nViolations = report.count()
      tCheck = (System.nanoTime() - t5) / 1e9
      if (nViolations > 0) {
        // diagnostics on stderr; the JSON line stays machine-readable
        report.groupBy("check").count().collect()
          .foreach(r => System.err.println(s"[checkers] ${r.getString(0)}: ${r.getLong(1)}"))
      }
    }

    // high-author skew scenario (preload_high_author_data.py): fresh-load
    // the 2869-author record, then re-process it against the resulting
    // store — the update leg drives the per-(BR, role) quadratic
    // AR-alignment bucket (D5 skew).
    var tHighFresh = 0.0; var tHighUpdate = 0.0; var nHighArs = 0L
    val highRecords =
      if (scenario.startsWith("high_author_x")) scenario.stripPrefix("high_author_x").toInt
      else 1
    if (scenario.startsWith("high_author") || scenario == "both") {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val rec = highAuthorBatch(spark, highRecords)
      val t2 = System.nanoTime()
      val hf = Curator.curateFresh(rec).checkpointed
      materialize(hf)
      tHighFresh = (System.nanoTime() - t2) / 1e9
      nHighArs = hf.roles.count()
      val hstore = StoreViews.fromTriples(TriplesEmitter.emit(hf), "060")
      hstore.entityIds.cache().count()
      val t3 = System.nanoTime()
      val hupd = StoreCurator.curateWithStore(rec, hstore)
      materialize(hupd.batch)
      tHighUpdate = (System.nanoTime() - t3) / 1e9
    }

    // a scenario's keys appear ONLY when it ran — an unconditional 0.0 is
    // indistinguishable from a measured ~0s run in round-over-round
    // artifact comparisons
    val parts = Seq(s""""metric":"curation_bench"""", s""""records":$n""") ++
      (if (scenario == "fresh" || scenario == "both") Seq(
        s""""fresh_sec":$tFresh""",
        s""""fresh_rec_per_sec":${if (tFresh > 0) n / tFresh else 0}""",
        s""""entities_created":$entitiesCreated""", s""""triples":$nTriples""",
        s""""prov_snapshots":$nProv""") else Seq.empty) ++
      (if (scenario == "update" || scenario == "both") Seq(
        s""""update_sec":$tUpdate""",
        s""""update_rec_per_sec":${if (tUpdate > 0) n / tUpdate else 0}""",
        s""""preexisting_adopted":$nPre""") else Seq.empty) ++
      (if (scenario == "checkers") Seq(
        s""""checkers_sec":$tCheck""",
        s""""checkers_violations":$nViolations""",
        s""""checkers_triples":$nCheckTriples""",
        s""""checkers_prov_snapshots":$nCheckProv""",
        "\"checkers_note\":\"local[" + cpus + "], " +
          sys.env.getOrElse("SPARK_DRIVER_MEM", "8g") + " driver. " +
          "Full Checkers.checkAll suite (7 batch checks: id existence, omid " +
          "ownership, entity existence, provenance presence, open-snapshot " +
          "invariant, datatype validity, misplaced editor ARs - standing in " +
          "for check_results.py + check_rdf_files.py, ~2900 reference LoC) " +
          "over the n-record fresh-curation world; timed region = the " +
          "checks only, curation/emission are setup. violations=0 == the " +
          "batch passes every check at this scale.\"") else Seq.empty) ++
      (if (scenario == "csvexport") Seq(
        s""""csvexport_sec":$tExport""",
        s""""csvexport_rows":$nExportRows""",
        s""""csvexport_triples":$nExportTriples""",
        s""""csvexport_rows_per_sec":${if (tExport > 0) nExportRows / tExport else 0}""",
        s""""csvexport_parity":"pass"""") else Seq.empty) ++
      (if (scenario.startsWith("high_author") || scenario == "both") Seq(
        s""""high_author_records":$highRecords""",
        s""""high_author_fresh_sec":$tHighFresh""",
        s""""high_author_update_sec":$tHighUpdate""",
        s""""high_author_ars":$nHighArs""") else Seq.empty)
    println(parts.mkString("{", ",", "}"))
    // the checkers scenario is a committed receipt (CHECKERS.json, like
    // SCALE.json/CSVEXPORT.json) — write the artifact directly so a
    // truncated stdout can't lose the run
    if (scenario == "checkers") {
      val outPath = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_CHECKERS_OUT", "CHECKERS.json")).toAbsolutePath
      try {
        java.nio.file.Files.writeString(outPath, parts.mkString("{", ",", "}") + "\n")
        System.err.println(s"[checkers] artifact written to $outPath")
      } catch { case e: Throwable =>
        System.err.println(s"[checkers] artifact write to $outPath FAILED: $e") }
    }
    spark.stop()
  }
}
