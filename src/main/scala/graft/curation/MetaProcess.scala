package graft.curation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rdf.{Provenance, Serialization, SparqlHttp, SparqlUpdate,
  StoreViews, TriplesEmitter, Vocab}
import graft.curation.Ck._

/** `run/meta_process.py` — the reference's primary entry point: process a
  * sorted queue of input CSVs against an EVOLVING store, with a done-cache
  * so an interrupted run resumes where it stopped (`init_cache`,
  * meta_process.py:182-193) and counters that carry across batches (the
  * counter-handler flush, :599).
  *
  * The per-file loop is inherently sequential — file N must curate
  * against the store as of file N-1, the same invariant the reference
  * holds — but it is a loop over FILES (driver state = one done-set and a
  * per-kind counter map), while everything inside a file is the
  * distributed [[Curator]]/[[StoreCurator]] batch. Store evolution is the
  * oc_ocdm overlay: a batch's emitted subjects replace their old graphs,
  * untouched subjects persist; provenance upserts a "modified" snapshot
  * for entities whose graph actually changed, a creation snapshot for new
  * ones, and leaves unchanged entities' chains alone.
  */
object MetaProcess {

  /** Evolving pipeline state between batches. `triples`/`prov` are None
    * before the first batch. Persist `done` (the reference's cache.txt)
    * and the parquet frames to make a run resumable across processes. */
  final case class PipelineState(
      triples: Option[DataFrame],
      prov: Option[DataFrame],
      counters: Map[String, Long],
      done: Set[String])

  val Empty: PipelineState = PipelineState(None, None, Map.empty, Set.empty)

  /** Per-batch output sinks — the reference's `store_data_and_prov`
    * lifecycle (`meta_process.py:399-461`: per batch, store the data and
    * prov graphs as JSON-LD files, generate SPARQL update files, and
    * upload them, deletes before inserts). Every piece existed standalone
    * ([[Serialization.writeJsonLd]] S9, [[SparqlUpdate]]/[[SparqlHttp]]
    * S5); this composes them into the per-file loop so one MetaProcessJob
    * invocation runs the reference's whole cycle. All sinks are batch-
    * scoped: the JSON-LD is the batch's touched graphs (data) and its
    * new/changed snapshots (prov), the updates are the batch's exact
    * triple delta — never a re-emission of the whole store.
    *
    * @param rdfDir      JSON-LD out: `<dir>/<file-stem>/{data,prov}/...`
    * @param updatesDir  SPARQL update files: `<dir>/<file-stem>/{data,prov}/kind=...`
    * @param endpoint    HTTP SPARQL UPDATE endpoint for the data delta
    * @param provEndpoint endpoint for the prov delta (the reference keeps
    *   a separate provenance triplestore URL)
    * @param graph       named graph for the update batches */
  final case class Sinks(
      rdfDir: Option[String] = None,
      updatesDir: Option[String] = None,
      endpoint: Option[String] = None,
      provEndpoint: Option[String] = None,
      graph: String = Vocab.BaseIri + "/",
      batchTriples: Int = 100) {
    def enabled: Boolean =
      rdfDir.nonEmpty || updatesDir.nonEmpty ||
        endpoint.nonEmpty || provEndpoint.nonEmpty
  }

  private def fileStem(f: String): String = {
    val base = f.substring(f.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** Sink directory names per input file. Plain stems except when two
    * queue files share a basename stem (possible via the run() API with
    * files from different directories — ADVICE r17: same-stem batches
    * overwrote each other's JSON-LD/update artifacts): colliding stems
    * get a short full-path hash suffix, deterministic across resumes so
    * a re-pushed batch still overwrites ITS OWN directory. */
  private def sinkNames(files: Seq[String]): Map[String, String] = {
    val byStem = files.groupBy(fileStem)
    def pathHash(f: String): String = {
      val c = new java.util.zip.CRC32
      c.update(f.getBytes("UTF-8"))
      f"${c.getValue}%08x"
    }
    files.map { f =>
      val stem = fileStem(f)
      f -> (if (byStem(stem).size == 1) stem else s"$stem-${pathHash(f)}")
    }.toMap
  }

  /** Fail the run when any update batch permanently failed — the
    * reference raises on a non-zero uploader exit code. The push itself
    * already retried transients ([[SparqlHttp.postOne]]). */
  private def pushOrThrow(updates: DataFrame, endpoint: String,
      what: String): Unit = {
    val failed = SparqlHttp.push(updates, endpoint).filter(r => !r.ok).collect()
    if (failed.nonEmpty)
      throw new RuntimeException(
        s"$what upload failed for ${failed.length} update batch(es) at " +
          s"$endpoint: " + failed.take(3)
            .map(r => s"${r.kind}@${r.code} ${r.error}").mkString("; "))
  }

  private def emitSinks(sinks: Sinks, name: String, dataGraphs: DataFrame,
      adds: DataFrame, dels: DataFrame, provDelta: DataFrame): Unit = {
    // Each rendering materializes (localCheckpoint: multiple consumers
    // must not recompute the batch-scoped delta plans) — but ONLY when a
    // configured sink actually consumes it (ADVICE r17: an endpoint-only
    // config used to render and checkpoint the full prov update strings
    // it never wrote or pushed, and vice versa).
    val needProvT = sinks.rdfDir.nonEmpty || sinks.updatesDir.nonEmpty ||
      sinks.provEndpoint.nonEmpty
    val provT = if (needProvT)
      Provenance.provTriples(provDelta).localCheckpointClamped() else null
    sinks.rdfDir.foreach { d =>
      Serialization.writeJsonLd(dataGraphs, s"$d/$name/data")
      Serialization.writeJsonLd(provT, s"$d/$name/prov")
    }
    if (sinks.updatesDir.nonEmpty || sinks.endpoint.nonEmpty) {
      val dataUpdates = SparqlUpdate
        .updateStrings(adds, dels, sinks.graph, sinks.batchTriples)
        .localCheckpointClamped()
      sinks.updatesDir.foreach(d =>
        SparqlUpdate.writeStrings(dataUpdates, s"$d/$name/data"))
      sinks.endpoint.foreach(pushOrThrow(dataUpdates, _, s"[$name] data"))
    }
    if (sinks.updatesDir.nonEmpty || sinks.provEndpoint.nonEmpty) {
      // prov is SCD2 add-only: closing a snapshot ADDS its
      // invalidatedAtTime triple, so the prov delta is pure INSERT
      val provUpdates = SparqlUpdate
        .updateStrings(provT, provT.limit(0), sinks.graph, sinks.batchTriples)
        .localCheckpointClamped()
      sinks.updatesDir.foreach(d =>
        SparqlUpdate.writeStrings(provUpdates, s"$d/$name/prov"))
      sinks.provEndpoint.foreach(pushOrThrow(provUpdates, _, s"[$name] provenance"))
    }
  }

  private def snapUri(entity: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column) =
    concat(lit(Vocab.BaseIri + "/"), entity, lit("/prov/se/"), n)

  /** Advance the per-kind counters past the batch's minted metas (a
    * one-column frame of entity metas). */
  private def countersOf(metas: DataFrame, prefix: String,
      prev: Map[String, Long]): Map[String, Long] = {
    val batchMax = graft.operators.Tools
      .regenerateCounters(metas, prefix)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    (prev.keySet ++ batchMax.keySet).map { k =>
      k -> math.max(prev.getOrElse(k, 0L), batchMax.getOrElse(k, 0L))
    }.toMap
  }

  /** Persist the evolving state to a work dir (triples/prov parquet, the
    * done-cache as a text file, counters as one CSV line each) so a
    * later PROCESS resumes exactly where this one stopped — the
    * reference's cache.txt + counter-file flush. */
  def saveState(st: PipelineState, workDir: String): Unit = {
    // localCheckpoint materializes BEFORE the overwrite: a no-op run's
    // frames still point at these very parquet paths, and overwriting a
    // path being lazily read truncates it mid-plan (observed: second
    // MetaProcessJob invocation corrupting its own work dir)
    st.triples.foreach(_.localCheckpointClamped()
      .write.mode("overwrite").parquet(s"$workDir/triples"))
    st.prov.foreach(_.localCheckpointClamped()
      .write.mode("overwrite").parquet(s"$workDir/prov"))
    val spark = st.triples.map(_.sparkSession)
      .orElse(st.prov.map(_.sparkSession))
    spark.foreach { s =>
      import s.implicits._
      st.done.toSeq.sorted.toDF("file").coalesce(1)
        .write.mode("overwrite").text(s"$workDir/done")
      st.counters.toSeq.sortBy(_._1).toDF("kind", "n").coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(s"$workDir/counters")
    }
  }

  /** Load a previously saved state; [[Empty]] when the dir has none. */
  def loadState(spark: SparkSession, workDir: String): PipelineState = {
    import spark.implicits._
    def exists(p: String) =
      new org.apache.hadoop.fs.Path(p).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(p))
    if (!exists(s"$workDir/triples")) Empty
    else PipelineState(
      Some(spark.read.parquet(s"$workDir/triples")),
      Some(spark.read.parquet(s"$workDir/prov")),
      spark.read.option("header", "true").csv(s"$workDir/counters")
        .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap,
      spark.read.text(s"$workDir/done").as[String].collect().toSet)
  }

  /** Process every file not yet in `state.done`, in sorted order (the
    * reference's `sort_files`). Returns the advanced state. With
    * `persistTo` set, the state is ALSO saved after every file — the
    * reference's per-file cache.txt flush — so a crash mid-queue resumes
    * from the last completed file, not from the start of the run.
    *
    * A file of at most [[InterpretedMaxBytes]] runs its plans
    * interpreted: while it is processed the session has
    * `spark.sql.codegen.wholeStage=false` and
    * `spark.sql.codegen.factoryMode=NO_CODEGEN`, and after it (or on a
    * throw) both are put back as the caller had them, an unset key unset
    * again. A file's plans are many and each runs once, so for a small
    * file generating and compiling their code costs more than
    * interpreting them: a 1000-record fresh file compiled about 600
    * generated classes and an update file over 2000, and JIT compilation
    * was most of the CPU. Both settings are needed: with whole-stage
    * codegen off alone, expression code generation still compiles almost
    * as many classes. `factoryMode` is an internal Spark setting;
    * `NO_CODEGEN` selects the interpreted implementation Spark itself
    * falls back to when a generated class fails to compile. The settings
    * are session-wide, so queries that other threads run on the same
    * session meanwhile run interpreted too, and the restore is not
    * reentrant: `run` must not overlap with itself on one session, or the
    * caller's settings can be lost. The returned frames are checkpoints:
    * what the caller later plans on them uses the caller's own settings. */
  def run(spark: SparkSession, files: Seq[String], generatedAt: String,
      state: PipelineState = Empty, prefix: String = "060",
      persistTo: Option[String] = None,
      sinks: Option[Sinks] = None): PipelineState =
    runFiles(spark, files, generatedAt, state, prefix, persistTo, sinks,
      interpret = interprets(spark, _))

  /** The largest input file [[run]] processes interpreted, about 13000
    * synthetic records. Measured on 4 cores with every sink on: files of
    * 1000 to 10000 records (3.2 MB), fresh or updating a store of up to
    * 3.3M triples, took less CPU interpreted; a 100000-record fresh file
    * (31.6 MB) took longer, since interpreting costs per row and compiling
    * a fixed amount per plan. Files in between were not measured and keep
    * generated code. */
  private[graft] val InterpretedMaxBytes: Long = 4L << 20

  /** Whether [[run]] processes `file` interpreted: by its size in bytes,
    * which the file system reports without reading it. */
  private[graft] def interprets(spark: SparkSession, file: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength <= InterpretedMaxBytes
  }

  private val InterpretedPlans = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** `body` with [[InterpretedPlans]] set on the session. `getAll` holds
    * only the keys that are set (`getOption` would return the default of
    * an unset one), so an unset key is unset again afterwards. */
  private def interpreted[T](spark: SparkSession)(body: => T): T = {
    val set = spark.conf.getAll
    val before = InterpretedPlans.map { case (k, _) => k -> set.get(k) }
    InterpretedPlans.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The per-file loop of [[run]]: a file for which `interpret` holds runs
    * [[interpreted]], any other under the session's settings as they
    * are. */
  private[graft] def runFiles(spark: SparkSession, files: Seq[String],
      generatedAt: String, state: PipelineState, prefix: String,
      persistTo: Option[String], sinks: Option[Sinks],
      interpret: String => Boolean): PipelineState = {
    import spark.implicits._
    val sink = sinks.filter(_.enabled)
    val sinkName = sinkNames(files)
    var st = state
    for (f <- files.sorted if !st.done.contains(f)) {
      val input = Curator.readInput(spark, f)
      def curate: PipelineState = (st.triples, st.prov) match {
        case (None, _) =>
          // each curated frame is checkpointed on its first read: emission
          // and provenance read the graph frames only, so the CSV rows
          // and index tables of the batch are never built
          val b = Curator.curateFresh(input, prefix).checkpointed
          val t = TriplesEmitter.emit(b).localCheckpointClamped()
          val p = Provenance.freshSnapshots(b, generatedAt).localCheckpointClamped()
          // fresh world: the whole batch is the delta (insert-only)
          sink.foreach(emitSinks(_, sinkName(f), t, t, t.limit(0), p))
          // one snapshot per minted entity: p is allEntities(b), checkpointed
          PipelineState(Some(t), Some(p),
            countersOf(p.select($"entity"), prefix, st.counters),
            st.done + f)
        case (Some(oldTriples), Some(oldProv)) =>
          val store = StoreViews.fromTriples(oldTriples, prefix)
          val upd = StoreCurator.curateWithStore(input, store, prefix,
            prov = Some(oldProv), counterOffsets = Some(st.counters))
          val b = upd.batch
          val delta = TriplesEmitter.emit(b).localCheckpointClamped()
          // overlay: batch subjects' graphs are replaced, others persist
          val touched = delta.select($"s").distinct()
          val newTriples = oldTriples.join(touched, Seq("s"), "left_anti")
            .unionByName(delta).localCheckpointClamped()
          // provenance: snapshot only entities whose graph CHANGED (new
          // triples or retracted old ones); adopted-but-identical
          // entities keep their chains untouched
          val oldTouched = oldTriples.join(touched, Seq("s"), "left_semi")
          val changedSubjects = delta.exceptAll(oldTouched)
            .unionByName(oldTouched.exceptAll(delta))
            .select($"s").distinct()
          val prefixUri = Vocab.BaseIri + "/"
          val changedEnts = changedSubjects
            .filter($"s".startsWith(prefixUri))
            .select(expr(s"substring(s, ${prefixUri.length + 1})").as("entity"))
          val known = oldProv.select($"entity").distinct()
          val agent = lit("https://w3id.org/oc/meta/prov/pa/1")
          val latest = oldProv.filter($"invalidated_at".isNull)
            .select($"entity", $"snapshot_n")
          val modified = changedEnts.join(latest, Seq("entity"))
            .select($"entity", lit(1L).as("snapshot_n"),
              lit(generatedAt).as("generated_at"),
              lit(null).cast("string").as("invalidated_at"),
              array(snapUri($"entity", $"snapshot_n")).as("derived_from"),
              lit("Entity modified").as("description"),
              agent.as("attributed_to"))
          val created = changedEnts.join(known, Seq("entity"), "left_anti")
            .select($"entity", lit(1L).as("snapshot_n"),
              lit(generatedAt).as("generated_at"),
              lit(null).cast("string").as("invalidated_at"),
              array().cast("array<string>").as("derived_from"),
              lit("Entity created").as("description"),
              agent.as("attributed_to"))
          val newProv = Provenance.upsert(oldProv,
            modified.unionByName(created), generatedAt).localCheckpointClamped()
          sink.foreach { k =>
            // batch-scoped deltas only — the store is never re-emitted:
            // data = exact triple diff within the touched subjects' graphs,
            // prov = the changed entities' new/reclosed snapshot rows
            val provDelta = newProv
              .join(changedEnts, Seq("entity"), "left_semi")
              .exceptAll(oldProv.join(changedEnts, Seq("entity"), "left_semi"))
            emitSinks(k, sinkName(f), delta,
              delta.exceptAll(oldTouched), oldTouched.exceptAll(delta),
              provDelta)
          }
          PipelineState(Some(newTriples), Some(newProv),
            countersOf(Provenance.allEntities(b), prefix, st.counters),
            st.done + f)
        case _ =>
          throw new IllegalStateException("state has triples but no prov")
      }
      st = if (interpret(f)) interpreted(spark)(curate) else curate
      persistTo.foreach(saveState(st, _))
    }
    st
  }
}

/** CLI wrapper with cross-process resume:
  *
  *   runMain graft.curation.MetaProcessJob <inputDir> <workDir> [prefix] [generatedAt]
  *       [--rdf-out=DIR] [--updates-out=DIR]
  *       [--endpoint=URL] [--prov-endpoint=URL]
  *
  * Loads any state in `workDir`, processes the pending `*.csv` files of
  * `inputDir` in sorted order, and persists the advanced state back. The
  * optional flags enable the reference's per-batch store_data_and_prov
  * sinks (JSON-LD out, SPARQL update emission, HTTP push) — see
  * [[MetaProcess.Sinks]]. */
object MetaProcessJob {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    def flag(name: String): Option[String] = flags.collectFirst {
      case a if a.startsWith(s"--$name=") => a.substring(name.length + 3)
    }
    // fail on unknown flags (ADVICE r17): a typo like --end-point=URL
    // used to silently disable the push while the run reported success
    val knownFlags = Seq("rdf-out", "updates-out", "endpoint", "prov-endpoint")
    val unknown = flags.filterNot(a =>
      knownFlags.exists(k => a.startsWith(s"--$k=")))
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.mkString(", ")} — known: " +
        knownFlags.map(k => s"--$k=...").mkString(", "))
    require(pos.length >= 2,
      "usage: MetaProcessJob <inputDir> <workDir> [prefix] [generatedAt] " +
        "[--rdf-out=DIR] [--updates-out=DIR] [--endpoint=URL] [--prov-endpoint=URL]")
    val (inputDir, workDir) = (pos(0), pos(1))
    val prefix = if (pos.length > 2) pos(2) else "060"
    val generatedAt = if (pos.length > 3) pos(3)
      else java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    val sinks = MetaProcess.Sinks(flag("rdf-out"), flag("updates-out"),
      flag("endpoint"), flag("prov-endpoint"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-meta-process")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = new org.apache.hadoop.fs.Path(inputDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(s"$inputDir/*.csv"))
      .map(_.getPath.toString).toSeq
    val st0 = MetaProcess.loadState(spark, workDir)
    // per-file persistence (persistTo): a crash mid-queue resumes from
    // the last completed file; a no-op run writes nothing, so the loaded
    // frames never race their own backing files
    val st = MetaProcess.run(spark, files, generatedAt, st0, prefix,
      persistTo = Some(workDir),
      sinks = if (sinks.enabled) Some(sinks) else None)
    val nTriples = st.triples.map(_.count()).getOrElse(0L)
    val nProv = st.prov.map(_.count()).getOrElse(0L)
    println(s"[meta_process] ${st.done.size - st0.done.size} file(s) processed, " +
      s"$nTriples triples, $nProv prov snapshots -> $workDir")
    spark.stop()
  }
}
