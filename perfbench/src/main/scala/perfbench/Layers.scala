package perfbench

/** The per-layer metric names of the traced run and how they are computed
  * from spans and jobs. Every traced run prints every name; a layer that a
  * workload does not exercise reads 0. */
object Layers {
  val QueryModules: Seq[String] = Seq("RelationalQueries", "TextQueries",
    "TextAnalysis", "Dedup", "Similarity", "IvfIndex", "DocumentPipeline")
    .map("operators." + _)
  val QueryFields: Seq[String] = Seq("construct_s", "plan_s", "exec_s", "jobs",
    "busy_s", "core_util", "shuffle_write_bytes", "rows_out")

  /** The modules a `MetaProcess.run` job is attributed to: the innermost
    * frame of its call site that belongs to one of them, that is, the
    * module whose code started the job. A module that only builds a plan
    * (`TriplesEmitter.emit`, `Provenance.freshSnapshots`) starts no job:
    * its work counts for the module that forces the plan. `other` takes a
    * job with no such frame. */
  val MetaModules: Seq[String] = Seq("curation.MetaProcess", "curation.Curator",
    "rdf.Serialization", "rdf.SparqlUpdate", "rdf.SparqlHttp", "other")
  val MetaFields: Seq[String] = Seq("job_s", "jobs", "busy_s", "shuffle_write_bytes")

  val MetaExtra: Seq[String] = Seq("meta.driver_s", "meta.core_util",
    "sinks.push_requests", "sinks.push_failed", "sinks.wire_bytes",
    "sinks.stored_bytes_per_triple")

  /** The [[MetaModules]] entry for a Spark call site (one frame per line,
    * innermost first, as `StageInfo.details` holds it). */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map { frame =>
      val method = frame.trim.takeWhile(_ != '(')
      method.take(method.lastIndexOf('.') max 0).takeWhile(_ != '$').stripPrefix("graft.")
    }.find(m => MetaModules.contains(m) && m != "other").getOrElse("other")

  def unitOf(name: String): String = name.substring(name.lastIndexOf('.') + 1) match {
    case f if f.endsWith("_s") => "s"
    case "core_util" => "fraction"
    case "shuffle_write_bytes" | "wire_bytes" => "B"
    case "rows_out" => "rows"
    case "stored_bytes_per_triple" => "B/triple"
    case _ => "count"
  }

  /** Every per-layer name the Scala side prints, in a fixed order. */
  val All: Seq[String] =
    QueryModules.flatMap(m => QueryFields.map(f => s"$m.$f")) ++
      MetaModules.flatMap(m => MetaFields.map(f => s"meta.$m.$f")) ++
      MetaExtra

  /** `measured` completed with a 0 for every name the workload did not set. */
  def complete(measured: Map[String, Double]): Seq[Metric] = {
    val unknown = measured.keySet -- All
    require(unknown.isEmpty, s"unknown layer metrics: $unknown")
    All.map(n => Metric(n, measured.getOrElse(n, 0.0), unitOf(n)))
  }

  /** (jobs, busy_s, core_util, shuffle_write_bytes) of `jobs` over
    * `wallS` seconds of span time on `threads` task threads. */
  def jobFields(jobs: Seq[JobRec], wallS: Double, threads: Int): Seq[(String, Double)] = {
    val busy = jobs.map(_.busyMs).sum / 1e3
    Seq("jobs" -> jobs.size.toDouble, "busy_s" -> busy,
      "core_util" -> (if (wallS > 0) busy / (wallS * threads) else 0.0),
      "shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum.toDouble)
  }
}
