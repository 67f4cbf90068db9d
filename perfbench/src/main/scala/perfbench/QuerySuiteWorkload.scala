package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.DocumentPipeline

/** Order-insensitive content digest of a query result: the row count and
  * the sum (mod 2^64) of a 64-bit hash of each row's canonical text.
  * Doubles are rounded to 6 decimals, as the oracle comparison does. */
object Digest {
  def canon(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "␀"
    case (d: Double, _) => canonDouble(d)
    case (f: Float, _) => canonDouble(f.toDouble)
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => canon(if (a.isNullAt(i)) null else a.get(i, et), et))
        .mkString("[", ",", "]")
    case (m: MapData, MapType(kt, vt, _)) =>
      canon(m.keyArray(), ArrayType(kt)) + "->" + canon(m.valueArray(), ArrayType(vt))
    case (r: InternalRow, st: StructType) => row(r, st)
    case (b: Array[Byte], _) => b.map(x => f"$x%02x").mkString
    case (other, _) => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros().toPlainString
      if (s == "-0") "0" else s
    }

  def row(r: InternalRow, st: StructType): String =
    st.fields.indices.map { i =>
      val t = st.fields(i).dataType
      canon(if (r.isNullAt(i)) null else r.get(i, t), t)
    }.mkString("␟")

  def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x0ddba11)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Execute `df`'s own physical plan (every output column of every row,
    * no driver-side collection) and return (rows, digest). */
  def execute(df: DataFrame): (Long, Long) = {
    val st = df.schema
    df.queryExecution.executedPlan.execute()
      .mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r => n += 1; h += hash64(row(r, st)) }
        Iterator((n, h))
      }
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
  }
}

/** `query_suite`: one pass over a fixed subset of `SparkEntry.queries` in
  * a seeded order, followed by `DocumentPipeline.curate`, on the bundled
  * sf0.01 tables, after an untimed pass over the same steps. Storage is
  * cleared before each step. The timed region is the sum of the per-query
  * times and the pipeline time. */
object QuerySuiteWorkload {
  val Pipeline = "document_pipeline"

  /** Near-dup joins and similarity kernels from the suite's heavy end, and
    * a short relational and a short text query: every operator module. The
    * whole suite takes about 65 s per pass at sf0.01 on 4 cores, more than
    * one benchmark run can spend. */
  val Queries: Seq[String] = Seq(
    "q32_dedup_minhash_lsh", "q22_lsh_match_score",
    "q03_join_agg", "q36_lang_id",
    "q35_ann_topk", "q43_ann_ivf_indexed")

  /** The operator module `SparkEntry` maps each query to. */
  def moduleOf(query: String): String = {
    val rq = (1 to 10).map(i => f"q$i%02d")
    val tq = (11 to 22).map(i => s"q$i") :+ "q60"
    val ta = Seq(36, 37, 38, 39, 40, 41, 44, 46, 47, 49, 53, 54, 55, 58, 59).map(i => s"q$i")
    val sim = Seq("q35_ann_topk", "q43_ann_ivf", "q43_ann_ivf_exact", "q56_ann_label_eval")
    val prefix = query.takeWhile(_ != '_')
    "operators." + (
      if (query == Pipeline) "DocumentPipeline"
      else if (query == "q43_ann_ivf_indexed") "IvfIndex"
      else if (sim.contains(query)) "Similarity"
      else if (rq.contains(prefix)) "RelationalQueries"
      else if (tq.contains(prefix)) "TextQueries"
      else if (ta.contains(prefix)) "TextAnalysis"
      else "Dedup")
  }

  /** The seeded permutation of `queries`. */
  def order(seed: Long, queries: Seq[String] = Queries): Seq[String] =
    new scala.util.Random(seed).shuffle(queries.sorted)

  private final case class Step(name: String, seconds: Double, cpuS: Double, rows: Long,
      digest: Long, error: Option[String])

  def run(ctx: Ctx): Outcome = run(ctx, Queries)

  def run(ctx: Ctx, queries: Seq[String]): Outcome = {
    import ctx.{spark, tracer}
    val dir = ctx.dataDir
    val pipeline: (SparkSession, String) => DataFrame = (s, d) => DocumentPipeline.curate(s, d)
    ctx.setup {
      // one untimed pass over the same steps warms JIT and code generation,
      // so that no timed query pays for code another query would compile
      (order(ctx.seed, queries).map(SparkEntry.queries) :+ pipeline)
        .foreach { q => ctx.clearStorage(); Digest.execute(q(spark, dir)) }
    }

    def step(name: String, build: (SparkSession, String) => DataFrame): Step = {
      ctx.clearStorage()
      val clock = new Stopwatch
      val res = try tracer.span(s"${moduleOf(name)}|$name") {
        val df = tracer.span("construct")(build(spark, dir))
        tracer.span("plan")(df.queryExecution.executedPlan)
        Right(tracer.span("exec")(Digest.execute(df)))
      } catch { case e: Exception => Left(s"$name threw: $e") }
      val (sec, cpu) = (clock.wallS, clock.cpuS)
      ctx.log(f"$name%-34s $sec%8.3f s")
      res.fold(err => Step(name, sec, cpu, 0, 0, Some(err)), { case (n, h) => Step(name, sec, cpu, n, h, None) })
    }

    val qs = order(ctx.seed, queries).map(q => step(q, SparkEntry.queries(q)))
    val all = qs :+ step(Pipeline, pipeline)
    ctx.clearStorage()
    val (spans, jobs) = tracer.finish()

    val failures = Checks.querySuite(ctx,
      all.map(s => (s.name, s.rows, s.digest, s.error)))
    val perQuery = qs.map(_.seconds)

    val layers = if (!tracer.enabled) Nil else {
      val tops = spans.filter(_.parent == -1)
      Layers.complete(Layers.QueryModules.flatMap { m =>
        val mine = tops.filter(_.name.startsWith(m + "|"))
        val ids = mine.map(_.id).toSet
        val kids = spans.filter(s => ids(s.parent))
        def phase(p: String) = kids.filter(_.name == p).map(_.seconds).sum
        val rows = all.filter(s => moduleOf(s.name) == m).map(_.rows).sum
        val fields = Seq("construct_s" -> phase("construct"), "plan_s" -> phase("plan"),
          "exec_s" -> phase("exec")) ++
          Layers.jobFields(jobs.filter(j => ids(j.span) || kids.exists(_.id == j.span)),
            mine.map(_.seconds).sum, ctx.threads) :+ ("rows_out" -> rows.toDouble)
        fields.map { case (f, v) => s"$m.$f" -> v }
      }.toMap)
    }
    Outcome(all.map(_.seconds).sum, all.map(_.cpuS).sum, attempted = all.size, failures, layers,
      detail = Seq(
        "suite_s" -> perQuery.sum, "pipeline_s" -> all.last.seconds,
        "query_s_p50" -> Stats.median(perQuery),
        "query_samples" -> perQuery.size.toDouble))
  }
}
