package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Output checks, run outside the timed region. Each returns the list of
  * failures (empty = correct). Expected values live in
  * `<expectedDir>/<workload>.tsv`, recorded from the program before any
  * optimisation; when recording, a check appends the values it measured
  * for a key it has no entry for instead of failing. */
object Checks {
  val CurationCounts: Seq[String] = Seq("entities_created", "triples", "prov_snapshots",
    "counter_sum", "data_deletes", "data_inserts", "prov_inserts")

  /** key -> remaining columns of a TSV whose first line is a header. */
  def readTsv(path: Path): Map[String, Vector[String]] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, UTF_8).asScala.drop(1).filter(_.nonEmpty)
      .map(_.split('\t').toVector).map(c => c.head -> c.tail).toMap

  private def append(path: Path, header: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    Files.createDirectories(path.getParent)
    if (!Files.exists(path)) Files.write(path, (header.mkString("\t") + "\n").getBytes(UTF_8))
    Files.write(path, rows.map(_.mkString("\t") + "\n").mkString.getBytes(UTF_8),
      StandardOpenOption.APPEND)
  }

  /** Compare a run's counts with the ones recorded for its seed. */
  private def seeded(ctx: Ctx, workload: String, names: Seq[String], got: Seq[Long]): Seq[String] = {
    val path = ctx.expectedDir.resolve(s"$workload.tsv")
    val seed = ctx.seed
    readTsv(path).get(seed.toString) match {
      case Some(want) =>
        names.zip(want.map(_.toLong)).zip(got).collect {
          case ((n, w), g) if w != g => s"$workload seed $seed: $n = $g, expected $w"
        }
      case None =>
        if (ctx.record) append(path, "seed" +: names, Seq(seed +: got))
        Nil
    }
  }

  def curation(ctx: Ctx, counts: Seq[Long]): Seq[String] = {
    val Seq(entities, triples, prov, counters, deletes, inserts, provInserts) = counts
    val invariants = Seq(
      (entities > 0, "no entities created"),
      (prov == entities, s"$prov fresh snapshots for $entities entities"),
      (triples > entities, s"only $triples triples for $entities entities"),
      (counters >= entities, s"counters sum to $counters for $entities entities"),
      // a fresh world: the whole batch is inserted, nothing deleted
      (deletes == 0 && inserts > 0 && provInserts > 0,
        s"the batch pushed $deletes deletes, $inserts data and $provInserts provenance inserts"))
    invariants.collect { case (false, msg) => s"curation_1k: $msg" } ++
      seeded(ctx, "curation_1k", CurationCounts, counts)
  }

  /** `results`: (query, rows, digest, error). A query recorded as `exact`
    * must match rows and digest; one recorded as `rows` (approximate by
    * construction) must return at least one row. */
  def querySuite(ctx: Ctx, results: Seq[(String, Long, Long, Option[String])]): Seq[String] = {
    val path = ctx.expectedDir.resolve("query_suite.tsv")
    val want = readTsv(path)
    val errors = results.flatMap(_._4)
    val fresh = results.filter(r => r._4.isEmpty && !want.contains(r._1))
      .groupBy(_._1).values.map(_.head).toSeq.sortBy(_._1)
    if (ctx.record && fresh.nonEmpty) {
      val exact = graft.SparkEntry.oracleSql.keySet + QuerySuiteWorkload.Pipeline
      append(path, Seq("query", "rows", "digest", "check"),
        fresh.map(r => Seq(r._1, r._2, r._3, if (exact(r._1)) "exact" else "rows")))
    }
    errors ++ results.filter(_._4.isEmpty).flatMap { case (q, rows, digest, _) =>
      want.get(q) match {
        case None if ctx.record => None
        case None => Some(s"$q: no recorded expectation")
        case Some(Vector(r, d, "exact")) if r.toLong != rows || d.toLong != digest =>
          Some(s"$q: $rows rows digest $digest, expected $r rows digest $d")
        case Some(Vector(_, _, "rows")) if rows < 1 => Some(s"$q: no rows")
        case _ => None
      }
    }
  }
}
