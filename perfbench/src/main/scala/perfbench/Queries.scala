package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A catalog row as the benchmark froze it: its name, the graft module
  * it exercises, and how its output is checked.
  */
final case class RowDef(name: String, module: String, check: String)

/** The `queries` workload: passes over a frozen list of catalog rows,
  * each pass in an order drawn from the seed. One
  * (row, pass) is one timed op: the catalog function builds the
  * DataFrame (construct, eager jobs included), then a noop write
  * materializes every row of it (exec), as `graft.Bench` does.
  */
final class Queries(spark: SparkSession, dataDir: String, rows: Seq[RowDef],
    seed: Long, rec: Recorder) {

  private val catalog = graft.queries.Catalog.queries
  private val missing = rows.map(_.name).filterNot(catalog.contains)
  require(missing.isEmpty, s"rows missing from the catalog: ${missing.mkString(", ")}")

  private val rng = new scala.util.Random(seed)
  /** Rows whose check pass threw or wrote nothing: failed in every pass. */
  val brokenRows = mutable.LinkedHashSet.empty[String]
  /** Per op index: the construct and exec child spans (traced runs). */
  val phases = mutable.HashMap.empty[Int, (Span, Span)]
  var passesDone = 0

  private def order(): Seq[RowDef] = rng.shuffle(rows)

  /** The untimed check pass: every row once, in the frozen order so that
    * the cold-start costs land on the same rows in every run, its output
    * written as parquet under `outDir/<row>` for the hash check.
    */
  def checkPass(outDir: String): Unit = rows.foreach { r =>
    try catalog(r.name)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/${r.name}")
    catch { case e: Exception =>
      brokenRows += r.name
      System.err.println(s"[perfbench] ${r.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Whole timed passes for a window of `seconds`, one per
    * [[Queries.PassSeconds]] (at least one). Every row gets the same
    * number of samples, and the count depends on the window alone.
    */
  def passes(seconds: Double): Unit =
    for (_ <- 1 to math.max(1, math.round(seconds / Queries.PassSeconds).toInt)) pass()

  private def pass(): Unit = { order().foreach(runOne); passesDone += 1 }

  private def runOne(r: RowDef): Unit = {
    val index = rec.ops.size
    var spans: Option[(Span, Span)] = None
    val ran = rec.op("query", r.name, Map.empty) {
      val (df, c) = rec.tracer.span(r.name + ":construct", "construct") {
        catalog(r.name)(spark, dataDir)
      }
      val (_, x) = rec.tracer.span(r.name + ":exec", "exec") {
        df.write.format("noop").mode("overwrite").save()
      }
      spans = Some((c, x))
    }
    if (ran.isDefined && brokenRows.contains(r.name)) rec.wrong(s"${r.name}: failed its check pass")
    spans.foreach(phases(index) = _)
  }

  def moduleOf(name: String): String = rows.find(_.name == name).map(_.module).getOrElse("")
}

object Queries {
  /** Nominal length of one pass over the frozen rows on a 4-core machine. */
  val PassSeconds = 5.0

  /** Rows of `workload` from the frozen tab-separated list. */
  def load(path: String, workload: String): Seq[RowDef] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(w, n, m, c) if w == workload => RowDef(n, m, c) }
      .toVector
    finally src.close()
  }
}
