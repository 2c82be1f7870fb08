package perfbench

import scala.collection.mutable

/** One timed op as the metrics see it. `spark` and `noJobS` are filled
  * only in a traced run; `extra` holds op-specific counters.
  */
final case class OpRec(kind: String, name: String, seconds: Double,
    spark: Option[SparkAgg], noJobS: Double, planS: Double,
    extra: Map[String, Double])

/** Runs ops through the [[Tracer]], keeps their records, and counts
  * attempts and failures. A failed op is one that threw or whose answer
  * the harness found wrong.
  */
final class Recorder(val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Time `body` as one op; returns its result, or None when it threw. */
  def op[T](kind: String, name: String, extra: => Map[String, Double] = Map.empty)(
      body: => T): Option[T] = {
    attempted += 1
    val (out, span) = tracer.span(name, kind) {
      try Some(body) catch { case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      }
    }
    tracer.flush()
    val agg = if (tracer.traced) Some(tracer.sparkOf(span)) else None
    ops += OpRec(kind, name, span.seconds, agg,
      agg.map(tracer.noJobSeconds(span, _)).getOrElse(0.0),
      if (tracer.traced) tracer.planSeconds(span) else 0.0, extra)
    out
  }

  /** Record a wrong answer on the last op (counted once per op). */
  def wrong(what: String): Unit = fail(what)

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def of(kinds: String*): Seq[OpRec] = ops.iterator.filter(o => kinds.contains(o.kind)).toSeq
}
