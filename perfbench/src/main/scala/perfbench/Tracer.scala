package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed call into graft: an op, or a phase inside one. */
final case class Span(id: Long, name: String, kind: String, parent: Long,
    opId: Long, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side totals of the jobs that ran under one span's job group. */
final class SparkAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: SparkAgg): SparkAgg = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    jobIntervals ++= o.jobIntervals
    this
  }
}

/** Times every call the workloads make into graft. Untraced, a call costs
  * two `nanoTime` reads and nothing is kept but its latency. Traced, each
  * call becomes a [[Span]] kept in memory, the harness sets a Spark job
  * group named after the span before the call, and one [[SparkListener]]
  * folds the jobs, stages and task metrics of each group into a
  * [[SparkAgg]] and keeps each SQL execution's Catalyst planning time.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private var nextId = 1L
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]
  private val aggs = mutable.HashMap.empty[Long, SparkAgg]
  // Listener-bus state: job -> group, stage -> group, open job starts.
  private val jobGroup = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val Prefix = "perfbench-"

  private def groupOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toLong).getOrElse(0L)

  private def agg(id: Long): SparkAgg = aggs.getOrElseUpdate(id, new SparkAgg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = groupOf(e.properties)
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
      agg(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val g = jobGroup.remove(e.jobId).getOrElse(0L)
      jobStart.remove(e.jobId).foreach(s => agg(g).jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      agg(stageGroup.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        planned += ((end.time, org.apache.spark.sql.PerfbenchSql.planningMs(end)))
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = agg(stageGroup.getOrElse(e.stageId, 0L))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  // Planning time has no job group: each finished SQL execution's
  // Catalyst phase times are kept with the wall-clock time it ended and
  // attributed to spans by time (the harness is the only client thread).
  private val planned = mutable.ArrayBuffer.empty[(Long, Long)]

  if (traced) sc.addSparkListener(listener)

  /** Time `body` as a span named `name`; nested calls become child spans. */
  def span[T](name: String, kind: String)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption
    val opId = parent.map(_.opId).getOrElse(id)
    if (traced) sc.setJobGroup(Prefix + id, name, interruptOnCancel = false)
    val open = Span(id, name, kind, parent.map(_.id).getOrElse(0L), opId, 0L, 0L, 0L, 0L)
    stack = open :: stack
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally {
      stack = stack.tail
      if (traced) parent match {
        case Some(p) => sc.setJobGroup(Prefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    val done = open.copy(startNs = t0, endNs = System.nanoTime(),
      startMs = ms0, endMs = System.currentTimeMillis())
    if (traced) spans += done
    (out, done)
  }

  /** Let the listener bus catch up: called outside every timed region. */
  def flush(): Unit = if (traced) org.apache.spark.PerfbenchBus.drain(sc)

  /** Spark totals of `span` and every span nested in it. */
  def sparkOf(s: Span): SparkAgg = synchronized {
    val total = new SparkAgg
    aggs.get(s.id).foreach(total += _)
    spans.iterator.filter(c => c.opId == s.opId && c.id != s.id && within(c, s))
      .foreach(c => aggs.get(c.id).foreach(total += _))
    total
  }

  private def within(c: Span, s: Span): Boolean = {
    var p = c.parent
    while (p != 0L && p != s.id) p = spans.find(_.id == p).map(_.parent).getOrElse(0L)
    p == s.id
  }

  /** Catalyst analysis, optimization and planning seconds of the SQL
    * executions that ended inside `s`.
    */
  def planSeconds(s: Span): Double = synchronized {
    planned.iterator.filter { case (t, _) => t >= s.startMs && t <= s.endMs }
      .map(_._2).sum / 1000.0
  }

  /** Seconds of `s` during which none of its own Spark jobs was running:
    * work outside Spark tasks such as planning, listing, footers and
    * manifest I/O.
    */
  def noJobSeconds(s: Span, a: SparkAgg): Double = {
    val iv = a.jobIntervals.map { case (b, e) => (b.max(s.startMs), e.min(s.endMs)) }
      .filter { case (b, e) => e > b }.sortBy(_._1)
    var covered = 0L
    var curB = -1L
    var curE = -1L
    iv.foreach { case (b, e) =>
      if (b > curE) { if (curE > curB) covered += curE - curB; curB = b; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curB) covered += curE - curB
    ((s.endMs - s.startMs - covered).max(0L)) / 1000.0
  }

  /** Detach the listeners (the untraced half of a traced run must not
    * pay for them, nor must a later session restart).
    */
  def close(): Unit = if (traced) {
    flush()
    sc.removeSparkListener(listener)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map { s =>
      Json.render(Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "parent" -> s.parent, "op" -> s.opId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
