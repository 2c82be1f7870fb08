package perfbench

import scala.collection.mutable

/** Turns op records into the named figures of a run. End-to-end figures
  * come from untraced ops only; per-layer figures from traced ops, except
  * the `ingest.*` latencies, which come from the untraced half of a traced
  * run.
  */
object Metrics {
  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def meanOf(xs: Seq[Double]): Double = Stats.mean(xs)

  /** Figures every workload reports. `wallS` and `cpuS` are the untraced
    * loop's wall time and the JVM's CPU time over it.
    */
  def endToEnd(ops: Seq[OpRec], wallS: Double, cpuS: Double): Map[String, Double] = {
    val secs = ops.map(_.seconds)
    Map(
      "work_s" -> ops.groupBy(_.name).values.map(o => p50(o.map(_.seconds))).sum,
      "op_p50_s" -> p50(secs),
      "ops_per_s" -> (if (wallS > 0) ops.size / wallS else 0.0),
      "cpu_per_op_s" -> (if (ops.nonEmpty) cpuS / ops.size else 0.0),
      "samples" -> ops.size.toDouble)
  }

  /** Traced cost over `ops`, per op. */
  def spark(ops: Seq[OpRec], cores: Int): Map[String, Double] = {
    val aggs = ops.flatMap(_.spark)
    val n = aggs.size.max(1).toDouble
    def per(f: SparkAgg => Double): Double = aggs.map(f).sum / n
    val wall = ops.map(_.seconds).sum
    Map(
      "spark.jobs" -> per(_.jobs.toDouble),
      "spark.stages" -> per(_.stages.toDouble),
      "spark.tasks" -> per(_.tasks.toDouble),
      "spark.task_cpu_s" -> per(_.taskCpuNs / 1e9),
      "spark.task_run_s" -> per(_.taskRunMs / 1e3),
      "spark.gc_s" -> per(_.gcMs / 1e3),
      "spark.core_util" -> (if (wall > 0) aggs.map(_.taskRunMs / 1e3).sum / (wall * cores) else 0.0),
      "spark.no_job_s" -> meanOf(ops.map(_.noJobS)),
      "spark.shuffle_read_bytes" -> per(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> per(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> per(_.spillBytes.toDouble),
      "spark.input_bytes" -> per(_.inputBytes.toDouble))
  }

  /** Traced over untraced cost of the same ops: the sum of per-op-name
    * medians in the traced half over the same sum in the untraced half.
    */
  def traceOverhead(untraced: Seq[OpRec], traced: Seq[OpRec]): Double = {
    val u = untraced.groupBy(_.name).map { case (k, o) => k -> p50(o.map(_.seconds)) }
    val t = traced.groupBy(_.name).map { case (k, o) => k -> p50(o.map(_.seconds)) }
    val both = u.keySet.intersect(t.keySet).toSeq
    val den = both.map(u).sum
    if (den > 0) both.map(t).sum / den else 0.0
  }

  val QueryModules = Seq("operators", "core", "streaming", "llmops", "graph")

  /** Per-layer figures of a query workload from its traced passes. */
  def queryLayers(q: Queries, rec: Recorder): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val ops = rec.of("query")
    val idx = rec.ops.zipWithIndex.collect { case (o, i) if o.kind == "query" => i }.toSeq
    val phases = idx.flatMap(q.phases.get)
    out("queries.construct_s") = meanOf(phases.map(_._1.seconds))
    out("queries.construct_jobs") = meanOf(phases.map(p => rec.tracer.sparkOf(p._1).jobs.toDouble))
    out("queries.plan_s") = meanOf(ops.map(_.planS))
    out("queries.exec_s") = meanOf(phases.map(_._2.seconds))
    val passes = q.passesDone.max(1).toDouble
    for (m <- QueryModules) {
      val mine = ops.filter(o => q.moduleOf(o.name) == m)
      val myPhases = idx.filter(i => q.moduleOf(rec.ops(i).name) == m).flatMap(q.phases.get)
      val aggs = mine.flatMap(_.spark)
      out(s"queries.$m.rows_s") = mine.groupBy(_.name).values.map(o => p50(o.map(_.seconds))).sum
      out(s"queries.$m.jobs") = aggs.map(_.jobs).sum / passes
      out(s"queries.$m.construct_s") = myPhases.map(_._1.seconds).sum / passes
      out(s"queries.$m.task_cpu_s") = aggs.map(_.taskCpuNs / 1e9).sum / passes
      out(s"queries.$m.shuffle_bytes") =
        aggs.map(a => (a.shuffleReadBytes + a.shuffleWriteBytes).toDouble).sum / passes
    }
    out.toMap
  }

  /** Per-layer figures of `ingest_mixed`. `untraced` gives the latency
    * figures, `traced` the Spark-side ones.
    */
  def ingestLayers(w: Ingest, untraced: Recorder, traced: Recorder,
      untracedWallS: Double, untracedRows: Long): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def s(r: Recorder, kinds: String*) = r.of(kinds: _*).map(_.seconds)
    out("ingest.kv_write_p50_s") = p50(s(untraced, "kv_write"))
    out("ingest.kv_get_p50_s") = p50(s(untraced, "kv_get"))
    out("ingest.kv_scan_p50_s") = p50(s(untraced, "kv_scan"))
    out("ingest.view_append_p50_s") = p50(s(untraced, "view_append", "index_append"))
    out("ingest.view_read_p50_s") = p50(s(untraced, "view_read", "index_query"))
    out("ingest.rows_per_s") = if (untracedWallS > 0) untracedRows / untracedWallS else 0.0
    out("ingest.space_amp") = p50(w.spaceAmps.toSeq)

    def jobs(ops: Seq[OpRec]) = meanOf(ops.flatMap(_.spark).map(_.jobs.toDouble))
    val writes = traced.of("kv_write")
    val compacting = writes.filter(_.extra.getOrElse("compacted", 0.0) > 0)
    val userBytes = writes.map(_.extra.getOrElse("user_bytes", 0.0)).sum
    out("core.write_jobs_per_op") = jobs(writes)
    out("core.write_no_job_s") = meanOf(writes.map(_.noJobS))
    out("core.write_amp") =
      if (userBytes > 0) writes.map(_.extra.getOrElse("new_bytes", 0.0)).sum / userBytes else 0.0
    out("core.compactions") = compacting.size.toDouble
    out("core.compaction_write_s") = meanOf(compacting.map(_.seconds))
    val gets = traced.of("kv_get")
    out("core.get_jobs_per_op") = jobs(gets)
    out("core.get_input_bytes_per_op") = meanOf(gets.flatMap(_.spark).map(_.inputBytes.toDouble))
    out("core.scan_jobs_per_op") = jobs(traced.of("kv_scan"))
    val st = w.kvStats()
    out("core.segments_end") = st("dataSegments").toDouble
    out("core.level0_segments_end") = st("level0Segments").toDouble
    out("core.blob_segments_end") = st("blobSegments").toDouble

    def folds(kind: String) = traced.of(kind).filter(_.extra.getOrElse("folded", 0.0) > 0)
    val reads = traced.of("view_read")
    out("operators.append_s") = meanOf(traced.of("view_append").map(_.seconds))
    out("operators.read_s") = meanOf(reads.map(_.seconds))
    out("operators.fold_s") = meanOf(folds("view_maintain").map(_.seconds))
    out("operators.folds") = folds("view_maintain").size.toDouble
    out("operators.read_jobs_per_op") = jobs(reads)
    out("operators.roots_at_read_mean") = meanOf(reads.map(_.extra.getOrElse("roots", 0.0)))
    val queries = traced.of("index_query")
    out("llmops.append_s") = meanOf(traced.of("index_append").map(_.seconds))
    out("llmops.query_s") = meanOf(queries.map(_.seconds))
    out("llmops.fold_s") = meanOf(folds("index_maintain").map(_.seconds))
    out("llmops.folds") = folds("index_maintain").size.toDouble
    out("llmops.query_jobs_per_op") = jobs(queries)
    out.toMap
  }
}

/** A fixed JVM-only computation that touches no graft or Spark code: its
  * time, taken at the start and the end of a run, shows machine drift.
  */
object Calibration {
  def run(): Double = {
    val t0 = System.nanoTime()
    val rng = new java.util.SplittableRandom(42L)
    val a = Array.fill(2000000)(rng.nextLong())
    java.util.Arrays.sort(a)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    for (i <- 0 until 32) { buf(i) = a(i * 1000).toByte; md.update(buf) }
    if (md.digest().length + a(0).toInt == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU seconds this JVM has used, all threads. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
