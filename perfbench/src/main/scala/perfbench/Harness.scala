package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (normally started by `run.py`):
  *
  *   perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --rows FILE --run-dir DIR --out FILE [--cores C]
  *
  * Order of a run: self-test, calibration, set-up (three times, the
  * median is `setup_s`), warm-up (`warm_s`), the timed closed loop for
  * a window of S seconds (whole passes or rounds, counted from S alone), calibration again, then one JSON object of raw
  * figures to `--out`.
  * In a traced run the loop runs its first half untraced and its second
  * half traced, the per-layer figures come from the traced half, and the
  * spans are written next to `--out`.
  */
object Harness {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val runDir = arg("run-dir")
    val cores = args.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    SelfTest.run()

    val calib0 = Calibration.run()
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ingest: Ingest = null
    val rows =
      if (workload == "ingest_mixed") Nil
      else {
        val r = Queries.load(arg("rows"), workload)
        require(r.nonEmpty, s"unknown workload $workload")
        r
      }
    for (rep <- 1 to SetupReps) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = startSession(cores, runDir)
      if (workload == "ingest_mixed") {
        ingest = new Ingest(spark, s"$runDir/stores/rep$rep", seed,
          new Recorder(new Tracer(spark, traced = false)))
        ingest.setup()
      } else {
        graft.GraftExtensions.register(spark)
        new java.io.File(arg("data")).listFiles().filter(_.getName.endsWith(".parquet"))
          .foreach(f => spark.read.parquet(f.getPath).schema)
      }
      setupTimes += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps && ingest != null) deleteTree(new java.io.File(s"$runDir/stores/rep$rep"))
    }

    val untracedRec = new Recorder(new Tracer(spark, traced = false))
    val result = mutable.LinkedHashMap.empty[String, Any]
    var tracedRec: Option[Recorder] = None // the traced half's ops
    var warmRec: Option[Recorder] = None // ingest warm-up ops, checked too
    // a traced run spends half its window untraced, half traced
    val window = if (traced) seconds / 2 else seconds
    val loopStart = System.nanoTime()
    if (workload == "ingest_mixed") {
      ingest.withRecorder(untracedRec)
      val (warmS, wr) = Ingest.warm(ingest)
      result("warm_s") = warmS
      warmRec = Some(wr)
      val rows0 = ingest.rowsCommitted
      val (u0, c0) = (System.nanoTime(), Calibration.cpuSeconds())
      ingest.rounds(window)
      val untracedWall = (System.nanoTime() - u0) / 1e9
      result ++= Metrics.endToEnd(untracedRec.ops.toSeq, untracedWall, Calibration.cpuSeconds() - c0)
      if (traced) {
        val t = new Recorder(new Tracer(spark, traced = true))
        ingest.withRecorder(t)
        ingest.rounds(window)
        t.tracer.close()
        result ++= Metrics.spark(t.ops.toSeq, cores)
        result ++= Metrics.ingestLayers(ingest, untracedRec, t, untracedWall,
          ingest.rowsCommitted - rows0)
        result("env.trace_overhead_ratio") = Metrics.traceOverhead(untracedRec.ops.toSeq, t.ops.toSeq)
        t.tracer.writeSpans(java.nio.file.Paths.get(arg("out") + ".spans.jsonl"))
        tracedRec = Some(t)
      }
    } else {
      val tmp = System.getProperty("java.io.tmpdir")
      val q = new Queries(spark, arg("data"), rows, seed, untracedRec)
      val w0 = System.nanoTime()
      q.checkPass(s"$runDir/outputs")
      result("warm_s") = (System.nanoTime() - w0) / 1e9
      val tmp0 = Ingest.dirBytes(tmp)
      val (u0, c0) = (System.nanoTime(), Calibration.cpuSeconds())
      q.passes(window)
      val untracedWall = (System.nanoTime() - u0) / 1e9
      result ++= Metrics.endToEnd(untracedRec.ops.toSeq, untracedWall, Calibration.cpuSeconds() - c0)
      result("queries.tmp_bytes_left") = (Ingest.dirBytes(tmp) - tmp0).toDouble / q.passesDone
      if (traced) {
        val t = new Recorder(new Tracer(spark, traced = true))
        val qt = new Queries(spark, arg("data"), rows, seed + 1, t)
        qt.brokenRows ++= q.brokenRows
        qt.passes(window)
        t.tracer.close()
        result ++= Metrics.spark(t.ops.toSeq, cores)
        result ++= Metrics.queryLayers(qt, t)
        result("env.trace_overhead_ratio") = Metrics.traceOverhead(untracedRec.ops.toSeq, t.ops.toSeq)
        t.tracer.writeSpans(java.nio.file.Paths.get(arg("out") + ".spans.jsonl"))
        tracedRec = Some(t)
      }
      result("row_samples") = rows.map(r => r.name -> untracedRec.ops.count(_.name == r.name)).toMap
      result("rows_broken") = q.brokenRows.toSeq
      result("passes") = q.passesDone
    }
    val loopEnd = System.nanoTime()
    result("op_median_s") = untracedRec.ops.groupBy(_.name).map { case (n, o) =>
      n -> Stats.median(o.map(_.seconds).toSeq) }
    stopSession(spark)
    result("heap_live_mb") = liveHeapMb()
    val calib1 = Calibration.run()

    val recs = untracedRec +: (tracedRec.toSeq ++ warmRec)
    result("attempted") = recs.map(_.attempted).sum
    result("failed") = recs.map(_.failed).sum
    result("failures") = recs.flatMap(_.failures)
    result("setup_s") = Stats.median(setupTimes.toSeq)
    result("setup_reps_s") = setupTimes.toSeq
    result("loop_s") = (loopEnd - loopStart) / 1e9
    result("env.calib_s") = (calib0 + calib1) / 2
    result("env.calib_start_s") = calib0
    result("env.calib_end_s") = calib1
    result("env.rss_peak_mb") = Calibration.peakRssMb()
    result("cores") = cores
    result("jvm") = System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")
    result("spark") = org.apache.spark.SPARK_VERSION
    java.nio.file.Files.write(java.nio.file.Paths.get(arg("out")),
      Json.render(result).getBytes("UTF-8"))
  }

  /** Heap still reachable after the loop's session has stopped, after a
    * full collection: what graft keeps beyond a session (memo tables,
    * store handles), without the session's own, timing-dependent state.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def startSession(cores: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}

/** Writes the DuckDB oracle SQL of every row in a row list as one JSON
  * object (null for rows without one); `make_expected.py` uses it.
  *
  *   perfbench.DumpOracles ROWS_FILE WORKLOAD OUT_FILE
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val Array(rowsFile, workload, out) = args
    val oracles = graft.queries.Catalog.oracles
    val rows = Queries.load(rowsFile, workload).map(r => r.name -> oracles.get(r.name).orNull)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      Json.render(scala.collection.immutable.ListMap(rows: _*)).getBytes("UTF-8"))
  }
}
