package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.{GraftDB, GraftOptions, KVEntry}
import graft.llmops.Search
import graft.operators.{AggView, JoinView}

/** The `ingest_mixed` workload: rounds of writes beside reads on three
  * fresh stores, a GraftDB, an AggView with a JoinView, and a text index.
  * Every input comes from the seed; the sequence of op types does not
  * depend on it. Each round makes KV ops (three reads per write) and then
  * appends to, reads and maintains the views and the index. Every get is checked against [[ShadowKV]]; scans and
  * view reads are collected inside the timed op and checked outside it.
  */
final class Ingest(val spark: SparkSession, root: String, seed: Long, private var rec: Recorder) {
  import Ingest._

  private val rng = new scala.util.Random(seed)
  val kvDir = s"$root/kv"
  val aggDir = s"$root/agg"
  val joinDir = s"$root/join"
  val textDir = s"$root/text"
  private val db = new GraftDB(spark, kvDir, GraftOptions(rangePartitions = Buckets))
  private val shadow = new ShadowKV
  private var nextId = 0L // KV ids: written keys are even, odd ids always miss
  private val recent = mutable.ArrayBuffer.empty[Long] // last written ids, oldest first
  private val written = mutable.ArrayBuffer.empty[Long]
  private val writtenSet = mutable.HashSet.empty[Long]
  var rowsCommitted = 0L
  var userBytes = 0L
  // view shadows
  private val aggCnt = Array.fill(Groups)(0L)
  private val aggCents = Array.fill(Groups)(0L)
  private val joinOids = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
  private var nextOid = 0L
  private val docs = mutable.ArrayBuffer.empty[(Long, Set[String])]
  private var nextDoc = 0L
  // roots since the last fold each maintain call reported
  var aggRoots = 1
  var joinRoots = 1
  var textRoots = 1
  val spaceAmps = mutable.ArrayBuffer.empty[Double]

  /** Route later ops to `r` (the warm-up, untraced and traced phases). */
  def withRecorder(r: Recorder): Ingest = { rec = r; this }

  private def key(id: Long): String = f"u$id%08d"
  private def now: Long = System.currentTimeMillis() / 1000

  private def value(): Array[Byte] = {
    val n = if (rng.nextDouble() < 0.3) 1100 + rng.nextInt(1900) else 16 + rng.nextInt(884)
    val b = new Array[Byte](n)
    rng.nextBytes(b)
    b
  }

  private def expiresAt(): Long = {
    val u = rng.nextDouble()
    if (u < 0.1) LongPast else if (u < 0.2) FarFuture else 0L
  }

  private def noteWritten(id: Long): Unit = {
    if (writtenSet.add(id)) written += id
    recent += id
    if (recent.size > 256) recent.remove(0)
  }

  /** A written id, recently written ones favoured. */
  private def pickWritten(): Long =
    if (recent.nonEmpty && rng.nextDouble() < 0.6) recent(rng.nextInt(recent.size))
    else written(rng.nextInt(written.size))

  /** `n` distinct ids for a write: new keys and overwrites of old ones. */
  private def pickForWrite(n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      if (written.isEmpty || rng.nextDouble() < 0.6) { out += nextId; nextId += 2 }
      else out += pickWritten()
    }
    out.toSeq
  }

  private def bytesOf(rows: Seq[(String, Array[Byte], Long)]): Long =
    rows.map { case (k, v, _) => k.length.toLong + v.length }.sum

  private def kvFrame(rows: Seq[(String, Array[Byte], Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (k, v, e) => Row(k.getBytes(US_ASCII), v, e) }, 1), KvSchema)

  // ------------------------------------------------------------ set-up

  /** Load the GraftDB with its initial keys. */
  def setup(): Unit = {
    val ids = pickForWrite(InitialKeys)
    val rows = ids.map(id => (key(id), value(), 0L))
    db.write(kvFrame(rows))
    commitKv(ids.zip(rows).map { case (id, (k, v, e)) => (id, k, v, e) })
  }

  /** Build the views and the text index with their initial loads. */
  def buildViews(): Unit = {
    AggView.buildAggView(aggFacts(200), aggDir, keys = Seq("g"), metrics = Seq("amt"),
      numBuckets = Buckets)
    JoinView.buildJoinView(joinFacts(200), dimFrame(), joinDir, joinKeys = Seq("ck"),
      numBuckets = Buckets)
    Search.buildTextIndex(docFrame(100), textDir, numBuckets = Buckets)
  }

  private def commitKv(rows: Seq[(Long, String, Array[Byte], Long)]): Unit = rows.foreach {
    case (id, k, v, e) =>
      shadow.put(k, v, e); noteWritten(id)
      rowsCommitted += 1; userBytes += k.length + v.length
  }

  // ------------------------------------------------------------ KV ops

  private def bulkWrite(): Unit = {
    val ids = pickForWrite(BulkRows)
    val rows = ids.map(id => (key(id), value(), expiresAt()))
    compactionAware("write", bytesOf(rows)) { db.write(kvFrame(rows)) }
      .foreach(_ => commitKv(ids.zip(rows).map { case (id, (k, v, e)) => (id, k, v, e) }))
  }

  private def batchSet(): Unit = {
    val ids = pickForWrite(BatchEntries)
    val rows = ids.map(id => (key(id), value(), expiresAt()))
    val entries = rows.map { case (k, v, e) =>
      KVEntry(k.getBytes(US_ASCII), v, 0L, e, tombstone = false, null) }
    compactionAware("batchSet", bytesOf(rows)) { db.batchSet(entries) }
      .foreach(_ => commitKv(ids.zip(rows).map { case (id, (k, v, e)) => (id, k, v, e) }))
  }

  private def del(): Unit = {
    val id = pickWritten()
    compactionAware("del", key(id).length) { db.del(key(id).getBytes(US_ASCII)) }.foreach { _ =>
      shadow.delete(key(id)); rowsCommitted += 1; userBytes += key(id).length
    }
  }

  /** A write op; in a traced run it also records whether it compacted
    * (level-0 segments fell) and the bytes of the files it created.
    */
  private def compactionAware(name: String, bytes: Long)(body: => Unit): Option[Unit] = {
    val before = if (rec.tracer.traced) Some((db.stats()("level0Segments"), files(kvDir))) else None
    rec.op("kv_write", name, before.map { case (l0, fs) =>
      val after = files(kvDir)
      Map("compacted" -> (if (db.stats()("level0Segments") < l0) 1.0 else 0.0),
        "new_bytes" -> after.iterator.filterNot(f => fs.contains(f._1)).map(_._2).sum.toDouble,
        "user_bytes" -> bytes.toDouble)
    }.getOrElse(Map.empty))(body)
  }

  private var gets = 0L

  /** A point get; every fifth one asks for a key that was never written. */
  private def get(): Unit = {
    gets += 1
    val miss = gets % 5 == 0
    val id = if (miss) 2 * rng.nextLong((nextId / 2).max(1)) + 1 else pickWritten()
    val k = key(id)
    rec.op("kv_get", "get")(db.get(k.getBytes(US_ASCII))).foreach { got =>
      val want = shadow.get(k, now)
      if (got.map(_.toSeq) != want.map(_.toSeq))
        rec.wrong(s"get $k: ${got.map(_.length)} bytes, expected ${want.map(_.length)}")
    }
  }

  private def scan(): Unit = {
    val prefix = key(pickWritten()).take(7)
    rec.op("kv_scan", "scan")(
      db.scan(prefix = Some(prefix.getBytes(US_ASCII))).select("key", "value").collect()
    ).foreach { rows =>
      val got = rows.map(r => (new String(r.getAs[Array[Byte]](0), US_ASCII), r.getAs[Array[Byte]](1).toSeq)).toVector
      val want = shadow.scanPrefix(prefix, now).map { case (k, v) => (k, v.toSeq) }
      if (got != want) rec.wrong(s"scan $prefix: ${got.size} rows, expected ${want.size}")
    }
  }

  // ------------------------------------------------------------ view ops

  private def aggFacts(n: Int): DataFrame = {
    val rows = Seq.fill(n) {
      val g = rng.nextInt(Groups); val cents = rng.nextInt(100000)
      aggCnt(g) += 1; aggCents(g) += cents
      Row(g, cents / 100.0)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), AggSchema)
  }

  private def joinFacts(n: Int): DataFrame = {
    val rows = Seq.fill(n) {
      val ck = rng.nextInt(Customers + 10).toLong; val oid = nextOid; nextOid += 1
      joinOids.getOrElseUpdate(ck, mutable.ArrayBuffer.empty) += oid
      Row(ck, oid, rng.nextInt(10000) / 100.0)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), FactSchema)
  }

  private def dimFrame(): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until Customers).map(ck => Row(ck, s"customer-$ck")), 1), DimSchema)

  private def word(): String = Vocab(math.min(Vocab.length - 1,
    (Vocab.length * math.pow(rng.nextDouble(), 2.0)).toInt))

  private def docFrame(n: Int): DataFrame = {
    val rows = Seq.fill(n) {
      val words = Seq.fill(8 + rng.nextInt(12))(word())
      val id = nextDoc; nextDoc += 1
      docs += ((id, words.toSet))
      Row(id, words.mkString(" "))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DocSchema)
  }

  private def viewStep(): Unit = { viewAppends(); viewReads(); viewMaintains() }

  private def viewAppends(): Unit = {
    val aggBatch = aggFacts(40)
    rec.op("view_append", "agg_append")(AggView.appendToAggView(aggDir, aggBatch))
      .foreach(_ => aggRoots += 1)
    val factBatch = joinFacts(40)
    rec.op("view_append", "join_append")(JoinView.appendFactsToJoinView(joinDir, factBatch))
      .foreach(_ => joinRoots += 1)
  }

  private def viewReads(): Unit = {
    rec.op("view_read", "agg_read", Map("roots" -> aggRoots.toDouble))(
      AggView.readAggView(spark, aggDir).select("g", "cnt", "amt_sum").collect()
    ).foreach { rows =>
      val got = rows.map(r => (r.getInt(0), (r.getLong(1), math.round(r.getDouble(2) * 100)))).toMap
      val want = (0 until Groups).filter(aggCnt(_) > 0).map(g => (g, (aggCnt(g), aggCents(g)))).toMap
      if (got != want) rec.wrong(s"agg view read: ${got.size} groups differ from the model")
    }
    val g = rng.nextInt(Groups)
    rec.op("view_read", "agg_lookup", Map("roots" -> aggRoots.toDouble))(
      AggView.lookupAggView(spark, aggDir, Seq(g)).select("cnt", "amt_sum").collect()
    ).foreach { rows =>
      val got = rows.map(r => (r.getLong(0), math.round(r.getDouble(1) * 100))).toSeq
      val want = if (aggCnt(g) > 0) Seq((aggCnt(g), aggCents(g))) else Nil
      if (got != want) rec.wrong(s"agg view lookup $g: $got, expected $want")
    }
    val ck = rng.nextInt(Customers + 10).toLong
    rec.op("view_read", "join_lookup", Map("roots" -> joinRoots.toDouble))(
      JoinView.lookupJoinView(spark, joinDir, Seq(ck)).select("oid").collect()
    ).foreach { rows =>
      val got = rows.map(_.getLong(0)).sorted.toSeq
      val want = if (ck < Customers) joinOids.get(ck).map(_.sorted.toSeq).getOrElse(Nil) else Nil
      if (got != want) rec.wrong(s"join view lookup $ck: ${got.size} rows, expected ${want.size}")
    }
  }

  private def viewMaintains(): Unit = {
    if (maintain("view_maintain", "agg_maintain")(AggView.maintainAggView(spark, aggDir, FoldRootsAbove))) aggRoots = 1
    if (maintain("view_maintain", "join_maintain")(JoinView.maintainJoinView(spark, joinDir, FoldRootsAbove))) joinRoots = 1
  }

  private def textStep(): Unit = {
    val docBatch = docFrame(10)
    rec.op("index_append", "text_append")(Search.appendToTextIndex(textDir, docBatch))
      .foreach(_ => textRoots += 1)
    textQuery()
    if (maintain("index_maintain", "text_maintain")(Search.maintainTextIndex(spark, textDir))) textRoots = 1
  }

  private def textQuery(): Unit = {
    val q = Seq(word(), word()).distinct
    val queries = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(0L, q.mkString(" "))), 1), QuerySchema)
    rec.op("index_query", "bm25", Map("roots" -> textRoots.toDouble))(
      Search.bm25TopKIndexed(spark, textDir, queries, k = TopK).select("doc_id").collect()
    ).foreach { rows =>
      val got = rows.map(_.getLong(0)).toSet
      val matching = docs.iterator.filter(_._2.exists(q.contains)).map(_._1).toSet
      if (!got.subsetOf(matching) || got.size != math.min(TopK, matching.size))
        rec.wrong(s"bm25 '${q.mkString(" ")}': ${got.size} hits, ${matching.size} docs match")
    }
  }

  /** A maintain call; records whether it folded. */
  private def maintain(kind: String, name: String)(body: => Boolean): Boolean = {
    var folded = false
    rec.op(kind, name, Map("folded" -> (if (folded) 1.0 else 0.0))) {
      folded = body; folded
    }.getOrElse(false)
  }

  // ------------------------------------------------------------ the loop

  private var blocks = 0L

  /** One write and three reads on the GraftDB. The op types follow a
    * fixed cycle (writes: bulk, batch, batch, delete; reads: two gets and
    * a scan, then three gets), so every seed runs the same mix.
    */
  private def kvBlock(): Unit = {
    blocks += 1
    (blocks % 4) match {
      case 1 => bulkWrite()
      case 0 => del()
      case _ => batchSet()
    }
    get(); get()
    if (blocks % 2 == 1) scan() else get()
    val live = shadow.liveBytes(now)
    if (live > 0) spaceAmps += dirBytes(kvDir).toDouble / live
  }

  /** One round: three KV blocks, then the views, then the text index. */
  private def round(): Unit = { kvBlock(); kvBlock(); kvBlock(); viewStep(); textStep() }

  /** Whole rounds for a window of `seconds`, one per [[RoundSeconds]]
    * (at least one). The count depends on the window alone, so every run
    * with the same window makes the same sequence of op types.
    */
  def rounds(seconds: Double): Unit =
    for (_ <- 1 to math.max(1, math.round(seconds / RoundSeconds).toInt)) round()

  /** The warm-up: build the views and the index, then one KV block and
    * every read type, so that no op type is first run timed.
    */
  def warmSteps(): Unit = { buildViews(); kvBlock(); viewReads(); textQuery() }

  def kvStats(): Map[String, Long] = db.stats()
}

object Ingest {
  /** Untimed warm-up steps with their own recorder: JIT, codegen and
    * first listings land here. Returns its seconds and its recorder.
    */
  def warm(w: Ingest): (Double, Recorder) = {
    val r = new Recorder(new Tracer(w.spark, traced = false))
    val prev = w.rec
    val t0 = System.nanoTime()
    w.withRecorder(r).warmSteps()
    w.withRecorder(prev)
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Partitions and buckets of every store: sized to stores of a few
    * thousand rows rather than to the defaults' multi-gigabyte tables.
    */
  val Buckets = 4
  /** Nominal length of one round on a 4-core machine. */
  val RoundSeconds = 7.5
  /** The views fold past this many roots, so a run sees reads of both
    * freshly folded and multi-root views.
    */
  val FoldRootsAbove = 2
  val InitialKeys = 2000
  val BulkRows = 200
  val BatchEntries = 20
  val Groups = 20
  val Customers = 50
  val TopK = 5
  val LongPast = 1L // 1970-01-01: expired whatever the clock says
  val FarFuture = 4102444800L // 2100-01-01
  val Vocab: Vector[String] = (0 until 300).map { i =>
    "w" + Integer.toString(i, 26).map(c => ('a' + Character.digit(c, 26)).toChar)
  }.toVector

  val KvSchema = StructType(Seq(StructField("key", BinaryType, false),
    StructField("value", BinaryType, true), StructField("expiresAt", LongType, false)))
  val AggSchema = StructType(Seq(StructField("g", IntegerType, false),
    StructField("amt", DoubleType, false)))
  val FactSchema = StructType(Seq(StructField("ck", LongType, false),
    StructField("oid", LongType, false), StructField("amt2", DoubleType, false)))
  val DimSchema = StructType(Seq(StructField("ck", LongType, false),
    StructField("cname", StringType, false)))
  val DocSchema = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false)))
  val QuerySchema = StructType(Seq(StructField("query_id", LongType, false),
    StructField("qtext", StringType, false)))

  /** Every regular file under `dir` with its size. */
  def files(dir: String): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile) out += f.getPath -> f.length
    walk(new java.io.File(dir))
    out.result()
  }

  def dirBytes(dir: String): Long = files(dir).valuesIterator.sum
}
