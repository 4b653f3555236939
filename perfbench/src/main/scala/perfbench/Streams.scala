package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{DocStream, EventStream}

/** Fixed load: backlog sizes, trigger sizes and open-loop rates are
  * constants, never derived at run time, so every commit measured gets
  * the same load. */
object Load {
  val WrpChunk = 50000        // events per drain trigger
  val WrpDrainChunks = 4
  val WrpRate = 12000.0       // open-loop events/s (~40% of drain rate)
  val DocChunk = 10000        // docs per drain trigger
  val DocDrainChunks = 8
  val DocRate = 4000.0        // open-loop docs/s (~1/3 of drain rate)
  val WarmRepeats = 3         // set-up repeats; setup_s takes their median
  val TickMs = 5L             // generator wake-up period
  // trigger phases in the order a micro-batch runs them
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
}

/** Drives one streaming pipeline shape over in-memory sources: closed
  * drains of a fixed backlog and an open loop at a fixed rate. */
abstract class StreamWorkload[T](val spark: SparkSession, val work: File,
    val seed: Long, val seconds: Int, val tracer: Option[Tracer]) {
  implicit def enc: Encoder[T]
  def chunk: Int
  def drainChunks: Int
  def rate: Double

  /** Payloads for the drain backlog and for the open loop. */
  def render(): Unit
  def drainItems: Array[T]
  def openItems: Array[T]
  /** Start the full pipeline on `src`, writing under `dir`. */
  def start(src: DataFrame, dir: File): StreamingQuery
  /** Verify what the full pipeline output in the drain (under
    * `drainDir`) and in the open loop (under `openDir`); returns
    * (attempted, failed, detail). */
  def check(drainDir: File, openDir: File): (Long, Long, Map[String, Any])
  /** Traced run: the pipeline's proper prefixes; the full pipeline is
    * layer `fullLayer`. */
  def prefixes: Seq[(String, DataFrame => DataFrame)]
  def fullLayer: String
  /** Traced run: further per-layer records after the stream phases. */
  def tracedExtras(t: Tracer, counters: Counters): Map[String, Any] = Map.empty

  private val nproc = spark.sparkContext.defaultParallelism
  private var phaseN = 0
  private def nextDir(name: String): File = {
    phaseN += 1
    new File(work, f"$phaseN%02d-$name")
  }

  def source(): MemoryStream[T] = MemoryStream[T](spark, nproc)

  /** Feed `chunks` one trigger at a time; seconds from first enqueue to
    * the last commit. */
  def drain(src: MemoryStream[T], q: StreamingQuery, chunks: Seq[Array[T]]): Double = {
    val t0 = System.nanoTime()
    chunks.foreach { c =>
      src.addData(c.toIndexedSeq)
      q.processAllAvailable()
    }
    (System.nanoTime() - t0) / 1e9
  }

  def chunks(items: Array[T], n: Int): Seq[Array[T]] =
    (0 until n).map(i => items.slice(i * chunk, (i + 1) * chunk))

  /** One set-up repeat: a fresh query warmed by one trigger of half a
    * drain chunk. */
  def warmOnce(): Double = {
    val t0 = System.nanoTime()
    val dir = nextDir("warm")
    val src = source()
    val q = start(src.toDF(), dir)
    try drain(src, q, Seq(drainItems.take(chunk / 2))) finally q.stop()
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed drain of the whole backlog through the full pipeline. */
  def drainPhase(): (Map[String, Any], File) = {
    val dir = nextDir("drain")
    val src = source()
    val q = start(src.toDF(), dir)
    val secs = try {
      val s = drain(src, q, chunks(drainItems, drainChunks))
      LiveHeap.sample()
      s
    } finally q.stop()
    (Map("items" -> drainChunks * chunk, "chunk" -> chunk, "seconds" -> secs,
      "triggers" -> Progress.triggers(q)), dir)
  }

  /** Open loop: one generator thread enqueues each item when it is due
    * (item k at t0 + k/rate), in whatever has come due per wake-up,
    * regardless of how far the query is behind. The query first takes
    * `openWarm` items in one untimed trigger, so the timed window does
    * not start on a new query's first, slower triggers. */
  def openPhase(): (Map[String, Any], File) = {
    val dir = nextDir("open")
    val src = source()
    val q = start(src.toDF(), dir)
    val items = openItems
    val sent = ArrayBuffer.empty[Seq[Any]]
    var t0 = 0.0
    var warmOffset = -1L
    val gen = new Thread(() => {
      var next = 0
      while (next < items.length) {
        val now = Clock.nowMs
        val due = if (now < t0) 0
          else math.min(items.length, ((now - t0) * rate / 1000.0).toInt + 1)
        if (due > next) {
          val off = src.addData(items.slice(next, due).toIndexedSeq)
          sent += Seq[Any](off.json().toLong, next, due - next, Clock.nowMs)
          next = due
        }
        Thread.sleep(Load.TickMs)
      }
    }, "perfbench-generator")
    try {
      warmOffset = src.addData(openWarm.toIndexedSeq).json().toLong
      q.processAllAvailable()
      t0 = Clock.nowMs + 100.0
      gen.start()
      gen.join()
      q.processAllAvailable()
      LiveHeap.sample()
    } finally q.stop()
    (Map("rate" -> rate, "t0_ms" -> t0, "offered" -> items.length,
      "chunks" -> sent.toList,
      "triggers" -> Progress.triggers(q).filter(_("end_off").asInstanceOf[Long] > warmOffset)),
      dir)
  }

  /** Items of the open loop's untimed warm-up trigger. */
  def openWarm: Array[T] = drainItems.take(chunk / 2)

  /** Traced run: the proper prefixes over the drain backlog, each into
    * Spark's noop sink, in pipeline order. */
  def prefixPhases(): Seq[(String, Map[String, Any])] =
    prefixes.map { case (name, f) =>
      val dir = nextDir(s"prefix-$name")
      val src = source()
      val q = f(src.toDF()).writeStream.format("noop")
        .option("checkpointLocation", new File(dir, "ck").getPath).start()
      val secs = try drain(src, q, chunks(drainItems, drainChunks)) finally q.stop()
      name -> Map("items" -> drainChunks * chunk, "seconds" -> secs,
        "triggers" -> Progress.triggers(q))
    }

  def run(): Map[String, Any] = {
    val wall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally wall(name) = (System.nanoTime() - t0) / 1e9
    }
    timed("render")(render())
    val warm = (1 to Load.WarmRepeats).map(_ => warmOnce())
    val out = Map.newBuilder[String, Any]
    out += "setup" -> Map("render_s" -> wall("render"), "warm_s" -> warm)
    LiveHeap.sample()
    out += "wall_s" -> wall
    // traced: the listener is on from here, and the prefixes run before
    // the drain, which is the full pipeline's entry in the layer chain
    val traced = tracer.map { t =>
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      (t, counters, timed("prefixes")(prefixPhases()))
    }
    val (drainRec, drainDir) = timed("drain")(drainPhase())
    out += "drain" -> drainRec
    val (openRec, openDir) = timed("open")(openPhase())
    out += "open" -> openRec
    val (attempted, failed, detail) = timed("check")(check(drainDir, openDir))
    out += "check" -> Map("attempted" -> attempted, "failed" -> failed, "detail" -> detail)
    traced.foreach { case (t, counters, pre) =>
      Thread.sleep(500) // let the listener bus deliver the last task ends
      val sparkTotals = counters.total.toMap
      val overheadPct = counters.busyShare * 100.0
      val layers = pre :+ (fullLayer -> drainRec)
      val root = t.add(-1, "layers", Progress.bounds(pre.head._2("triggers"))._1,
        Progress.bounds(drainRec("triggers"))._2)
      layers.foreach { case (name, rec) =>
        val (s0, s1) = Progress.bounds(rec("triggers"))
        val id = t.add(root, s"layer:$name", s0, s1,
          Map("items" -> rec("items"), "seconds" -> rec("seconds")))
        Progress.spans(t, id, rec("triggers"))
      }
      val (o0, o1) = Progress.bounds(openRec("triggers"))
      Progress.spans(t, t.add(-1, "open", o0, o1), openRec("triggers"))
      val extras = timed("extras")(tracedExtras(t, counters))
      spark.sparkContext.removeSparkListener(counters)
      out += "trace" -> (Map(
        "layers" -> layers.map { case (n, r) => r + ("layer" -> n) },
        "spark" -> sparkTotals, "overhead_pct" -> overheadPct,
        "sink" -> Files.stats(Seq(drainDir, openDir))) ++ extras)
    }
    out.result()
  }
}

object Progress {
  private def offset(s: String): Long =
    if (s == null || s.isEmpty) -1L else s.trim.toLong

  /** The data-carrying triggers of `q`, oldest first, as plain maps. */
  def triggers(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(record)

  private def record(p: StreamingQueryProgress): Map[String, Any] = Map(
    "batch" -> p.batchId,
    "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
    "rows" -> p.numInputRows,
    "start_off" -> offset(p.sources.head.startOffset),
    "end_off" -> offset(p.sources.head.endOffset),
    "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "state" -> p.stateOperators.toSeq.map(s => Map(
      "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
      "mem_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
      "update_ms" -> s.allUpdatesTimeMs)))

  private def ends(t: Map[String, Any]): (Double, Double) = {
    val s = t("ts_ms").asInstanceOf[Long].toDouble
    (s, s + t("dur").asInstanceOf[Map[String, Long]].getOrElse("triggerExecution", 0L))
  }

  def bounds(ts: Any): (Double, Double) = {
    val xs = ts.asInstanceOf[Seq[Map[String, Any]]].map(ends)
    if (xs.isEmpty) (0.0, 0.0) else (xs.map(_._1).min, xs.map(_._2).max)
  }

  /** One span per trigger under `parent`, with its phases as children
    * laid end to end in execution order (progress gives durations, not
    * start times). */
  def spans(t: Tracer, parent: Int, ts: Any): Unit =
    ts.asInstanceOf[Seq[Map[String, Any]]].foreach { tr =>
      val (s, e) = ends(tr)
      val id = t.add(parent, "trigger", s, e, Map("batch" -> tr("batch")))
      val dur = tr("dur").asInstanceOf[Map[String, Long]]
      var at = s
      Load.Phases.foreach { ph =>
        dur.get(ph).foreach { d =>
          t.add(id, ph, at, at + d)
          at += d
        }
      }
    }
}

object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Data files a sink wrote (checkpoints excluded). */
  def stats(dirs: Seq[File]): Map[String, Any] = {
    val files = dirs.flatMap(d => walk(new File(d, "out")))
      .filter(f => f.getName.startsWith("part-"))
    Map("files" -> files.size, "bytes" -> files.map(_.length).sum)
  }
}

/** WRP ingest: parse → validate → routeWithDevice(metaRoutes) →
  * batchedSink, the reference's request path. */
final class WrpRoute(spark: SparkSession, work: File, seed: Long, seconds: Int,
    tracer: Option[Tracer])
    extends StreamWorkload[String](spark, work, seed, seconds, tracer) {
  import spark.implicits._
  def enc: Encoder[String] = newStringEncoder
  val chunk = Load.WrpChunk
  val drainChunks = Load.WrpDrainChunks
  val rate = Load.WrpRate

  private val routeTable = graft.queries.Events.metaRoutes(spark)
  private val routes = routeTable.collect().toSeq
    .map(r => Route(r.getString(0), r.getString(1), r.getString(2)))
  private var drainEv: Array[WrpEvent] = _
  private var openEv: Array[WrpEvent] = _
  private var drainJson: Array[String] = _
  private var openJson: Array[String] = _

  def render(): Unit = {
    drainEv = Gen.wrp(seed, 0L, chunk * drainChunks, routes)
    openEv = Gen.wrp(seed, 100000000L, (rate * seconds).toInt, routes)
    drainJson = drainEv.map(_.json)
    openJson = openEv.map(_.json)
  }
  def drainItems: Array[String] = drainJson
  def openItems: Array[String] = openJson

  private def routed(src: DataFrame): DataFrame =
    EventStream.routeWithDevice(EventStream.validate(EventStream.parse(src)), routeTable)

  def start(src: DataFrame, dir: File): StreamingQuery =
    EventStream.batchedSink(routed(src), new File(dir, "out").getPath,
      new File(dir, "ck").getPath)

  def prefixes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "parse" -> (s => EventStream.parse(s)),
    "validate" -> (s => EventStream.validate(EventStream.parse(s))),
    "route" -> routed)
  val fullLayer = "sink"

  /** The catalog's event and WRP queries over this run's drain events,
    * written as an events table: the batch twins of the stream path. */
  override def tracedExtras(t: Tracer, counters: Counters): Map[String, Any] = {
    val dir = new File(work, "catalog")
    spark.createDataFrame(drainEv.toSeq.take(CatalogQueries.EventRows).map(e => (e.id,
        new java.sql.Timestamp(e.tsMs), e.userId, e.eventType, e.value,
        s"""{"k": ${e.id % 100}}""")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(new File(dir, "events.parquet").getPath)
    Map("queries" -> new CatalogQueries(spark, dir.getPath, CatalogQueries.Events)
      .timedPass(t, counters))
  }

  /** Both phases' sink output in one job: per phase and stream, the
    * rows, the distinct event ids and the invalid events delivered. */
  def check(drainDir: File, openDir: File): (Long, Long, Map[String, Any]) = {
    val phases = Seq("drain" -> (drainDir, drainEv),
      "open" -> (openDir, drainEv.take(chunk / 2) ++ openEv))
    val invalid = phases.flatMap(_._2._2.filter(_.invalid.nonEmpty).map(_.id))
    val got = phases.map { case (p, (dir, _)) =>
        spark.read.parquet(new File(dir, "out").getPath)
          .select(lit(p).as("phase"), col("stream"), col("event_id"))
      }.reduce(_ union _)
      .groupBy("phase", "stream")
      .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("ids"),
        sum(when(col("event_id").isin(invalid: _*), 1).otherwise(0)).as("bad"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val perPhase = phases.map { case (p, (_, truth)) =>
      val expected = truth.flatMap(_.routes).groupBy(identity).view
        .mapValues(_.length.toLong).toMap
      val mine = got.collect { case ((`p`, stream), v) => stream -> v }
      val missingOrExtra = (expected.keySet ++ mine.keySet).toSeq.map(s =>
        math.abs(mine.get(s).map(_._1).getOrElse(0L) - expected.getOrElse(s, 0L))).sum
      val dups = mine.values.map(g => g._1 - g._2).sum
      val bad = mine.values.map(_._3).sum
      (expected.values.sum, missingOrExtra + dups + bad, p -> Map(
        "expected" -> expected, "delivered" -> mine.map { case (k, v) => k -> v._1 },
        "duplicates" -> dups, "invalid_delivered" -> bad,
        "invalid_offered" -> truth.count(_.invalid.nonEmpty)))
    }
    (perPhase.map(_._1).sum, perPhase.map(_._2).sum, perPhase.map(_._3).toMap)
  }
}

/** Streaming near-dup: nearDupVerdicts → decisions, into a sink the
  * benchmark owns that collects each doc's decision. */
final class DocNearDup(spark: SparkSession, work: File, seed: Long, seconds: Int,
    tracer: Option[Tracer])
    extends StreamWorkload[(Long, String)](spark, work, seed, seconds, tracer) {
  import spark.implicits._
  def enc: Encoder[(Long, String)] = newProductEncoder[(Long, String)]
  val chunk = Load.DocChunk
  val drainChunks = Load.DocDrainChunks
  val rate = Load.DocRate

  private var drainDocs: Array[Doc] = _
  private var openDocs: Array[Doc] = _
  private var drainRows: Array[(Long, String)] = _
  private var openRows: Array[(Long, String)] = _
  // decisions per output dir, collected by the sink
  private val decided = scala.collection.concurrent.TrieMap.empty[String, ArrayBuffer[(Long, Option[Long])]]

  def render(): Unit = {
    drainDocs = Gen.docs(seed, 0L, chunk * drainChunks)
    openDocs = Gen.docs(seed, 100000000L, (rate * seconds).toInt)
    drainRows = drainDocs.map(d => (d.id, d.text))
    openRows = openDocs.map(d => (d.id, d.text))
  }
  def drainItems: Array[(Long, String)] = drainRows
  def openItems: Array[(Long, String)] = openRows

  private def docs(src: DataFrame): DataFrame = src.toDF("doc_id", "text")

  def start(src: DataFrame, dir: File): StreamingQuery = {
    val buf = decided.getOrElseUpdate(dir.getPath, ArrayBuffer.empty)
    DocStream.nearDupVerdicts(docs(src)).toDF().writeStream
      .option("checkpointLocation", new File(dir, "ck").getPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = DocStream.decisions(batch).select("doc_id", "dup_of").collect()
        buf.synchronized {
          rows.foreach(r => buf += ((r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))))
        }
        ()
      }
      .start()
  }

  def prefixes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "signature" -> (s => DocStream.withSignature(docs(s))),
    "bands" -> (s => DocStream.bandRows(DocStream.withSignature(docs(s)), 16, 4)),
    "state" -> (s => DocStream.nearDupVerdicts(docs(s)).toDF()))
  val fullLayer = "decide"

  def check(drainDir: File, openDir: File): (Long, Long, Map[String, Any]) = {
    val perPhase = Seq("drain" -> (drainDir, drainDocs),
        "open" -> (openDir, drainDocs.take(chunk / 2) ++ openDocs)).map {
      case (p, (dir, truth)) =>
        val got = decided.getOrElse(dir.getPath, ArrayBuffer.empty).toSeq
        val perDoc = got.groupBy(_._1)
        val ids = truth.map(_.id).toSet
        val notOnce = truth.count(d => perDoc.get(d.id).forall(_.size != 1))
        val unknown = perDoc.keys.count(id => !ids(id))
        val later = got.count { case (id, dup) => dup.exists(_ >= id) }
        val planted = truth.filter(_.plantedFrom.nonEmpty)
        val caught = planted.count(d => perDoc.get(d.id).exists(_.exists(_._2.nonEmpty)))
        (truth.length.toLong, (notOnce + unknown + later).toLong, p -> Map(
          "docs" -> truth.length, "decisions" -> got.size, "not_once" -> notOnce,
          "unknown" -> unknown, "dup_of_not_earlier" -> later,
          "planted" -> planted.length, "planted_flagged" -> caught,
          "flagged" -> got.count(_._2.nonEmpty)))
    }
    (perPhase.map(_._1).sum, perPhase.map(_._2).sum, perPhase.map(_._3).toMap)
  }
}
