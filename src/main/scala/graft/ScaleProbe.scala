package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.operators.{BpeTokenizer, GraphDedup, KnnGraph, Similarity, TextFeatures}
import graft.operators.Similarity.IvfPqIndex
import graft.queries.Scoring
import graft.streaming.{DocStream, EmbStream, EventStream}

/** Ad-hoc scale probe (SURVEY §5b): times selected operators against an
  * arbitrary data directory — used with synthetic larger-than-testdata
  * tables to confirm the scale-path plans beat their exact twins once N
  * grows. Usage:
  * runMain graft.ScaleProbe [--records=<dir>] <dir> <query> [query ...]
  *
  * Every probe appends a machine-readable record (corpus, config, wall
  * time, rows, and where computable planted-dup recall) to PROBES.json
  * in the records dir (default: the working directory), merging with
  * any existing records — scale evidence lives as a diffable committed
  * artifact, not prose. `streamsuite` also writes STREAMBENCH.json
  * there. */
object ScaleProbe {

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000
  private def r4(x: Double): Double = math.rint(x * 10000) / 10000

  /** (result, seconds) of one timed step. */
  private def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e9)
  }

  private def writeJson(path: java.nio.file.Path, value: Map[String, Any]): Unit = {
    import org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization
    java.nio.file.Files.write(path,
      Serialization.writePretty(value)(DefaultFormats).getBytes("UTF-8"))
  }

  /** Merges one run's records into `recordsDir`/PROBES.json (sorted
    * keys, overwrite-by-key) so repeated runs keep refreshing the same
    * entries. */
  private def writeRecords(recordsDir: String,
      records: Seq[(String, Map[String, Any])]): Unit = if (records.nonEmpty) {
    val p = java.nio.file.Paths.get(recordsDir, "PROBES.json")
    val existing: Map[String, Any] =
      if (java.nio.file.Files.exists(p))
        org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(p))
          .values.asInstanceOf[Map[String, Any]]
      else Map.empty
    writeJson(p, scala.collection.immutable.TreeMap[String, Any]() ++
      existing ++ records)
    println(s"[probe] wrote ${records.size} record(s) -> $p")
  }

  /** Fraction of the `planted` highest-id corpus rows (the probe
    * generators plant near-dups at the id tail) surfacing in at least
    * one mined pair — found/planted recall for the mining probes. */
  private def plantedRecall(pairs: DataFrame, a: String, b: String,
      total: Long, planted: Long): Double = {
    val cut = total - planted
    val found = pairs.select(col(a).as("x"))
      .union(pairs.select(col(b).as("x")))
      .filter(col("x") >= cut).distinct().count()
    found.toDouble / planted
  }

  /** corpus_rows always; planted + recall when the probe arg carries a
    * trailing `pN` (N = planted tail size). */
  private def recallFields(pairs: DataFrame, a: String, b: String,
      corpus: DataFrame, rest: Seq[String]): Map[String, Any] = {
    val total = corpus.count()
    val base: Map[String, Any] = Map("corpus_rows" -> total)
    rest.headOption
      .filter(r => r.startsWith("p") && r.drop(1).nonEmpty && r.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong) match {
      case Some(p) =>
        base ++ Map("planted" -> p,
          "recall" -> plantedRecall(pairs, a, b, total, p))
      case None => base
    }
  }

  /** Sums numInputRows over completed micro-batches via a listener.
    * Polling lastProgress and deriving rows from batchId arithmetic
    * assumes every batch carries exactly rowsPerBatch and that no
    * progress event is missed between polls; accumulating the reported
    * numInputRows holds even if the source ever emits a short batch. */
  private final class RowsListener extends StreamingQueryListener {
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    // STREAMBENCH v2 (VERDICT r12 #7): per-micro-batch processing time
    // and state-store size from StreamingQueryProgress, so streaming
    // regressions in LATENCY or state growth diff round over round, not
    // just throughput. Only batches that processed rows count toward
    // the percentiles — idle ticks would read as spurious sub-ms wins.
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var stateRows: Long = 0L
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      rows.addAndGet(p.numInputRows)
      if (p.numInputRows > 0) {
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)
        batchMs.synchronized { batchMs += ms }
        stateRows = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    /** STREAMBENCH fields: the first (warm-up) batch on its own, and
      * nearest-rank percentiles over the batches after it — a probe
      * sees only a handful of batches, so over all of them p99 would
      * just be the warm-up batch. */
    def stats: Map[String, Any] = batchMs.synchronized {
      if (batchMs.isEmpty) Map.empty
      else {
        val s = batchMs.tail.sorted
        def pct(p: Double): Long =
          s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
        val steady =
          if (s.isEmpty) Map.empty
          else Map("batch_ms_p50" -> pct(0.50), "batch_ms_p99" -> pct(0.99),
            "batch_ms_max" -> s.last)
        Map("n_batches" -> batchMs.length, "batch_ms_first" -> batchMs.head,
          "state_rows" -> stateRows) ++ steady
      }
    }
  }

  /** One stream probe's outcome: input rows, wall secs from start to
    * target, and the listener's per-batch stats. */
  private final case class StreamRun(rows: Long, secs: Double,
      stats: Map[String, Any]) {
    /** `rateKey` (per second of `n`), rounded secs and the stats. */
    def fields(rateKey: String, n: Long = rows): Map[String, Any] =
      Map(rateKey -> math.rint(n / secs), "secs" -> r3(secs)) ++ stats
  }

  /** The one stream runner: starts the query with a probe-scoped
    * checkpoint dir and runs it until >= target input rows have been
    * processed. Every stream probe, noop or sink, goes through here.
    * The query is stopped BEFORE the checkpoint is deleted, or the
    * active query races the delete. */
  private def runStreamToTarget(spark: SparkSession, what: String,
      target: Long)(start: String => StreamingQuery): StreamRun =
    withTempDirs(s"${what}_ckpt") { case Seq(ckpt) =>
      val listener = new RowsListener
      spark.streams.addListener(listener)
      var qq: StreamingQuery = null
      try {
        qq = start(ckpt)
        val t1 = System.nanoTime()
        var done = 0L
        while (done < target) {
          Thread.sleep(100)
          if (!qq.isActive)
            throw qq.exception.getOrElse(new IllegalStateException(
              s"$what probe query terminated before reaching target"))
          done = listener.rows.get()
        }
        qq.stop()
        val run = StreamRun(done, (System.nanoTime() - t1) / 1e9, listener.stats)
        println(f"[probe] $what%-20s ${done / run.secs}%.0f rows/s " +
          f"($done rows in ${run.secs}%.1f s) ${run.stats}")
        run
      } finally {
        spark.streams.removeListener(listener)
        if (qq != null && qq.isActive) {
          try qq.stop()
          catch { case _: Throwable => () }
        }
      }
    }

  /** Unbounded synthetic rows: a rate-micro-batch source over 32
    * partitions. */
  private def rate(spark: SparkSession, rowsPerBatch: Long): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", 32).load()

  /** Deterministic ~30-word docs over a 5000-word vocab (real bucket
    * collisions occur) from a `value` column. */
  private def synthDocs(df: DataFrame): DataFrame = df.selectExpr(
    "value AS doc_id",
    """array_join(transform(sequence(1, 30),
      |  i -> concat('w', pmod(value * 31 + i * 7, 5000))), ' ')
      |AS text""".stripMargin.replaceAll("\n", ""))

  /** Deterministic 64-dim vector in [-1, 1] from a `value` column. */
  private val synthVec =
    """transform(sequence(0, 63), j ->
      |  (cast(pmod(value * 131 + j * 17, 2001) as double)
      |   - 1000.0) / 1000.0)""".stripMargin.replaceAll("\n", "")

  /** Streaming-pipeline builders shared by the single-probe modes and
    * the [[streamSuite]]: each returns an unbounded DataFrame over a
    * rate-micro-batch source, ready for runStreamToTarget. */
  private def routeStreamDf(spark: SparkSession): DataFrame = {
    // end-to-end ingest: WRP JSON → parse → validate → broadcast route
    // fanout (the reference's request path as a stream)
    val json = rate(spark, 100000L).selectExpr(
      """concat('{"msg_type":4,"source":"mac:', value % 5000,
        |'","dest":"event:', element_at(
        |  array('click','view','purchase','error','heartbeat'),
        |  cast(value % 5 as int) + 1),
        |'/', value, '","event_id":', value,
        |',"user_id":', value % 5000,
        |',"ts":"2024-01-01 00:00:01","value":1.5}')
        |AS value""".stripMargin.replaceAll("\n", ""))
    EventStream.route(EventStream.validate(EventStream.parse(json)), spark)
  }

  private def docStreamDf(spark: SparkSession): DataFrame =
    // streaming near-dup suppression: synthetic docs → MinHash/LSH
    // verdicts (stateful, per-band-bucket)
    DocStream.nearDupVerdicts(synthDocs(rate(spark, 20000L)),
      n = 3, k = 16, bands = 4, tau = 0.5).toDF()

  private def domainCapStreamDf(spark: SparkSession): DataFrame = {
    // streaming per-domain admission cap: 2000 synthetic domains, so
    // state stays a flat 2000 counter rows however many docs flow —
    // the state_rows field is the probe's point
    val docs = rate(spark, 100000L).selectExpr(
      "value AS doc_id",
      "concat('src', value % 2000) AS source")
    DocStream.domainCapVerdicts(docs, cap = 50).toDF()
  }

  private def syntheticEvts(spark: SparkSession): org.apache.spark.sql.Dataset[graft.streaming.Evt] = {
    // synthetic events with monotone per-type timestamps (1 type-second
    // per 500 rows → size, gap and tick flushes all fire)
    import spark.implicits._
    rate(spark, 100000L).selectExpr(
        "value % 5000 AS user_id",
        """cast(timestamp '2024-01-01 00:00:00'
          |  + make_dt_interval(0, 0, 0, cast(value / 500 as double)
          |    + cast(value % 97 as double) * 40.0) AS timestamp) AS ts"""
          .stripMargin.replaceAll("\n", ""),
        """element_at(array('click','view','purchase','error','heartbeat'),
          |  cast(value % 5 as int) + 1) AS event_type"""
          .stripMargin.replaceAll("\n", ""),
        "value AS event_id",
        "CAST(1.5 AS DOUBLE) AS value")
      .as[graft.streaming.Evt]
  }

  private def batchFlushStreamDf(spark: SparkSession,
      close: graft.streaming.QueueClose): DataFrame =
    // the stateful queue replay, keyed state per type; the suite runs it
    // under both close models so they diff side by side
    EventStream.batchFlush(syntheticEvts(spark), batchSize = 100, close).toDF()

  private def queueLatencyStreamDf(spark: SparkSession): DataFrame =
    // queue-latency observations: the gap-model replay, then one
    // LatencyObs per member — it EMITS one row per input row, so its
    // batch latency needs its own probe
    EventStream.queueLatency(EventStream.batchFlush(syntheticEvts(spark),
      batchSize = 100, graft.streaming.GapClose(600))).toDF()

  /** The suite's pipelines: (name, builder, target divisor). Docs and
    * the stateful flusher are an order slower per row than stateless
    * route fanout — their targets are scaled so the suite stays
    * minutes, not hours, while every probe still spans many batches.
    * `stream:N` and `docstream:N` run `events_route` and
    * `docs_neardup` on their own. */
  private val suite: Seq[(String, SparkSession => DataFrame, Long)] = Seq(
    ("events_route", routeStreamDf, 1L),
    ("events_batch_flush",
      s => batchFlushStreamDf(s, graft.streaming.GapClose(600)), 5L),
    ("events_batch_periodic",
      s => batchFlushStreamDf(s, graft.streaming.TickClose(600)), 5L),
    ("events_queue_latency", queueLatencyStreamDf, 5L),
    ("docs_neardup", docStreamDf, 10L),
    ("docs_domain_cap", domainCapStreamDf, 1L))

  /** Runs the suite pipeline `name` to a noop sink. */
  private def noopRun(spark: SparkSession, name: String,
      target: Long): StreamRun = {
    val df = suite.collectFirst { case (`name`, mk, _) => mk(spark) }.get
    runStreamToTarget(spark, name, target)(ckpt =>
      df.writeStream.format("noop")
        .option("checkpointLocation", ckpt).start())
  }

  /** The committed streaming-regression record (VERDICT r11 #7, v2 per
    * r12 #7): run the suite pipelines to a row target each and write
    * ONE driver-parseable STREAMBENCH.json into the records dir —
    * per-probe rows, wall secs, rows/sec, and since v2 the
    * per-micro-batch processing-time percentiles (p50/p99/max over the
    * row-processing batches after the first, which is
    * `batch_ms_first`) plus the final state-store row count, so latency
    * and state-growth regressions diff round over round like the batch
    * BENCH files. */
  private def streamSuite(spark: SparkSession, target: Long,
      recordsDir: String): (Long, Map[String, Any]) = {
    val recs = suite.map { case (name, _, div) =>
      val run = noopRun(spark, name, target / div)
      name -> (run.fields("rows_per_s") + ("rows" -> run.rows))
    }
    val p = java.nio.file.Paths.get(recordsDir, "STREAMBENCH.json")
    writeJson(p, Map[String, Any]("metric" -> "stream_suite",
      "unit" -> "rows_per_s", "target" -> target,
      "probes" -> scala.collection.immutable.TreeMap(recs: _*)))
    println(s"[probe] wrote $p")
    (recs.map(_._2("rows").asInstanceOf[Long]).sum,
      recs.map { case (n, m) => s"${n}_rows_per_s" -> m("rows_per_s") }.toMap)
  }

  private def vecs(spark: SparkSession, dir: String, withLabel: Boolean): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    val sel =
      if (withLabel) base.select(col("vec_id"), col("label").as("cluster_by"),
        col("embedding").cast("array<double>").as("e"))
      else base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
    sel.withColumn("norm", sqrt(
      graft.functions.DotProduct.column(col("e"), col("e"))))
  }

  /** v-shaped rows (vec_id, e, norm) as a search's query side. */
  private def asQueries(v: DataFrame): DataFrame =
    v.select(col("vec_id").as("query_id"), col("e").as("qe"),
      col("norm").as("qnorm"))

  /** Total bytes of regular files under a directory (index/raw dump
    * size accounting for the compression-ratio probes). */
  private def dirBytes(p: String): Long = {
    val base = java.nio.file.Paths.get(p)
    val s = java.nio.file.Files.walk(base)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Code bytes vs a float32 dump of the same vectors, written next to
    * the index only for the byte ratio. */
  private def bytesFields(v: DataFrame, dir: String, index: String,
      key: String): Map[String, Any] = {
    v.select(col("vec_id"), col("e").cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/raw32")
    val (ib, rb) = (dirBytes(s"$dir/$index"), dirBytes(s"$dir/raw32"))
    println(f"[probe] $key=${ib / 1024}%d KiB raw32=${rb / 1024}%d KiB")
    Map(key -> ib, "raw32_bytes" -> rb,
      "bytes_ratio" -> math.rint(rb.toDouble / ib * 100) / 100)
  }

  /** Brute-force exact cosine top-k id pairs for the first `nQ`
    * vec_ids — the SHARED recall baseline of every ANN probe (one
    * definition so no two probes can measure recall against different
    * baselines). Harness-side collect of nQ·k id pairs only, never
    * corpus rows. */
  private def exactTopK(v: DataFrame, nQ: Int, k: Int): Set[(Long, Long)] =
    exactTopKFor(v, v.filter(col("vec_id") < nQ), k)

  /** exactTopK against an explicit query subset of v-shaped rows
    * (vec_id, e, norm) — any predicate: the refit probe queries
    * DRIFTED ids, not the 0..nQ prefix. */
  private def exactTopKFor(v: DataFrame, q: DataFrame,
      k: Int): Set[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val dotc = graft.functions.DotProduct.column _
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs(v.select(col("vec_id").as("neighbor_id"), col("e"), col("norm"))
      .crossJoin(broadcast(asQueries(q)))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        dotc(col("e"), col("qe")) / (col("norm") * col("qnorm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)).toSet
  }

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  private def recallOf(got: Array[(Long, Long)],
      exact: Set[(Long, Long)]): Double =
    got.count(exact.contains).toDouble / exact.size

  /** Recall of one search against the exact top-k, and the seconds the
    * search took (its collect included). */
  private def timedRecall(exact: Set[(Long, Long)])(
      search: => DataFrame): (Double, Double) = {
    val (got, s) = timed(pairs(search))
    (recallOf(got, exact), s)
  }

  /** nprobe points of a recall curve over `cells` cells. */
  private def sweep(cells: Int): Seq[Int] =
    Seq(1, 2, 4, 8).filter(_ < cells) :+ cells

  /** The recall/latency curve: one scored search per nprobe point. */
  private def sweepCurve(what: String, nprobes: Seq[Int],
      exact: Set[(Long, Long)])(search: Int => DataFrame): Seq[Map[String, Any]] =
    nprobes.map { np =>
      val (recall, s) = timedRecall(exact)(search(np))
      println(f"[probe] $what nprobe=$np%-3d recall=$recall%.4f  $s%6.2f s")
      Map[String, Any]("nprobe" -> np, "recall" -> r4(recall), "secs" -> r3(s))
    }

  /** Fits an IVF-PQ index, saves it under `dir` and reloads it; returns
    * the reloaded index and the fit + save seconds. Probes and sinks
    * search the reloaded artifact: the fit result is plan-backed, and
    * handing it on re-runs the whole fit at every use (measured 82 s
    * per micro-batch in textadmit; reloaded, the batch pays only the
    * search). */
  private def fitSaved(spark: SparkSession, dir: String)(
      fit: => IvfPqIndex): (IvfPqIndex, Double) = {
    val (_, secs) = timed(Similarity.saveIvfPqIndex(fit, dir))
    (Similarity.loadIvfPqIndex(spark, dir), secs)
  }

  /** The PQ probe family's settings. `cells` None = flat PQ (`pqFit`,
    * the one-cell index), `train` None = full-corpus training, `kShort`
    * Some = ADC vs refined recall at one nprobe. */
  private final case class PqProbe(name: String, m: Int, kc: Int,
      cells: Option[Int], train: Option[Int], topk: Int, kShort: Option[Int]) {
    /** Flat PQ has one cell; refine over IVFADC fixes nprobe = 4 (the
      * production two-knob config: nprobe widens the scored fraction,
      * kShort deepens the exact pass); plain IVFADC sweeps. */
    def nprobes: Seq[Int] = (cells, kShort) match {
      case (None, _) => Seq(1)
      case (Some(_), Some(_)) => Seq(4)
      case (Some(c), None) => sweep(c)
    }
    /** code/raw32 bytes are measured on the full-fit spellings (pq, ivfpq) */
    def bytes: Boolean = train.isEmpty
  }

  /** The six PQ spellings, each with at most one trailing tag:
    * pq:m:kc:k, pqs:m:kc:train:k, pqr:m:kc:train:k:kShort,
    * ivfpq:m:kc:C:k, ivfpqs:m:kc:C:train:k, ivfpqr:m:kc:C:train:k:kShort. */
  private object PqSpelling {
    def unapply(a: Array[String]): Option[PqProbe] = {
      def p(m: String, kc: String, c: Option[String], tr: Option[String],
          k: String, ks: Option[String]) = Some(PqProbe(a(0), m.toInt,
        kc.toInt, c.map(_.toInt), tr.map(_.toInt), k.toInt, ks.map(_.toInt)))
      a match {
        case Array("pq", m, kc, k, tag @ _*) if tag.size <= 1 =>
          p(m, kc, None, None, k, None)
        case Array("pqs", m, kc, tr, k, tag @ _*) if tag.size <= 1 =>
          p(m, kc, None, Some(tr), k, None)
        case Array("pqr", m, kc, tr, k, ks, tag @ _*) if tag.size <= 1 =>
          p(m, kc, None, Some(tr), k, Some(ks))
        case Array("ivfpq", m, kc, c, k, tag @ _*) if tag.size <= 1 =>
          p(m, kc, Some(c), None, k, None)
        case Array("ivfpqs", m, kc, c, tr, k, tag @ _*) if tag.size <= 1 =>
          p(m, kc, Some(c), Some(tr), k, None)
        case Array("ivfpqr", m, kc, c, tr, k, ks, tag @ _*) if tag.size <= 1 =>
          p(m, kc, Some(c), Some(tr), k, Some(ks))
        case _ => None
      }
    }
  }

  /** The one PQ probe body (r15 pq/ivfpq, r17 pqs/pqr/ivfpqs/ivfpqr):
    * fit (flat PQ or IVFADC — coarse cells + PQ on residuals; with
    * `train`, the Lloyd's rounds of coarse cells and codebooks alike
    * iterate only that many hash-sampled vectors and the corpus is
    * encoded in one final map-side pass, the 100 TB fit path: compare
    * its build_secs and recall with the full-fit record at the same
    * (m, kc)), persist/reload the stamped artifact, then score
    * against the shared exact top-k: one ADC search (flat), the nprobe
    * curve (IVFADC), or ADC vs a two-stage refine (Jégou §VI /
    * IndexRefineFlat: ADC shortlist of kShort + exact re-rank from the
    * raw floats, so the kShort knob has a measured curve like nprobe
    * does). */
  private def pqProbe(spark: SparkSession, dir: String,
      p: PqProbe): (Long, Map[String, Any]) = {
    val nQ = 50
    val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
    withTempDirs(p.name) { case Seq(idxDir) =>
      val trainN = p.train.getOrElse(0)
      val (idx, buildSecs) = fitSaved(spark, idxDir)(p.cells match {
        case None => Similarity.pqFit(v, dim = 64, m = p.m, kc = p.kc,
          iters = 3, trainN = trainN)
        case Some(c) => Similarity.ivfPqFit(v, dim = 64, m = p.m, kc = p.kc,
          kCoarse = c, iters = 3, trainN = trainN)
      })
      val exact = exactTopK(v, nQ, p.topk)
      val qside = broadcast(asQueries(v.filter(col("vec_id") < nQ)))
      def adc(np: Int) = Similarity.ivfPqSearch(idx, qside, p.topk, np)
      val scored: Map[String, Any] = (p.kShort, p.cells) match {
        case (None, None) =>
          val (recall, s) = timedRecall(exact)(adc(1))
          println(f"[probe] ${p.name} recall=$recall%.4f search=$s%.2f s")
          Map("search_secs" -> r3(s), "recall" -> r4(recall))
        case (None, Some(_)) =>
          Map("curve" -> sweepCurve(p.name, p.nprobes, exact)(adc))
        case (Some(ks), _) =>
          val np = p.nprobes.head
          val (adcRecall, adcSecs) = timedRecall(exact)(adc(np))
          val (refRecall, refSecs) = timedRecall(exact)(
            Similarity.ivfPqSearchRefine(idx, qside,
              v.select(col("vec_id"), col("e")), p.topk, ks, np))
          println(f"[probe] ${p.name} nprobe=$np kShort=$ks%d " +
            f"adc=$adcRecall%.4f ($adcSecs%.2f s) -> " +
            f"refined=$refRecall%.4f ($refSecs%.2f s)")
          Map("adc_secs" -> r3(adcSecs), "refine_secs" -> r3(refSecs),
            "recall_adc" -> r4(adcRecall), "recall_refined" -> r4(refRecall),
            "k_short" -> ks) ++ p.cells.map(_ => "nprobe" -> np)
      }
      (exact.size.toLong, Map[String, Any]("build_secs" -> r3(buildSecs),
        "m" -> p.m, "kc" -> p.kc, "topk" -> p.topk, "n_queries" -> nQ) ++
        p.cells.map("k_coarse" -> _) ++ p.train.map("train_n" -> _) ++ scored ++
        (if (p.bytes) bytesFields(v, idxDir, "codes", "codes_bytes") else Map.empty))
    }
  }

  /** knn/knndedup's shared build: fit + save + reload an IVF-PQ index,
    * write the bulk kNN graph of the `nq` lowest vec_ids (a
    * NON-broadcast query side: map-side probe, cluster-co-partitioned
    * scoring join) to a temp dir, and hand (vectors, graph, graph
    * secs) to `use`; the config fields are added to its record. */
  private def withBulkGraph(spark: SparkSession, dir: String, what: String,
      a: Seq[String])(use: (DataFrame, DataFrame, Double) =>
      (Long, Map[String, Any])): (Long, Map[String, Any]) = {
    val Seq(m, kc, kCoarse, train, topk, np, nq) = a.map(_.toInt)
    val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
    withTempDirs(s"${what}_idx", s"${what}_graph") { case Seq(idxDir, gDir) =>
      val (idx, buildSecs) = fitSaved(spark, idxDir)(Similarity.ivfPqFit(
        v, dim = 64, m = m, kc = kc, kCoarse = kCoarse, iters = 3, trainN = train))
      val (_, graphSecs) = timed(Similarity.ivfPqSearch(idx,
          asQueries(v.filter(col("vec_id") < nq)), topk, np, bulk = true)
        .write.mode("overwrite").parquet(gDir))
      val (n, fields) = use(v, spark.read.parquet(gDir), graphSecs)
      (n, fields ++ Map("build_secs" -> r3(buildSecs), "m" -> m, "kc" -> kc,
        "k_coarse" -> kCoarse, "nprobe" -> np, "train_n" -> train,
        "topk" -> topk, "n_queries" -> nq))
    }
  }

  /** splitmix64-style finalizer. A plain multiply-shift is AFFINE in
    * its argument, which makes any two inputs differing by a constant
    * collapse to the same pattern (measured on mmdedup images: 7.5% of
    * unrelated pairs over cos 0.99); the xor-shift mixing drops the
    * unrelated max to 0.758 while planted pairs stay >= 0.9999999. */
  private def mix(x: Long): Long = {
    var h = x * -7046029254386353131L // 0x9E3779B97F4A7C15
    h ^= (h >>> 31)
    h *= -4658895280553007687L // 0xBF58476D1CE4E5B9
    h ^ (h >>> 27)
  }

  /** Deterministic synthetic 40-token doc: tokens from a splitmix
    * stream over an effectively unbounded vocabulary, so unigram
    * bucket profiles of distinct ids are near-orthogonal (expected
    * cos ~ 40/256) while a one-word edit keeps cos ≥ 39/40. Shared by
    * the textdedup and textadmit probes. */
  private def synthTextWords(base: Long): Array[String] =
    Array.tabulate(40)(j => s"t${mix(base * 131L + j * 17L) & 0xffffff}")

  /** The production graph-dedup path behind mmdedup and textdedup:
    * IVF-PQ fit over `feats`, bulk ADC shortlists of kShort, EXACT
    * cosine re-rank to k = 3 before the tau verdict (the 41j refine
    * pattern — a near-1 duplicate gate on raw ADC scores drops true
    * dups on quantization error alone: measured planted recall 0.26
    * unrefined vs 1.0 refined at 2k), then knnGraphDedup. Gates on
    * planted-pair recall: every (i-1, i) pair with (i-1) % every == 0
    * must share a component. */
  private def plantedGraphDedup(what: String, feats: DataFrame, dim: Int,
      m: Int, kShort: Int, nprobe: Int, tau: Double,
      every: Int): Map[String, Any] = {
    val ((graph, nGraph), graphSecs) = timed {
      val idx = Similarity.ivfPqFit(feats, dim = dim, m = m, kc = 256,
        kCoarse = 64, iters = 3, trainN = 20000)
      val qside = feats.select(col("vec_id").as("query_id"), col("e").as("qe"))
        .withColumn("qnorm", sqrt(
          graft.functions.DotProduct.column(col("qe"), col("qe"))))
      val g = CacheScope.persistTracked(Similarity.ivfPqSearchRefine(idx,
        qside, feats, k = 3, kShort = kShort, nprobe = nprobe, bulk = true))
      (g, g.count())
    }
    val ((verdict, dropped), dedupSecs) = timed {
      val vd = CacheScope.persistTracked(GraphDedup.knnGraphDedup(
        graph, feats.select(col("vec_id").as("id")), tau = tau))
      (vd, vd.filter(!col("keep")).count())
    }
    val planted = verdict.as("a").join(verdict.as("b"),
        col("b.id") === col("a.id") + 1 && col("a.id") % every === 0)
      .select((col("a.component") === col("b.component"))
        .cast("long").as("hit"))
      .agg(sum(col("hit")).as("hits"), count(lit(1)).as("n"))
      .collect()(0)
    val recall = planted.getLong(0).toDouble / planted.getLong(1)
    require(recall > 0.5, f"$what: planted-pair recall $recall%.3f is not " +
      "above chance — the feature bridge or graph path is broken")
    println(f"[probe] $what graph $graphSecs%.1f s ($nGraph%d rows) " +
      f"dedup $dedupSecs%.1f s dropped=$dropped%d planted_recall=$recall%.3f")
    Map("graph_secs" -> r3(graphSecs), "graph_rows" -> nGraph,
      "dedup_secs" -> r3(dedupSecs), "dropped" -> dropped, "dup_every" -> every,
      "planted_pairs" -> planted.getLong(1), "planted_recall" -> r4(recall))
  }

  /** Creates one `probe_<name>` temp dir per name, runs `body` on their
    * paths and deletes them all in `finally`: the one place a probe's
    * scratch files are made and removed. */
  private def withTempDirs[A](names: String*)(body: Seq[String] => A): A = {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    try {
      names.foreach(n =>
        dirs += java.nio.file.Files.createTempDirectory(s"probe_${n}_"))
      body(dirs.map(_.toString).toSeq)
    } finally dirs.foreach(deleteRecursively)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(java.nio.file.Files.deleteIfExists(_))
    finally s.close()
  }

  /** Runs `probes` against `dir` on `spark` and returns their records
    * in order. The records are merged into `recordsDir`/PROBES.json
    * (`streamsuite` also writes `recordsDir`/STREAMBENCH.json). The
    * session stays open. */
  def run(spark: SparkSession, dir: String, probes: Seq[String],
      recordsDir: String): Seq[(String, Map[String, Any])] = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val records = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, Any]]
    probes.foreach { q =>
      val ((n, extra), secs) = timed(probe(spark, dir, q, recordsDir))
      println(f"[probe] $q%-24s $secs%8.2f s  ($n rows)")
      records(q) = Map("dir" -> dir, "wall_s" -> r3(secs), "rows" -> n) ++ extra
      CacheScope.releaseAll()
    }
    writeRecords(recordsDir, records.toSeq)
    records.toSeq
  }

  def main(args: Array[String]): Unit = {
    val (recordsDir, rest) = args.headOption.filter(_.startsWith("--records="))
      .fold((".", args.toSeq))(a => (a.stripPrefix("--records="), args.toSeq.tail))
    // probes measure the library under the bench's session shape
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, rest.head, rest.tail, recordsDir)
    finally spark.stop()
  }

  private def probe(spark: SparkSession, dir: String, q: String,
      recordsDir: String): (Long, Map[String, Any]) = q.split(":") match {
    case Array("ivf", k, np @ _*) if np.size <= 1 =>
      (Similarity.ivfAnn(vecs(spark, dir, withLabel = true), col("vec_id") < 5,
        k.toInt, nprobe = np.headOption.fold(1)(_.toInt)).count(), Map.empty)
    case Array("kmeans", k, iters) =>
      // r15: Lloyd's production path at probe scale — fit seconds,
      // objective, and cluster balance (an empty/degenerate split
      // would show up as max_cluster ~ n)
      val fit = CacheScope.persistTracked(Similarity
        .kmeans(vecs(spark, dir, withLabel = false), k.toInt, iters.toInt))
      val sizes = fit.groupBy("cluster").count()
        .agg(count(lit(1)), min("count"), max("count")).collect()(0)
      val inertia = fit.agg(sum("d2")).collect()(0).getDouble(0)
      (fit.count(), Map[String, Any](
        "k" -> k.toInt, "iters" -> iters.toInt,
        "clusters" -> sizes.getLong(0),
        "min_cluster" -> sizes.getLong(1),
        "max_cluster" -> sizes.getLong(2),
        "inertia" -> math.rint(inertia * 100) / 100))
    case Array("minhash", k, bands, tau, rest @ _*) =>
      val docs = Tables.documents(spark, dir)
      val pairs = CacheScope.persistTracked(
        graft.operators.TextDedup.minhashLshPairs(
          docs, 3, k.toInt, bands.toInt, tau.toDouble))
      (pairs.count(), recallFields(pairs, "doc_a", "doc_b", docs, rest))
    case Array("simhash", bands, maxH, rest @ _*) =>
      val docs = Tables.documents(spark, dir)
      val pairs = CacheScope.persistTracked(
        graft.operators.TextDedup.simhashPairs(
          docs, 3, bands.toInt, maxH.toInt))
      (pairs.count(), recallFields(pairs, "doc_a", "doc_b", docs, rest))
    case Array("jaccard", tau, rest @ _*) =>
      val docs = Tables.documents(spark, dir)
      val pairs = CacheScope.persistTracked(
        graft.operators.TextDedup.ngramJaccardPairs(docs, 3, tau.toDouble))
      (pairs.count(), recallFields(pairs, "doc_a", "doc_b", docs, rest))
    case Array("neardup", bands, bits, tau, rest @ _*) =>
      val emb = Tables.embeddings(spark, dir)
      val pairs = CacheScope.persistTracked(
        Similarity.lshNearDupPairs(
          vecs(spark, dir, withLabel = false), 64,
          bands.toInt, bits.toInt, tau.toDouble))
      (pairs.count(), recallFields(pairs, "vec_a", "vec_b", emb, rest))
    case Array("cc", nodes, edges) =>
      // synthetic random graph (seeded murmur3 endpoints): times the
      // connected-components loop at arbitrary edge scale; a chain
      // fragment keeps the worst-case round count honest
      val nN = nodes.toLong
      val e = edges.toLong
      val rand = spark.range(e).selectExpr(
        s"pmod(hash(id, 1), $nN) AS u", s"pmod(hash(id, 2), $nN) AS v")
      val chain = spark.range(math.min(nN / 10, 100000))
        .selectExpr("id AS u", "id + 1 AS v")
      val comps = graft.operators.ConnectedComponents.assign(rand.union(chain))
        .select(countDistinct(col("component"))).collect()(0).getLong(0)
      (comps, Map("nodes" -> nN, "edges" -> e))
    case Array("skewjoin", mode) =>
      // total deviation-from-mean over a zipf corpus: events ⋈
      // per-user dim on user_id, sort-merge (broadcast disabled),
      // then a GLOBAL aggregate — deliberately: a parent that
      // requires the join's hash partitioning (e.g. a per-user
      // groupBy) makes AQE skip the skew split to preserve the
      // distribution unless forceOptimizeSkewedJoin pays an extra
      // shuffle; a partial-agg parent imposes no requirement. With
      // skew handling ON the hot user's partition must split (plan
      // shows skew=true); OFF rides one straggler task.
      val on = mode == "on"
      // the tuned confs live on a cloned session, invisible to the
      // caller's session and to any query running there
      val tuned = Shims.cloneSession(spark)
      Seq(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> on.toString,
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> on.toString,
        // thresholds sized for the probe corpus: the hot user's
        // partition is ~10 MB AFTER shuffle compression (a constant
        // user_id column compresses almost to nothing), so the
        // 256 MB default would never flag it at probe scale; at
        // production scale the same zipf share is GBs and the
        // default fires. factor stays 2x median.
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        .foreach { case (k, v) => tuned.conf.set(k, v) }
      val ev = Tables.events(tuned, dir).select(col("user_id"), col("value"))
      // materialize the dim first (a precomputed per-user table,
      // the realistic shape): computed inline, its final
      // HashAggregate sits between the join and the shuffle
      // stage, and OptimizeSkewedJoin only matches a join whose
      // BOTH children are sort-over-shuffle-stage directly
      val dim = Tables.events(tuned, dir)
        .groupBy("user_id").agg(avg("value").as("u_avg"))
        .localCheckpoint()
      // CacheScope does not track localCheckpoint blocks — free
      // this one explicitly below or repeated probe invocations
      // accumulate checkpointed RDDs for the session's lifetime
      try {
        val dev = ev.join(dim, "user_id")
          .agg(sum(abs(col("value") - col("u_avg"))).as("total_abs_dev"))
        val rows = dev.collect().length.toLong
        val plan = dev.queryExecution.executedPlan.toString
        val fired = plan.contains("skew=true") || plan.contains("skewed")
        println(s"[probe] skewjoin enabled=$on split_fired=$fired")
        // a silent not-fired defeats the probe's purpose: show the
        // join/read nodes so the reason (broadcast? threshold?) is
        // visible in the log
        if (on && !fired) {
          plan.linesIterator
            .filter(l => l.contains("Join") || l.contains("ShuffleRead") ||
              l.contains("Exchange"))
            .take(12).foreach(l => println(s"[probe]   $l"))
          // query stages are leaves: recurse through their .plan
          def all(p: org.apache.spark.sql.execution.SparkPlan):
              Seq[org.apache.spark.sql.execution.SparkPlan] = {
            val inner = p match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                Seq(a.executedPlan)
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
              case _ => Nil
            }
            p +: (p.children ++ inner).flatMap(all)
          }
          val stages = all(dev.queryExecution.executedPlan).collect {
            case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => s
          }
          println(s"[probe]   found ${stages.size} shuffle stages")
          stages.foreach { s =>
            val sizes = s.mapStats.map(_.bytesByPartitionId).getOrElse(Array.empty[Long])
            if (sizes.nonEmpty)
              println(s"[probe]   stage ${s.id}: top partitions " +
                sizes.sorted.reverse.take(4).mkString(",") +
                s" median ${sizes.sorted.apply(sizes.length / 2)}")
          }
        }
        (rows, Map("skew_join_enabled" -> on, "skew_split_fired" -> fired))
      } finally (dim.queryExecution.analyzed match {
        // same release path as QueryMemo.clear: checkpoint blocks
        // live on the LogicalRDD leaf's RDD, not in the CacheManager
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(blocking = false)
        case _ => ()
      })
    case Array("docstream", total) =>
      // streaming near-dup suppression throughput → noop sink
      val run = noopRun(spark, "docs_neardup", total.toLong)
      (run.rows, run.fields("docs_per_s") - "secs")
    case Array("stream", total) =>
      // end-to-end streaming ingest throughput → noop sink: events/sec
      // over >= `total` rows — the number to hold against the reference
      // service's single-node ingest
      val run = noopRun(spark, "events_route", total.toLong)
      (run.rows, run.fields("events_per_s") - "secs")
    case Array("streamsuite", rest @ _*) =>
      streamSuite(spark, rest.headOption.map(_.toLong).getOrElse(500000L),
        recordsDir)
    case Array("ivfcurve", k, cellsSpec @ _*) =>
      // VERDICT r12 #6: recall/latency curve against the PERSISTED
      // index — build once, reload, sweep nprobe, score each sweep
      // point against the brute-force exact top-k.
      // Optional cells arg (r13 #6, `ivfcurve:k:C`): instead of the
      // label column, assign cells by a REAL one-iteration Lloyd
      // pass — C seed centroids (lowest vec_ids), every vector
      // joined to its nearest seed (broadcast, C rows) — so the
      // cell count becomes the sweepable knob that bounds in-cell
      // candidates at scale.
      import org.apache.spark.sql.expressions.Window
      val kk = k.toInt
      val nQ = 50
      val v = CacheScope.persistTracked(cellsSpec.headOption match {
        case None => vecs(spark, dir, withLabel = true)
        case Some(c) =>
          val base = vecs(spark, dir, withLabel = false)
          val seeds = broadcast(base.filter(col("vec_id") < c.toInt)
            .select(col("vec_id").as("seed"), col("e").as("se"),
              col("norm").as("snorm")))
          val wA = Window.partitionBy("vec_id")
            .orderBy(col("sim").desc, col("seed").asc)
          base.crossJoin(seeds)
            .withColumn("sim", graft.functions.DotProduct.column(
              col("e"), col("se")) / (col("norm") * col("snorm")))
            .withColumn("r", row_number().over(wA))
            .filter(col("r") === 1)
            .select(col("vec_id"), col("seed").as("cluster_by"),
              col("e"), col("norm"))
      })
      withTempDirs("ivfcurve") { case Seq(idxDir) =>
        val (_, buildSecs) = timed(Similarity.ivfIndex(v)
          .write.mode("overwrite").parquet(s"$idxDir/index"))
        val cent = spark.read.parquet(s"$idxDir/index")
        val nCells = cent.count().toInt
        val exact = exactTopK(v, nQ, kk)
        val curve = sweepCurve("ivfcurve", sweep(nCells), exact)(np =>
          Similarity.ivfSearch(v, cent, col("vec_id") < nQ, kk, np))
        (exact.size.toLong, Map[String, Any]("build_secs" -> r3(buildSecs),
          "n_cells" -> nCells, "k" -> kk, "n_queries" -> nQ, "curve" -> curve))
      }
    case Array("qcstream", n) =>
      // r15: frozen quality-model streaming scorer — train the
      // Rocchio model on the dir's documents ONCE, persist/reload,
      // then rate-source synthetic docs through
      // DocStream.qualityScoreSink and measure sustained docs/sec
      // (stateless: the <=256-row model broadcasts per batch)
      val docs = Tables.documents(spark, dir)
      withTempDirs("qcstream_idx", "qcstream_out") { case Seq(idxDir, outDir) =>
        val (_, buildSecs) = timed(Scoring.saveQualityModel(
          Scoring.trainQualityModel(docs), idxDir))
        CacheScope.releaseAll()
        val model = Scoring.loadQualityModel(spark, idxDir)
        val run = runStreamToTarget(spark, "qcstream", n.toLong)(ckpt =>
          DocStream.qualityScoreSink(synthDocs(rate(spark, 20000L)), model,
            outDir, ckpt))
        (run.rows, run.fields("docs_per_s") ++ Map(
          "build_secs" -> r3(buildSecs), "train_docs" -> docs.count()))
      }
    case Array("annstream", n) =>
      // r15: frozen-index streaming ANN — fit+persist an IVFADC
      // index over the dir's vectors ONCE, then rate-source
      // synthetic query vectors through EmbStream.annScoreSink and
      // measure sustained queries/sec (per-batch search cost is
      // broadcast-side only; the codes never reshuffle)
      val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
      withTempDirs("annstream_idx", "annstream_out") { case Seq(idxDir, outDir) =>
        val (idx, buildSecs) = fitSaved(spark, idxDir)(Similarity.ivfPqFit(
          v, dim = 64, m = 8, kc = 64, kCoarse = 16, iters = 2))
        CacheScope.releaseAll()
        val qstream = rate(spark, 2000L)
          .selectExpr("value AS query_id", s"$synthVec AS qe")
          .selectExpr("query_id", "qe",
            "sqrt(aggregate(transform(qe, x -> x * x), 0.0d, (a, x) -> a + x)) AS qnorm")
        // synthetic query ids are EXTERNAL to the corpus id
        // space — self-exclusion would drop unrelated vectors
        val run = runStreamToTarget(spark, "annstream", n.toLong)(ckpt =>
          EmbStream.annScoreSink(qstream, idx, k = 10, nprobe = 2, outDir,
            ckpt, excludeSelf = false))
        (run.rows, run.fields("queries_per_s") ++ Map(
          "build_secs" -> r3(buildSecs), "corpus_rows" -> v.count(),
          "k" -> 10, "nprobe" -> 2))
      }
    case Array("spanstream", n) =>
      // r18: streaming span-level decontamination — synthetic
      // ~30-word docs rate-stream through decontaminateSpansSink
      // against a frozen 20-doc bench built from the SAME
      // deterministic vocab formula. A span's identity here is its
      // first word's residue mod 5000 (consecutive words step +7),
      // so the bench covers 20·23/5000 ≈ 9% of span space — real
      // partial contamination, neither vacuous nor saturating
      val bench = synthDocs(spark.range(20).selectExpr("id AS value"))
      withTempDirs("spanstream_out") { case Seq(outDir) =>
        val run = runStreamToTarget(spark, "spanstream", n.toLong)(ckpt =>
          DocStream.decontaminateSpansSink(synthDocs(rate(spark, 20000L)),
            bench, outDir, ckpt, n = 8))
        // rate from the OUTPUT rows (one per doc): numInputRows
        // is only the stop trigger — it over-counts if the plan
        // ever scans its source more than once per trigger
        val out = spark.read.parquet(outDir)
        val excised = out.filter(col("n_removed") > 0).count()
        val rows = out.count()
        require(excised > 0, "spanstream: zero excisions — vacuous")
        require(excised < rows,
          "spanstream: every doc excised — bench saturates span space")
        println(f"[probe] spanstream $rows docs out, $excised excised")
        (rows, run.fields("docs_per_s", rows) ++ Map(
          "excised_docs" -> excised, "out_rows" -> rows))
      }
    case Array("annappend", n) =>
      // r18: streaming ANN-index maintenance — fit+persist an
      // IVFADC index ONCE, then rate-source synthetic NEW vectors
      // through EmbStream.ivfPqAppendSink (map-side encode against
      // the frozen artifacts, per-batch delta subtrees) and
      // measure sustained vectors/s absorbed; then fold the
      // deltas back in and check the staleness meta counted every
      // absorbed row
      val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
      withTempDirs("annapp_idx", "annapp_delta") { case Seq(idxDir, dlDir) =>
        val (idx, buildSecs) = fitSaved(spark, idxDir)(Similarity.ivfPqFit(
          v, dim = 64, m = 8, kc = 64, kCoarse = 16, iters = 2))
        CacheScope.releaseAll()
        val corpusRows = v.count()
        val vstream = rate(spark, 2000L).selectExpr(
          s"value + ${corpusRows}L AS vec_id", // fresh id space
          s"$synthVec AS e")
        val run = runStreamToTarget(spark, "annappend", n.toLong)(ckpt =>
          EmbStream.ivfPqAppendSink(vstream, idx, dlDir, ckpt))
        val folded = Similarity.loadIvfPqIndexWithDeltas(spark, idxDir, dlDir)
        val appended = folded.meta.select("n_appended").collect()(0).getLong(0)
        require(appended >= run.rows,
          s"annappend: meta counted $appended < ${run.rows} absorbed")
        require(folded.codes.count() == corpusRows + appended,
          "annappend: folded codes != base + deltas")
        println(s"[probe] annappend folded n_appended=$appended")
        (run.rows, run.fields("vectors_per_s") ++ Map(
          "build_secs" -> r3(buildSecs), "corpus_rows" -> corpusRows,
          "n_appended" -> appended))
      }
    case Array("mmdedup", n, dupEvery) =>
      // r19: end-to-end IMAGE near-dup dedup at scale — synthetic
      // 32x16 PGM corpus (4x4 block pattern from a per-image hash,
      // so unrelated centered feature vectors are near-orthogonal),
      // every dupEvery-th image a 1-pixel nudge of its predecessor;
      // REAL decode -> gridFeatureVec -> the PRODUCTION graph path
      // (bulk ivfPqSearchRefine over pixel features) -> knnGraphDedup;
      // gates on planted-pair recall, reports per-stage seconds.
      import spark.implicits._
      val total = n.toInt
      val every = dupEvery.toInt
      require(every >= 2, s"mmdedup: dupEvery must be >= 2, got $every")
      def pixels(img: Long): Array[Int] = {
        val base = if (img % every == 1 && img > 0) img - 1 else img
        val px = Array.tabulate(32 * 16) { i =>
          val (bx, by) = ((i % 32) / 8, (i / 32) / 4)
          ((mix(base * 131L + bx * 17L + by * 37L) >>> 24) & 0xff).toInt
        }
        if (img % every == 1 && img > 0) px(37) = (px(37) + 2) & 0xff
        px
      }
      val media = spark.range(total).map { i =>
        graft.multimodal.Media(i, "image",
          graft.multimodal.PnmCodec.encode(
            graft.multimodal.Raster(32, 16, 1, pixels(i))), 32, 16, 0)
      }
      val ((feats, nFeats), embedSecs) = timed {
        val f = CacheScope.persistTracked(
          graft.multimodal.Multimodal.embedMedia(media, 4, 4).toDF()
            .filter(col("decoded"))
            .select(col("media_id").as("vec_id"), col("e")))
        (f, f.count())
      }
      (nFeats, Map[String, Any]("embed_secs" -> r3(embedSecs),
        "imgs_per_s" -> math.rint(nFeats / embedSecs)) ++
        plantedGraphDedup("mmdedup", feats, dim = 16, m = 4, kShort = 3,
          nprobe = 2, tau = 0.99, every = every))
    case Array("textdedup", n, dupEvery, npRest @ _*)
        if npRest.size <= 1 =>
      // r20: end-to-end semantic TEXT dedup at scale — synthetic
      // 40-word docs whose tokens come from a per-doc splitmix
      // hash (an effectively unbounded vocabulary, so unrelated
      // unigram-bucket profiles are near-orthogonal: expected cos
      // ~ 40/256), every dupEvery-th doc a one-word substitution
      // of its predecessor (cos >= 39/40 = 0.975); raw text ->
      // TextFeatures.unigramBucketVec -> the PRODUCTION graph
      // path (top-10 bulk ADC shortlists + exact re-rank — a 0.95
      // gate needs exact shortlist scores, the mmdedup lesson) ->
      // knnGraphDedup; gates on planted-pair recall, reports
      // per-stage seconds.
      import spark.implicits._
      val total = n.toInt
      val every = dupEvery.toInt
      require(every >= 2, s"textdedup: dupEvery must be >= 2, got $every")
      def words(docId: Long): Array[String] = {
        val base = if (docId % every == 1 && docId > 0) docId - 1
                   else docId
        val ws = synthTextWords(base)
        if (docId % every == 1 && docId > 0) ws(7) = ws(7) + "x"
        ws
      }
      val docs = spark.range(total)
        .map(i => (i, words(i).mkString(" ")))
        .toDF("doc_id", "text")
      // optional trailing :np = coarse probes (default 8): this
      // corpus is adversarially UNCLUSTERABLE — independent
      // random sparse profiles, near-orthogonal by construction,
      // so the 64 k-means cells carry almost no structure and a
      // planted dup's cell can sit anywhere in the query's cell
      // ranking. Recall is therefore the nprobe curve itself
      // (measured at 20k: 0.916@2, 0.990@8, 0.997@16 — identical
      // drop SETS across m=8/16 and shortlist 3/10, the signature
      // of a coarse-probe miss; L2-normalizing first moved
      // nothing, 0.991@8). Real corpora cluster (the gmm `knn`
      // probes); this records the honest worst case, per nprobe.
      val nprobe = npRest.headOption.map(_.toInt).getOrElse(8)
      val ((feats, nFeats), embedSecs) = timed {
        val f = CacheScope.persistTracked(TextFeatures.unigramBucketVec(docs)
          .select(col("doc_id").as("vec_id"), col("e")))
        (f, f.count())
      }
      (nFeats, Map[String, Any]("embed_secs" -> r3(embedSecs),
        "docs_per_s" -> math.rint(nFeats / embedSecs), "nprobe" -> nprobe) ++
        plantedGraphDedup("textdedup", feats, dim = 256, m = 16, kShort = 10,
          nprobe = nprobe, tau = 0.95, every = every))
    case Array("textadmit", n, rest @ _*) =>
      // r20: ingest-time semantic admission for RAW TEXT at scale
      // — freeze a reference index over 20k synthetic docs' bucket
      // vectors, then rate-source text arrivals (every 10th a
      // one-word paraphrase of a reference doc, the rest novel)
      // through DocStream.textSemanticAdmitSink with the exact
      // refine stage (a 0.95 gate on raw ADC admits true dups —
      // the textdedup lesson); measures sustained docs/s and
      // gates on planted rejection + novel admission.
      import spark.implicits._
      // optional batch-size knob (r21 — the VERDICT amortization
      // sweep: fixed per-trigger cost vs rows per trigger)
      val rowsPerBatch = rest.headOption.map(_.toLong).getOrElse(2000L)
      val refN = 20000
      val refDocs = spark.range(refN)
        .map(i => (i, synthTextWords(i).mkString(" ")))
        .toDF("doc_id", "text")
      withTempDirs("tadmit_idx", "tadmit_out") { case Seq(idxDir, outDir) =>
        // build = embed the reference docs + fit + save + reload
        val ((refVecs, idx), buildSecs) = timed {
          val rv = CacheScope.persistTracked(TextFeatures.unigramBucketVec(refDocs)
            .select(col("doc_id").as("vec_id"), col("e")))
          rv.count()
          (rv, fitSaved(spark, idxDir)(Similarity.ivfPqFit(rv, dim = 256,
            m = 16, kc = 256, kCoarse = 64, iters = 3, trainN = 20000))._1)
        }
        val dstream = rate(spark, rowsPerBatch)
          .selectExpr("value").as[Long]
          .map { v =>
            val ws =
              if (v % 10 == 0) {
                val w = synthTextWords((v / 10) % refN)
                w(7) = w(7) + "x" // one-word paraphrase
                w
              } else synthTextWords(refN + v) // novel token space
            (v, ws.mkString(" "))
          }
          .toDF("doc_id", "text")
        val run = runStreamToTarget(spark, "textadmit", n.toLong)(ckpt =>
          DocStream.textSemanticAdmitSink(dstream, idx, tau = 0.95,
            nprobe = 8, outDir, ckpt, refineWith = Some((refVecs, 10))))
        val agg = spark.read.parquet(outDir).agg(
          count(lit(1)).as("n"),
          sum(when(col("doc_id") % 10 === 0 && !col("admit"), 1L)
            .otherwise(0L)).as("planted_rejected"),
          sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L))
            .as("planted"),
          sum(when(col("doc_id") % 10 =!= 0 && col("admit"), 1L)
            .otherwise(0L)).as("novel_admitted"),
          sum(when(col("doc_id") % 10 =!= 0, 1L).otherwise(0L))
            .as("novel")).collect()(0)
        val rejRecall = agg.getLong(1).toDouble / math.max(agg.getLong(2), 1L)
        val admShare = agg.getLong(3).toDouble / math.max(agg.getLong(4), 1L)
        require(rejRecall > 0.5,
          f"textadmit: planted rejection $rejRecall%.3f not above " +
            "chance — the text admission gate is broken")
        require(admShare > 0.5,
          f"textadmit: novel admission $admShare%.3f not above " +
            "chance — the gate rejects everything")
        println(f"[probe] textadmit build $buildSecs%.1f s, " +
          f"planted_rejected=$rejRecall%.3f novel_admitted=$admShare%.3f")
        (run.rows, run.fields("docs_per_s") ++ Map(
          "build_secs" -> r3(buildSecs),
          "ref_rows" -> refN, "tau" -> 0.95, "nprobe" -> 8,
          "k_short" -> 10, "rows_per_batch" -> rowsPerBatch,
          "planted_rejected" -> r4(rejRecall),
          "novel_admitted" -> r4(admShare)))
      }
    case Array("graphappend", n) =>
      // r19: streaming kNN-GRAPH maintenance — the knndedup probe
      // shows the graph BUILD is ~94% of the dedup wall, so the
      // lifecycle answer is: build + persist the bulk graph ONCE
      // (KnnGraph.save), then rate-source synthetic arrivals
      // through EmbStream.knnGraphAppendSink (forward top-k delta
      // subtrees against the frozen index) and measure vectors/s
      // absorbed; then KnnGraph.loadWithDeltas folds the deltas
      // (NN-Descent merge-and-truncate) and the dedup consumer
      // re-runs over the folded graph — splitting build vs absorb
      // vs consume, with fold-back integrity gates.
      val kk = 5
      val np = 2 // the knndedup-proven budget: 64 cells, probe 2
      val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
      withTempDirs("gapp_idx", "gapp_graph", "gapp_delta", "gapp_verdicts") {
          case Seq(idxDir, gDir, dlDir, vDir) =>
        val corpusRows = v.count()
        val (idx, buildSecs) = timed {
          val (i, _) = fitSaved(spark, idxDir)(Similarity.ivfPqFit(
            v, dim = 64, m = 8, kc = 256, kCoarse = 64, iters = 3, trainN = 20000))
          KnnGraph.save(Similarity.ivfPqSearch(i, asQueries(v), kk, np,
            bulk = true), kk, np, gDir)
          i
        }
        CacheScope.releaseAll()
        val vstream = rate(spark, 2000L).selectExpr(
          s"value + ${corpusRows}L AS vec_id", // fresh id space
          s"$synthVec AS e")
        val run = runStreamToTarget(spark, "graphappend", n.toLong)(ckpt =>
          EmbStream.knnGraphAppendSink(vstream, idx, kk, np, dlDir, ckpt))
        val ((folded, verdicts, dropped, appended), consumeSecs) = timed {
          val f = KnnGraph.loadWithDeltas(spark, gDir, dlDir)
          val appended = f.meta.select("n_appended").collect()(0).getLong(0)
          require(appended >= run.rows,
            s"graphappend: meta counted $appended < ${run.rows} absorbed")
          val arrivalNodes = f.edges.filter(col("query_id") >= corpusRows)
            .select(countDistinct(col("query_id"))).collect()(0).getLong(0)
          require(arrivalNodes == appended,
            s"graphappend: folded graph carries $arrivalNodes " +
              s"arrival nodes, meta says $appended")
          val vd = GraphDedup.knnGraphDedup(f.edges,
            f.edges.select(col("query_id").as("id")).distinct(), tau = 0.7)
          (f, vd, vd.filter(!col("keep")).count(), appended)
        }
        val rebuild = KnnGraph.needsRebuild(folded)
        // fold-then-REUSE leg (r20): persist the component map
        // (GraphDedup.saveVerdicts) once, then time a downstream
        // consumer reading the verdicts back instead of
        // re-running CC — the artifact split for the dedup tail,
        // like KnnGraph.save was for the build. Gate: the
        // reloaded verdicts are current for THIS folded graph
        // (needsRecompute false) and count-identical.
        val (_, saveSecs) = timed(
          GraphDedup.saveVerdicts(verdicts, tau = 0.7, folded.meta, vDir))
        val ((reloaded, reDropped), reuseSecs) = timed {
          val r = GraphDedup.loadVerdicts(spark, vDir)
          (r, r.verdicts.filter(!col("keep")).count())
        }
        require(reDropped == dropped,
          s"graphappend: reloaded verdicts dropped $reDropped != $dropped")
        require(!GraphDedup.needsRecompute(reloaded, folded),
          "graphappend: fresh verdicts read stale")
        println(f"[probe] graphappend build $buildSecs%.1f s, " +
          f"fold+dedup $consumeSecs%.1f s, dropped=$dropped, " +
          f"verdict save $saveSecs%.1f s reuse $reuseSecs%.1f s, " +
          f"needs_rebuild=$rebuild")
        (run.rows, run.fields("vectors_per_s") ++ Map(
          "build_secs" -> r3(buildSecs),
          "corpus_rows" -> corpusRows, "n_appended" -> appended,
          "fold_consume_secs" -> r3(consumeSecs),
          "verdict_save_secs" -> r3(saveSecs),
          "verdict_reuse_secs" -> r3(reuseSecs),
          "dropped" -> dropped, "needs_rebuild" -> rebuild,
          "topk" -> kk, "nprobe" -> np))
      }
    case PqSpelling(p) => pqProbe(spark, dir, p)
    case Array("knn", rest @ _*) if rest.size == 7 || rest.size == 8 =>
      // r17: bulk kNN-graph construction — `nq` corpus vectors as
      // the query side against the full corpus via bulk
      // ivfPqSearch. Reports graph rows/s and sampled recall
      // (exact kNN computed for the 50 lowest query ids only —
      // the full exact graph is the quadratic wall this operator
      // exists to avoid).
      withBulkGraph(spark, dir, "knn", rest.take(7)) { (v, graph, joinSecs) =>
        val topk = rest(4).toInt
        val rows = graph.count()
        val recall = recallOf(pairs(graph.filter(col("query_id") < 50)),
          exactTopK(v, 50, topk))
        println(f"[probe] knn graph=$rows%d rows in $joinSecs%.1f s " +
          f"(${rows / joinSecs}%.0f rows/s) sampled recall=$recall%.4f")
        (rows, Map("join_secs" -> r3(joinSecs),
          "graph_rows_per_s" -> math.rint(rows / joinSecs),
          "sampled_recall" -> r4(recall)))
      }
    case Array("refit", m, kc, kCoarse, train, topk) =>
      // r18: refit-policy calibration — how fast does a FROZEN
      // index degrade as drifted vectors append? Base = the lower
      // id half; drift = the upper half with dimensions REVERSED
      // (same norms, decorrelated from the fitted cells — genuine
      // distribution shift, deterministic). For each append
      // fraction, measure recall@k ON THE DRIFTED QUERIES of
      // (a) the appended frozen index vs (b) a full refit, plus
      // the needsRefit verdict at the 0.5 default. The (a)-(b)
      // gap curve is the evidence behind the default.
      val kk = topk.toInt
      val nQ = 50
      val np = kCoarse.toInt // exhaustive cells: isolate codebook drift
      val v0 = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
      val n = v0.count()
      val half = n / 2
      val base = v0.filter(col("vec_id") < half)
      val drift = CacheScope.persistTracked(
        v0.filter(col("vec_id") >= half)
          .select((col("vec_id") + n).as("vec_id"),
            reverse(col("e")).as("e"), col("norm")))
      def fit(on: DataFrame) = Similarity.ivfPqFit(on, dim = 64, m = m.toInt,
        kc = kc.toInt, kCoarse = kCoarse.toInt, iters = 3, trainN = train.toInt)
      val idx = fit(base)
      val fracs = Seq(0.1, 0.5, 1.0)
      val curve = fracs.map { frac =>
        val nAdd = (half * frac).toLong
        // drift ids live in [n + half, n + n): take the first nAdd
        val add = drift.filter(col("vec_id") < n + half + nAdd)
        val grown = CacheScope.persistTracked(base.unionByName(add))
        // drifted queries: the first nQ appended vectors
        val q = drift.filter(col("vec_id") < n + half + nQ)
        val exact = exactTopKFor(grown, q, kk)
        val qside = broadcast(asQueries(q))
        def recall(i: IvfPqIndex): Double =
          timedRecall(exact)(Similarity.ivfPqSearch(i, qside, kk, np))._1
        val app = Similarity.ivfPqAppend(idx, add)
        val rApp = recall(app)
        val stale = Similarity.needsRefit(app)
        val rRefit = recall(fit(grown))
        println(f"[probe] refit frac=$frac%.1f appended=$nAdd%d " +
          f"recall_appended=$rApp%.4f recall_refit=$rRefit%.4f " +
          f"needsRefit(0.5)=$stale")
        (frac, nAdd, rApp, rRefit, stale)
      }
      (n, Map[String, Any](
        "m" -> m.toInt, "kc" -> kc.toInt, "k_coarse" -> kCoarse.toInt,
        "train_n" -> train.toInt, "topk" -> kk, "nprobe" -> np,
        "n_base" -> half, "n_queries" -> nQ) ++
        curve.flatMap { case (f, nA, rA, rR, st) =>
          val tag = s"frac_${(f * 100).toInt}"
          Seq(s"${tag}_appended" -> nA,
            s"${tag}_recall_appended" -> r4(rA),
            s"${tag}_recall_refit" -> r4(rR),
            s"${tag}_needs_refit" -> st)
        }.toMap)
    case Array("knndedup", rest @ _*) if rest.size == 8 || rest.size == 9 =>
      // r18: graph-based semantic dedup — the knn probe's bulk
      // graph composed into mutual edges at tau -> connected
      // components -> keep-smallest (operators/GraphDedup).
      // Reports the composition's own cost on top of the graph
      // build and the verdict shape (groups, drop fraction).
      val tauD = rest(7).toDouble
      withBulkGraph(spark, dir, "knnd", rest.take(7)) { (v, graph, graphSecs) =>
        val gRows = graph.count()
        val nodes = v.filter(col("vec_id") < rest(6).toInt)
          .select(col("vec_id").as("id"))
        val (verdict, dedupSecs) = timed(GraphDedup
          .knnGraphDedup(graph, nodes, tauD)
          .groupBy("keep").agg(count(lit(1)).as("n"),
            countDistinct(col("component")).as("n_comp"))
          .collect().map(r =>
            r.getBoolean(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
        val kept = verdict.get(true).map(_._1).getOrElse(0L)
        val dropped = verdict.get(false).map(_._1).getOrElse(0L)
        val groups = verdict.get(true).map(_._2).getOrElse(0L)
        println(f"[probe] knndedup tau=$tauD%.2f graph=$gRows%d rows " +
          f"($graphSecs%.1f s) dedup $dedupSecs%.1f s: kept=$kept%d " +
          f"dropped=$dropped%d groups=$groups%d")
        (kept + dropped, Map("graph_secs" -> r3(graphSecs),
          "dedup_secs" -> r3(dedupSecs), "graph_rows" -> gRows,
          "kept" -> kept, "dropped" -> dropped, "components" -> groups,
          "tau" -> tauD))
      }
    case Array("sq8", k) =>
      // r15: the SQ8 compressed-index path at probe scale — build
      // the int8-code artifact, persist, reload, ADC-search with
      // raw queries, score recall against the shared exact-top-k
      // baseline, and account the on-disk compression vs a float32
      // dump of the same vectors.
      val kk = k.toInt
      val nQ = 50
      val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
      withTempDirs("sq8") { case Seq(idxDir) =>
        val (_, buildSecs) = timed(Similarity.sq8Index(v)
          .write.mode("overwrite").parquet(s"$idxDir/index"))
        val idx = spark.read.parquet(s"$idxDir/index")
        val exact = exactTopK(v, nQ, kk)
        val (recall, searchSecs) = timedRecall(exact)(Similarity.sq8Search(
          idx, broadcast(asQueries(v.filter(col("vec_id") < nQ))), kk))
        println(f"[probe] sq8 k=$kk recall=$recall%.4f search=$searchSecs%.2f s")
        (exact.size.toLong, Map[String, Any]("build_secs" -> r3(buildSecs),
          "search_secs" -> r3(searchSecs), "recall" -> r4(recall),
          "k" -> kk, "n_queries" -> nQ) ++
          bytesFields(v, idxDir, "index", "index_bytes"))
      }
    case Array("bpestream", n) =>
      // r17: frozen-tokenizer streaming encode — train the merge
      // table on the dir's documents ONCE (the production
      // trainLocal path), persist/reload, then rate-source
      // synthetic docs through DocStream.bpeCountSink and measure
      // sustained docs/sec (stateless: the merge table folds into
      // one broadcast array row per batch; each batch encodes its
      // DISTINCT words once through the kernel, instances join
      // back — the qcstream shape with a learned tokenizer)
      val docs = Tables.documents(spark, dir)
      withTempDirs("bpestream_idx", "bpestream_out") { case Seq(idxDir, outDir) =>
        val (_, buildSecs) = timed(
          BpeTokenizer.save(BpeTokenizer.trainLocal(docs, 1000), idxDir))
        CacheScope.releaseAll()
        val model = BpeTokenizer.load(spark, idxDir)
        val run = runStreamToTarget(spark, "bpestream", n.toLong)(ckpt =>
          DocStream.bpeCountSink(synthDocs(rate(spark, 20000L)), model,
            outDir, ckpt))
        (run.rows, run.fields("docs_per_s") ++ Map(
          "build_secs" -> r3(buildSecs), "train_docs" -> docs.count()))
      }
    case Array("bpe", m, rest @ _*) =>
      // r17: the many-merges trainer at probe scale — one
      // distributed (word, n) pass, then the driver-local
      // incremental merge loop (trainLocal). Records the split so
      // the scale story is explicit: vocab_secs is the only part
      // that grows with the corpus; merge_secs grows with the
      // merge count over a vocabulary-sized table.
      val mm = m.toInt
      val maxVocab = rest.headOption.map(_.toInt).getOrElse(1 << 20)
      val docs = Tables.documents(spark, dir)
      // vocab pass timed ONCE and the collected table fed straight
      // to the driver merge loop — trainLocal would re-scan the
      // corpus inside the merge window and misattribute the split
      // this probe exists to record
      val (vocab, vocabSecs) = timed {
        import spark.implicits._
        val wc = BpeTokenizer.wordCounts(docs)
        val bounded =
          if (maxVocab == Int.MaxValue) wc
          else wc.orderBy(col("n").desc, col("word").asc).limit(maxVocab)
        bounded.select("word", "n").as[(String, Long)].collect()
      }
      val vocabN = vocab.length.toLong
      val (learned, mergeSecs) =
        timed(BpeTokenizer.BpeLocal.mergeLoop(vocab, mm).length.toLong)
      println(f"[probe] bpe m=$mm vocab=$vocabN learned=$learned " +
        f"vocab_pass=$vocabSecs%.2f s merge_loop=$mergeSecs%.2f s")
      (learned, Map[String, Any](
        "num_merges" -> mm, "max_vocab" -> maxVocab,
        "vocab_words" -> vocabN, "learned_merges" -> learned,
        "vocab_secs" -> r3(vocabSecs), "merge_secs" -> r3(mergeSecs)))
    case Array("qcappend", fracS, tag @ _*) if tag.size <= 1 =>
      // r17: incremental quality-model maintenance at probe scale —
      // absorb the corpus MINUS a frac-sized tail into QualityCounts
      // once (what a real pipeline persists), then time the append
      // of the tail (load + fold + derive) against the full retrain
      // it replaces. append_secs is O(batch); retrain_secs is
      // O(corpus); the probe REQUIRES the two models bit-identical
      // (bias bits) so the speed claim never drifts from the
      // exactness claim.
      val frac = fracS.toDouble
      require(frac > 0 && frac < 1, s"qcappend: frac must be in (0,1), got $frac")
      val docs = Tables.documents(spark, dir)
      val cut = docs.stat.approxQuantile("doc_id", Array(1.0 - frac), 0.0)(0)
      val aDocs = docs.filter(col("doc_id") <= cut)
      val bDocs = docs.filter(col("doc_id") > cut)
      val nb = bDocs.count()
      require(nb > 0, "qcappend: empty increment at this frac")
      def biasBits(m: Scoring.QualityModel): Long =
        java.lang.Double.doubleToRawLongBits(m.bias.collect()(0).getDouble(0))
      withTempDirs("qc") { case Seq(tmp) =>
        val (_, buildSecs) = timed {
          Scoring.saveQualityCounts(Scoring.qcCounts(aDocs), tmp)
          CacheScope.releaseAll()
        }
        val (bApp, appendSecs) = timed(biasBits(Scoring.qualityFromCounts(
          Scoring.qcAppend(Scoring.loadQualityCounts(spark, tmp), bDocs))))
        CacheScope.releaseAll()
        val (bRe, retrainSecs) = timed(biasBits(Scoring.trainQualityModel(docs)))
        require(bApp == bRe,
          s"qcappend probe: append/retrain bias bits diverged ($bApp vs $bRe)")
        println(f"[probe] qcappend frac=$frac batch=$nb " +
          f"build=$buildSecs%.2f s append=$appendSecs%.2f s " +
          f"retrain=$retrainSecs%.2f s")
        (nb, Map[String, Any](
          "append_frac" -> frac, "batch_docs" -> nb,
          "build_secs" -> r3(buildSecs), "append_secs" -> r3(appendSecs),
          "retrain_secs" -> r3(retrainSecs), "bias_bits_equal" -> true))
      }
    case _ => (SparkEntry.queries(q)(spark, dir).count(), Map.empty[String, Any])
  }
}
