package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ad-hoc scale probe (SURVEY §5b): times selected operators against an
  * arbitrary data directory — used with synthetic larger-than-testdata
  * tables to confirm the scale-path plans beat their exact twins once N
  * grows. Usage: runMain graft.ScaleProbe <dir> <query> [query ...]
  *
  * Every probe appends a machine-readable record (corpus, config, wall
  * time, rows, and where computable planted-dup recall) to PROBES.json
  * in the working directory, merging with any existing records — scale
  * evidence lives as a diffable committed artifact, not prose. */
object ScaleProbe {

  /** Accumulates one record per probe arg and merges them into
    * PROBES.json (sorted keys, overwrite-by-key) so repeated runs keep
    * refreshing the same entries. */
  private object Probes {
    import org.json4s.DefaultFormats
    import org.json4s.jackson.{JsonMethods, Serialization}
    private val acc =
      scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]

    def record(name: String, fields: Map[String, Any]): Unit =
      acc(name) = fields

    def flush(path: String = "PROBES.json"): Unit = {
      if (acc.isEmpty) return
      val p = java.nio.file.Paths.get(path)
      val existing: Map[String, Any] =
        if (java.nio.file.Files.exists(p))
          JsonMethods.parse(java.nio.file.Files.readString(p)).values
            .asInstanceOf[Map[String, Any]]
        else Map.empty
      val merged = scala.collection.immutable.TreeMap[String, Any]() ++
        existing ++ acc
      java.nio.file.Files.write(p,
        Serialization.writePretty(merged)(DefaultFormats).getBytes("UTF-8"))
      println(s"[probe] wrote ${acc.size} record(s) -> $path")
    }
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
  private final class RowsListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    // STREAMBENCH v2 (VERDICT r12 #7): per-micro-batch processing time
    // and state-store size from StreamingQueryProgress, so streaming
    // regressions in LATENCY or state growth diff round over round, not
    // just throughput. Only batches that processed rows count toward
    // the percentiles — idle ticks would read as spurious sub-ms wins.
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var stateRows: Long = 0L
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
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
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
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

  /** Runs `df` to a noop sink until >= target input rows have been
    * processed; returns (rows, secs). The probe-scoped checkpoint is
    * removed afterwards (stop the query BEFORE deleting it, or the
    * active query races the delete). */
  private def runStreamToTarget(spark: SparkSession, df: DataFrame,
      target: Long, what: String): (Long, Double, Map[String, Any]) = {
    val ckptPath = java.nio.file.Files.createTempDirectory(s"probe_${what}_ckpt")
    val listener = new RowsListener
    spark.streams.addListener(listener)
    var qq: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      qq = df.writeStream.format("noop")
        .option("checkpointLocation", ckptPath.toString).start()
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
      ((System.nanoTime() - t1) / 1e9) match {
        case secs => (done, secs, listener.stats)
      }
    } finally {
      spark.streams.removeListener(listener)
      if (qq != null && qq.isActive) {
        try qq.stop()
        catch { case _: Throwable => () }
      }
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(ckptPath)
      try
        walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Streaming-pipeline builders shared by the single-probe modes and
    * the [[streamSuite]]: each returns an unbounded DataFrame over a
    * rate-micro-batch source, ready for runStreamToTarget. */
  private def routeStreamDf(spark: SparkSession): DataFrame = {
    // end-to-end ingest: WRP JSON → parse → validate → broadcast route
    // fanout (the reference's request path as a stream)
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100000L)
      .option("numPartitions", 32).load()
    val json = src.selectExpr(
      """concat('{"msg_type":4,"source":"mac:', value % 5000,
        |'","dest":"event:', element_at(
        |  array('click','view','purchase','error','heartbeat'),
        |  cast(value % 5 as int) + 1),
        |'/', value, '","event_id":', value,
        |',"user_id":', value % 5000,
        |',"ts":"2024-01-01 00:00:01","value":1.5}')
        |AS value""".stripMargin.replaceAll("\n", ""))
    graft.streaming.EventStream.route(
      graft.streaming.EventStream.validate(
        graft.streaming.EventStream.parse(json)), spark)
  }

  private def docStreamDf(spark: SparkSession): DataFrame = {
    // streaming near-dup suppression: synthetic ~30-word docs
    // (deterministic vocab draws, so real bucket collisions occur) →
    // MinHash/LSH verdicts (stateful, per-band-bucket)
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 20000L)
      .option("numPartitions", 32).load()
    val docs = src.selectExpr(
      "value AS doc_id",
      """array_join(transform(sequence(1, 30),
        |  i -> concat('w', pmod(value * 31 + i * 7, 5000))), ' ')
        |AS text""".stripMargin.replaceAll("\n", ""))
    graft.streaming.DocStream.nearDupVerdicts(
      docs, n = 3, k = 16, bands = 4, tau = 0.5).toDF()
  }

  private def domainCapStreamDf(spark: SparkSession): DataFrame = {
    // streaming per-domain admission cap: 2000 synthetic domains, so
    // state stays a flat 2000 counter rows however many docs flow —
    // the state_rows field is the probe's point
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100000L)
      .option("numPartitions", 32).load()
    val docs = src.selectExpr(
      "value AS doc_id",
      "concat('src', value % 2000) AS source")
    graft.streaming.DocStream.domainCapVerdicts(docs, cap = 50).toDF()
  }

  private def syntheticEvts(spark: SparkSession): org.apache.spark.sql.Dataset[graft.streaming.Evt] = {
    // synthetic events with monotone per-type timestamps (1 type-second
    // per 500 rows → size, gap and tick flushes all fire)
    import spark.implicits._
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100000L)
      .option("numPartitions", 32).load()
    src.selectExpr(
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
    graft.streaming.EventStream
      .batchFlush(syntheticEvts(spark), batchSize = 100, close).toDF()

  private def queueLatencyStreamDf(spark: SparkSession): DataFrame =
    // queue-latency observations: the gap-model replay, then one
    // LatencyObs per member — it EMITS one row per input row, so its
    // batch latency needs its own probe
    graft.streaming.EventStream.queueLatency(graft.streaming.EventStream
      .batchFlush(syntheticEvts(spark), batchSize = 100,
        graft.streaming.GapClose(600))).toDF()

  /** The committed streaming-regression record (VERDICT r11 #7, v2 per
    * r12 #7): run the suite pipelines to a row target each and write
    * ONE driver-parseable STREAMBENCH.json — per-probe rows, wall secs,
    * rows/sec, and since v2 the per-micro-batch processing-time
    * percentiles (p50/p99/max over the row-processing batches after
    * the first, which is `batch_ms_first`) plus the final state-store
    * row count, so latency and state-growth
    * regressions diff round over round like the batch BENCH files. */
  private def streamSuite(spark: SparkSession, target: Long): (Long, Map[String, Any]) = {
    val probes = Seq(
      // docs and the stateful flusher are an order slower per row than
      // stateless route fanout — scale their targets so the suite stays
      // minutes, not hours, while every probe still spans many batches
      ("events_route", () => routeStreamDf(spark), target),
      ("events_batch_flush",
        () => batchFlushStreamDf(spark, graft.streaming.GapClose(600)), target / 5),
      ("events_batch_periodic",
        () => batchFlushStreamDf(spark, graft.streaming.TickClose(600)), target / 5),
      ("events_queue_latency", () => queueLatencyStreamDf(spark), target / 5),
      ("docs_neardup", () => docStreamDf(spark), target / 10),
      ("docs_domain_cap", () => domainCapStreamDf(spark), target))
    val recs = probes.map { case (name, mk, tgt) =>
      val (done, secs, stats) = runStreamToTarget(spark, mk(), tgt, name)
      println(f"[probe] $name%-20s ${done / secs}%.0f rows/s ($done rows in $secs%.1f s) $stats")
      name -> (Map[String, Any]("rows" -> done,
        "secs" -> math.rint(secs * 1000) / 1000,
        "rows_per_s" -> math.rint(done / secs)) ++
        scala.collection.immutable.TreeMap(stats.toSeq: _*))
    }
    import org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization
    val out = Map[String, Any]("metric" -> "stream_suite",
      "unit" -> "rows_per_s", "target" -> target,
      "probes" -> scala.collection.immutable.TreeMap(recs: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get("STREAMBENCH.json"),
      Serialization.writePretty(out)(DefaultFormats).getBytes("UTF-8"))
    println("[probe] wrote STREAMBENCH.json")
    (recs.map(_._2("rows").asInstanceOf[Long]).sum,
      recs.flatMap { case (n, m) => Seq(s"${n}_rows_per_s" -> m("rows_per_s")) }.toMap)
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

  /** Total bytes of regular files under a directory (index/raw dump
    * size accounting for the compression-ratio probes). */
  private def dirBytes(p: String): Long = {
    val base = java.nio.file.Paths.get(p)
    val s = java.nio.file.Files.walk(base)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Brute-force exact cosine top-k id pairs for the first `nQ`
    * vec_ids — the SHARED recall baseline of the ivfcurve and sq8
    * probes (one definition so the two probes can never measure recall
    * against different baselines). Harness-side collect of nQ·k id
    * pairs only, never corpus rows. */
  private def exactTopK(v: DataFrame, nQ: Int, k: Int): Set[(Long, Long)] =
    exactTopKFor(v, v.filter(col("vec_id") < nQ), k)

  /** exactTopK against an explicit query subset of v-shaped rows
    * (vec_id, e, norm) — any predicate: the refit probe queries
    * DRIFTED ids, not the 0..nQ prefix. */
  private def exactTopKFor(v: DataFrame, q: DataFrame,
      k: Int): Set[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val dotc = graft.functions.DotProduct.column _
    val qside = broadcast(q
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("norm").as("qnorm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    v.select(col("vec_id").as("neighbor_id"), col("e"), col("norm"))
      .crossJoin(qside)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        dotc(col("e"), col("qe")) / (col("norm") * col("qnorm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Deterministic synthetic 40-token doc: tokens from a splitmix
    * stream over an effectively unbounded vocabulary, so unigram
    * bucket profiles of distinct ids are near-orthogonal (expected
    * cos ~ 40/256) while a one-word edit keeps cos ≥ 39/40. Shared by
    * the textdedup and textadmit probes. */
  private def synthTextWords(base: Long): Array[String] =
    Array.tabulate(40) { j =>
      var h = (base * 131L + j * 17L) *
        -7046029254386353131L // 0x9E3779B97F4A7C15
      h ^= (h >>> 31)
      h *= -4658895280553007687L // 0xBF58476D1CE4E5B9
      h ^= (h >>> 27)
      s"t${h & 0xffffff}"
    }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(java.nio.file.Files.deleteIfExists(_))
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.head
    // probes measure the library under the bench's session shape
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    args.tail.foreach { q =>
      val t0 = System.nanoTime()
      val (n, extra): (Long, Map[String, Any]) = q.split(":") match {
        case Array("ivf", k) =>
          (graft.operators.Similarity.ivfAnn(vecs(spark, dir, withLabel = true),
            col("vec_id") < 5, k.toInt).count(), Map.empty)
        case Array("ivf", k, np) =>
          (graft.operators.Similarity.ivfAnn(vecs(spark, dir, withLabel = true),
            col("vec_id") < 5, k.toInt, nprobe = np.toInt).count(), Map.empty)
        case Array("kmeans", k, iters) =>
          // r15: Lloyd's production path at probe scale — fit seconds,
          // objective, and cluster balance (an empty/degenerate split
          // would show up as max_cluster ~ n)
          val fit = CacheScope.persistTracked(graft.operators.Similarity
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
            graft.operators.Similarity.lshNearDupPairs(
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
          val tuned = Seq(
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
          val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
          tuned.foreach { case (k, v) => spark.conf.set(k, v) }
          try {
            val ev = Tables.events(spark, dir).select(col("user_id"), col("value"))
            // materialize the dim first (a precomputed per-user table,
            // the realistic shape): computed inline, its final
            // HashAggregate sits between the join and the shuffle
            // stage, and OptimizeSkewedJoin only matches a join whose
            // BOTH children are sort-over-shuffle-stage directly
            val dim = Tables.events(spark, dir)
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
          } finally prev.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
        case Array("docstream", total) =>
          // streaming near-dup suppression throughput → noop sink;
          // prints docs/sec (pipeline in [[docStreamDf]])
          val (done, secs, stats) =
            runStreamToTarget(spark, docStreamDf(spark), total.toLong, "docstream")
          println(f"[probe] docstream throughput: ${done / secs}%.0f docs/s ($done docs in $secs%.1f s)")
          (done, Map[String, Any]("docs_per_s" -> math.rint(done / secs)) ++ stats)
        case Array("stream", total) =>
          // end-to-end streaming ingest throughput → noop sink; prints
          // events/sec over >= `total` rows — the number to hold against
          // the reference service's single-node ingest (pipeline in
          // [[routeStreamDf]])
          val (done, secs, stats) =
            runStreamToTarget(spark, routeStreamDf(spark), total.toLong, "stream")
          println(f"[probe] stream throughput: ${done / secs}%.0f events/s ($done rows in $secs%.1f s)")
          (done, Map[String, Any]("events_per_s" -> math.rint(done / secs)) ++ stats)
        case Array("streamsuite", rest @ _*) =>
          streamSuite(spark, rest.headOption.map(_.toLong).getOrElse(500000L))
        case Array("ivfcurve", k, cellsSpec @ _*) =>
          // VERDICT r12 #6: recall/latency curve against the PERSISTED
          // index — build once, reload, sweep nprobe, score each sweep
          // point against the brute-force exact top-k. Driver-side
          // collects are harness-only: nQ*k id pairs, never corpus rows.
          // Optional cells arg (r13 #6, `ivfcurve:k:C`): instead of the
          // label column, assign cells by a REAL one-iteration Lloyd
          // pass — C seed centroids (lowest vec_ids), every vector
          // joined to its nearest seed (broadcast, C rows) — so the
          // cell count becomes the sweepable knob that bounds in-cell
          // candidates at scale.
          import org.apache.spark.sql.expressions.Window
          val kk = k.toInt
          val nQ = 50
          val isQuery = col("vec_id") < nQ
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
          val idxDir = java.nio.file.Files.createTempDirectory("ivfcurve")
          val tb = System.nanoTime()
          graft.operators.Similarity.ivfIndex(v)
            .write.mode("overwrite").parquet(s"$idxDir/index")
          val buildSecs = (System.nanoTime() - tb) / 1e9
          val cent = spark.read.parquet(s"$idxDir/index")
          val nCells = cent.count().toInt
          val exact = exactTopK(v, nQ, kk)
          val sweep = Seq(1, 2, 4, 8).filter(_ < nCells) :+ nCells
          val curve = sweep.map { np =>
            val t1 = System.nanoTime()
            val got = graft.operators.Similarity
              .ivfSearch(v, cent, isQuery, kk, np)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val s = (System.nanoTime() - t1) / 1e9
            val recall = got.count(exact.contains).toDouble / exact.size
            println(f"[probe] ivfcurve nprobe=$np%-3d recall=$recall%.4f  $s%6.2f s")
            Map[String, Any]("nprobe" -> np,
              "recall" -> math.rint(recall * 10000) / 10000,
              "secs" -> math.rint(s * 1000) / 1000)
          }
          (exact.size.toLong, Map[String, Any](
            "build_secs" -> math.rint(buildSecs * 1000) / 1000,
            "n_cells" -> nCells, "k" -> kk, "n_queries" -> nQ,
            "curve" -> curve))
        case Array("qcstream", n) =>
          // r15: frozen quality-model streaming scorer — train the
          // Rocchio model on the dir's documents ONCE, persist/reload,
          // then rate-source synthetic docs through
          // DocStream.qualityScoreSink and measure sustained docs/sec
          // (stateless: the <=256-row model broadcasts per batch)
          val target = n.toLong
          val docs = Tables.documents(spark, dir)
          val idxDir = java.nio.file.Files.createTempDirectory("qcstream_idx")
          val outDir = java.nio.file.Files.createTempDirectory("qcstream_out")
          val ckDir = java.nio.file.Files.createTempDirectory("qcstream_ck")
          try {
            val tb = System.nanoTime()
            graft.queries.Scoring.saveQualityModel(
              graft.queries.Scoring.trainQualityModel(docs), idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            CacheScope.releaseAll()
            val model = graft.queries.Scoring.loadQualityModel(
              spark, idxDir.toString)
            val dstream = spark.readStream.format("rate-micro-batch")
              .option("rowsPerBatch", 20000L)
              .option("numPartitions", 32).load()
              .selectExpr(
                "value AS doc_id",
                """array_join(transform(sequence(1, 30),
                  |  i -> concat('w', pmod(value * 31 + i * 7, 5000))), ' ')
                  |AS text""".stripMargin.replaceAll("\n", ""))
            val listener = new RowsListener
            spark.streams.addListener(listener)
            var qq: org.apache.spark.sql.streaming.StreamingQuery = null
            try {
              qq = graft.streaming.DocStream.qualityScoreSink(
                dstream, model, outDir.toString, ckDir.toString)
              val t1 = System.nanoTime()
              var done = 0L
              while (done < target) {
                Thread.sleep(100)
                if (!qq.isActive)
                  throw qq.exception.getOrElse(new IllegalStateException(
                    "qcstream probe query terminated before target"))
                done = listener.rows.get()
              }
              qq.stop()
              val secs = (System.nanoTime() - t1) / 1e9
              println(f"[probe] qcstream ${done / secs}%.0f docs/s " +
                f"($done docs in $secs%.1f s) ${listener.stats}")
              (done, Map[String, Any](
                "build_secs" -> math.rint(buildSecs * 1000) / 1000,
                "docs_per_s" -> math.rint(done / secs),
                "train_docs" -> docs.count(),
                "secs" -> math.rint(secs * 1000) / 1000) ++
                scala.collection.immutable.TreeMap(listener.stats.toSeq: _*))
            } finally {
              spark.streams.removeListener(listener)
              if (qq != null && qq.isActive) {
                try qq.stop() catch { case _: Throwable => () }
              }
            }
          } finally {
            deleteRecursively(idxDir)
            deleteRecursively(outDir)
            deleteRecursively(ckDir)
          }
        case Array("annstream", n) =>
          // r15: frozen-index streaming ANN — fit+persist an IVFADC
          // index over the dir's vectors ONCE, then rate-source
          // synthetic query vectors through EmbStream.annScoreSink and
          // measure sustained queries/sec (per-batch search cost is
          // broadcast-side only; the codes never reshuffle)
          val target = n.toLong
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("annstream_idx")
          val outDir = java.nio.file.Files.createTempDirectory("annstream_out")
          val ckDir = java.nio.file.Files.createTempDirectory("annstream_ck")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = 8, kc = 64, kCoarse = 16, iters = 2),
              idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            CacheScope.releaseAll()
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            val qstream = spark.readStream.format("rate-micro-batch")
              .option("rowsPerBatch", 2000L)
              .option("numPartitions", 32).load()
              .selectExpr(
                "value AS query_id",
                """transform(sequence(0, 63), j ->
                  |  (cast(pmod(value * 131 + j * 17, 2001) as double)
                  |   - 1000.0) / 1000.0) AS qe"""
                  .stripMargin.replaceAll("\n", ""))
              .selectExpr("query_id", "qe",
                "sqrt(aggregate(transform(qe, x -> x * x), 0.0d, (a, x) -> a + x)) AS qnorm")
            val listener = new RowsListener
            spark.streams.addListener(listener)
            var qq: org.apache.spark.sql.streaming.StreamingQuery = null
            try {
              // synthetic query ids are EXTERNAL to the corpus id
              // space — self-exclusion would drop unrelated vectors
              qq = graft.streaming.EmbStream.annScoreSink(qstream, idx,
                k = 10, nprobe = 2, outDir.toString, ckDir.toString,
                excludeSelf = false)
              val t1 = System.nanoTime()
              var done = 0L
              while (done < target) {
                Thread.sleep(100)
                if (!qq.isActive)
                  throw qq.exception.getOrElse(new IllegalStateException(
                    "annstream probe query terminated before target"))
                done = listener.rows.get()
              }
              qq.stop()
              val secs = (System.nanoTime() - t1) / 1e9
              println(f"[probe] annstream ${done / secs}%.0f queries/s " +
                f"($done queries in $secs%.1f s) ${listener.stats}")
              (done, Map[String, Any](
                "build_secs" -> math.rint(buildSecs * 1000) / 1000,
                "queries_per_s" -> math.rint(done / secs),
                "corpus_rows" -> v.count(), "k" -> 10, "nprobe" -> 2,
                "secs" -> math.rint(secs * 1000) / 1000) ++
                scala.collection.immutable.TreeMap(listener.stats.toSeq: _*))
            } finally {
              spark.streams.removeListener(listener)
              if (qq != null && qq.isActive) {
                try qq.stop() catch { case _: Throwable => () }
              }
            }
          } finally {
            deleteRecursively(idxDir)
            deleteRecursively(outDir)
            deleteRecursively(ckDir)
          }
        case Array("spanstream", n) =>
          // r18: streaming span-level decontamination — synthetic
          // ~30-word docs rate-stream through decontaminateSpansSink
          // against a frozen 20-doc bench built from the SAME
          // deterministic vocab formula. A span's identity here is its
          // first word's residue mod 5000 (consecutive words step +7),
          // so the bench covers 20·23/5000 ≈ 9% of span space — real
          // partial contamination, neither vacuous nor saturating
          val target = n.toLong
          val docExpr = """array_join(transform(sequence(1, 30),
            |  i -> concat('w', pmod(value * 31 + i * 7, 5000))), ' ')
            |AS text""".stripMargin.replaceAll("\n", "")
          val bench = spark.range(20).selectExpr("id AS value")
            .selectExpr("value AS doc_id", docExpr)
          val src = spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 20000L)
            .option("numPartitions", 32).load()
            .selectExpr("value AS doc_id", docExpr)
          val outDir = java.nio.file.Files.createTempDirectory("spanstream_out")
          val ckDir = java.nio.file.Files.createTempDirectory("spanstream_ck")
          try {
            val listener = new RowsListener
            spark.streams.addListener(listener)
            var qq: org.apache.spark.sql.streaming.StreamingQuery = null
            try {
              qq = graft.streaming.DocStream.decontaminateSpansSink(
                src, bench, outDir.toString, ckDir.toString, n = 8)
              val t1 = System.nanoTime()
              var done = 0L
              while (done < target) {
                Thread.sleep(100)
                if (!qq.isActive)
                  throw qq.exception.getOrElse(new IllegalStateException(
                    "spanstream probe query terminated before target"))
                done = listener.rows.get()
              }
              qq.stop()
              val secs = (System.nanoTime() - t1) / 1e9
              // rate from the OUTPUT rows (one per doc): numInputRows
              // is only the stop trigger — it over-counts if the plan
              // ever scans its source more than once per trigger
              val out = spark.read.parquet(outDir.toString)
              val excised = out.filter(col("n_removed") > 0).count()
              val rows = out.count()
              require(excised > 0, "spanstream: zero excisions — vacuous")
              require(excised < rows,
                "spanstream: every doc excised — bench saturates span space")
              println(f"[probe] spanstream ${rows / secs}%.0f docs/s " +
                f"($rows docs in $secs%.1f s; $excised excised) " +
                f"${listener.stats}")
              (rows, Map[String, Any](
                "docs_per_s" -> math.rint(rows / secs),
                "excised_docs" -> excised, "out_rows" -> rows,
                "secs" -> math.rint(secs * 1000) / 1000) ++
                scala.collection.immutable.TreeMap(listener.stats.toSeq: _*))
            } finally {
              spark.streams.removeListener(listener)
              if (qq != null && qq.isActive) {
                try qq.stop() catch { case _: Throwable => () }
              }
            }
          } finally {
            deleteRecursively(outDir)
            deleteRecursively(ckDir)
          }
        case Array("annappend", n) =>
          // r18: streaming ANN-index maintenance — fit+persist an
          // IVFADC index ONCE, then rate-source synthetic NEW vectors
          // through EmbStream.ivfPqAppendSink (map-side encode against
          // the frozen artifacts, per-batch delta subtrees) and
          // measure sustained vectors/s absorbed; then fold the
          // deltas back in and check the staleness meta counted every
          // absorbed row
          val target = n.toLong
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("annapp_idx")
          val dlDir = java.nio.file.Files.createTempDirectory("annapp_delta")
          val ckDir = java.nio.file.Files.createTempDirectory("annapp_ck")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = 8, kc = 64, kCoarse = 16, iters = 2),
              idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            CacheScope.releaseAll()
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            val corpusRows = v.count()
            val vstream = spark.readStream.format("rate-micro-batch")
              .option("rowsPerBatch", 2000L)
              .option("numPartitions", 32).load()
              .selectExpr(
                s"value + ${corpusRows}L AS vec_id", // fresh id space
                """transform(sequence(0, 63), j ->
                  |  (cast(pmod(value * 131 + j * 17, 2001) as double)
                  |   - 1000.0) / 1000.0) AS e"""
                  .stripMargin.replaceAll("\n", ""))
            val listener = new RowsListener
            spark.streams.addListener(listener)
            var qq: org.apache.spark.sql.streaming.StreamingQuery = null
            try {
              qq = graft.streaming.EmbStream.ivfPqAppendSink(
                vstream, idx, dlDir.toString, ckDir.toString)
              val t1 = System.nanoTime()
              var done = 0L
              while (done < target) {
                Thread.sleep(100)
                if (!qq.isActive)
                  throw qq.exception.getOrElse(new IllegalStateException(
                    "annappend probe query terminated before target"))
                done = listener.rows.get()
              }
              qq.stop()
              val secs = (System.nanoTime() - t1) / 1e9
              val folded = graft.operators.Similarity
                .loadIvfPqIndexWithDeltas(spark, idxDir.toString,
                  dlDir.toString)
              val appended = folded.meta.select("n_appended")
                .collect()(0).getLong(0)
              require(appended >= done,
                s"annappend: meta counted $appended < $done absorbed")
              require(folded.codes.count() == corpusRows + appended,
                "annappend: folded codes != base + deltas")
              println(f"[probe] annappend ${done / secs}%.0f vectors/s " +
                f"($done vectors in $secs%.1f s, folded n_appended=" +
                f"$appended) ${listener.stats}")
              (done, Map[String, Any](
                "build_secs" -> math.rint(buildSecs * 1000) / 1000,
                "vectors_per_s" -> math.rint(done / secs),
                "corpus_rows" -> corpusRows, "n_appended" -> appended,
                "secs" -> math.rint(secs * 1000) / 1000) ++
                scala.collection.immutable.TreeMap(listener.stats.toSeq: _*))
            } finally {
              spark.streams.removeListener(listener)
              if (qq != null && qq.isActive) {
                try qq.stop() catch { case _: Throwable => () }
              }
            }
          } finally {
            deleteRecursively(idxDir)
            deleteRecursively(dlDir)
            deleteRecursively(ckDir)
          }
        case Array("mmdedup", n, dupEvery) =>
          // r19: end-to-end IMAGE near-dup dedup at scale — synthetic
          // 32x16 PGM corpus (4x4 block pattern from a per-image hash,
          // so unrelated centered feature vectors are near-orthogonal),
          // every dupEvery-th image a 1-pixel nudge of its predecessor;
          // REAL decode -> gridFeatureVec -> the PRODUCTION graph path
          // (bulk ivfPqSearchRefine over pixel features) -> knnGraphDedup; gates
          // on planted-pair recall, reports per-stage seconds.
          import spark.implicits._
          val total = n.toInt
          val every = dupEvery.toInt
          require(every >= 2, s"mmdedup: dupEvery must be >= 2, got $every")
          def pixels(img: Long): Array[Int] = {
            val base = if (img % every == 1 && img > 0) img - 1 else img
            val px = new Array[Int](32 * 16)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 32) {
                val bx = x / 8; val by = y / 4
                // splitmix-style finalizer: a plain multiply-shift is
                // AFFINE in the argument, which makes any two images
                // whose block arguments differ by a constant collapse
                // to the same centered feature vector (measured: 7.5%
                // of unrelated pairs over cos 0.99); the xor-shift
                // mixing drops the unrelated max to 0.758 while
                // planted pairs stay >= 0.9999999
                var h = (base * 131L + bx * 17L + by * 37L) *
                  -7046029254386353131L // 0x9E3779B97F4A7C15
                h ^= (h >>> 31)
                h *= -4658895280553007687L // 0xBF58476D1CE4E5B9
                h ^= (h >>> 27)
                px(y * 32 + x) = ((h >>> 24) & 0xff).toInt
                x += 1
              }
              y += 1
            }
            if (img % every == 1 && img > 0) px(37) = (px(37) + 2) & 0xff
            px
          }
          val media = spark.range(total).map { i =>
            graft.multimodal.Media(i, "image",
              graft.multimodal.PnmCodec.encode(
                graft.multimodal.Raster(32, 16, 1, pixels(i))), 32, 16, 0)
          }
          val t0e = System.nanoTime()
          val feats = CacheScope.persistTracked(
            graft.multimodal.Multimodal.embedMedia(media, 4, 4).toDF()
              .filter(col("decoded"))
              .select(col("media_id").as("vec_id"), col("e")))
          val nFeats = feats.count()
          val embedSecs = (System.nanoTime() - t0e) / 1e9
          val t1g = System.nanoTime()
          val idx = graft.operators.Similarity.ivfPqFit(
            feats, dim = 16, m = 4, kc = 256, kCoarse = 64, iters = 3,
            trainN = 20000)
          val qside = feats.select(col("vec_id").as("query_id"),
              col("e").as("qe"))
            .withColumn("qnorm", sqrt(
              graft.functions.DotProduct.column(col("qe"), col("qe"))))
          // lossy ADC graph shortlists; EXACT cosine re-ranks the n·k
          // shortlist rows before the tau verdict (the 41j refine
          // pattern — a 0.99 duplicate gate on raw ADC scores would
          // drop true dups on quantization error alone: measured
          // planted recall 0.26 unrefined vs 1.0 refined at 2k)
          val graph = CacheScope.persistTracked(
            graft.operators.Similarity.ivfPqSearchRefine(idx, qside, feats,
              k = 3, kShort = 3, nprobe = 2, bulk = true))
          val gRows = graph.count()
          val graphSecs = (System.nanoTime() - t1g) / 1e9
          val t2d = System.nanoTime()
          val verdict = CacheScope.persistTracked(
            graft.operators.GraphDedup.knnGraphDedup(
              graph, feats.select(col("vec_id").as("id")), tau = 0.99))
          val dropped = verdict.filter(!col("keep")).count()
          val dedupSecs = (System.nanoTime() - t2d) / 1e9
          // planted recall: (i-1, i) pairs must share a component
          val planted = verdict.as("a").join(verdict.as("b"),
              col("b.id") === col("a.id") + 1 &&
                col("a.id") % every === 0)
            .select((col("a.component") === col("b.component"))
              .cast("long").as("hit"))
            .agg(sum(col("hit")).as("hits"), count(lit(1)).as("n"))
            .collect()(0)
          val recall = planted.getLong(0).toDouble / planted.getLong(1)
          require(recall > 0.5,
            f"mmdedup: planted-pair recall $recall%.3f is not above " +
              "chance — the feature bridge or graph path is broken")
          println(f"[probe] mmdedup n=$total%d embed $embedSecs%.1f s " +
            f"(${nFeats / embedSecs}%.0f imgs/s) graph $graphSecs%.1f s " +
            f"($gRows%d rows) dedup $dedupSecs%.1f s dropped=$dropped%d " +
            f"planted_recall=$recall%.3f")
          (nFeats, Map[String, Any](
            "embed_secs" -> math.rint(embedSecs * 1000) / 1000,
            "imgs_per_s" -> math.rint(nFeats / embedSecs),
            "graph_secs" -> math.rint(graphSecs * 1000) / 1000,
            "graph_rows" -> gRows,
            "dedup_secs" -> math.rint(dedupSecs * 1000) / 1000,
            "dropped" -> dropped, "dup_every" -> every,
            "planted_pairs" -> planted.getLong(1),
            "planted_recall" -> math.rint(recall * 10000) / 10000))
        case Array("textdedup", n, dupEvery, npRest @ _*)
            if npRest.size <= 1 =>
          // r20: end-to-end semantic TEXT dedup at scale — synthetic
          // 40-word docs whose tokens come from a per-doc splitmix
          // hash (an effectively unbounded vocabulary, so unrelated
          // unigram-bucket profiles are near-orthogonal: expected cos
          // ~ 40/256), every dupEvery-th doc a one-word substitution
          // of its predecessor (cos >= 39/40 = 0.975); raw text ->
          // TextFeatures.unigramBucketVec -> the PRODUCTION graph
          // path (bulk ivfPqSearch shortlists + exact
          // re-rank — a 0.95 gate needs exact shortlist scores, the
          // mmdedup lesson) -> knnGraphDedup; gates on planted-pair
          // recall, reports per-stage seconds.
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
          val t0e = System.nanoTime()
          val feats = CacheScope.persistTracked(
            graft.operators.TextFeatures.unigramBucketVec(docs)
              .select(col("doc_id").as("vec_id"), col("e")))
          val nFeats = feats.count()
          val embedSecs = (System.nanoTime() - t0e) / 1e9
          val t1g = System.nanoTime()
          val idx = graft.operators.Similarity.ivfPqFit(
            feats, dim = 256, m = 16, kc = 256, kCoarse = 64, iters = 3,
            trainN = 20000)
          val qside = feats.select(col("vec_id").as("query_id"),
              col("e").as("qe"))
            .withColumn("qnorm", sqrt(
              graft.functions.DotProduct.column(col("qe"), col("qe"))))
          // top-10 ADC shortlist, EXACT re-rank to k=3 (the 41j
          // refine pattern — a 0.95 gate needs exact shortlist scores)
          val graph = CacheScope.persistTracked(
            graft.operators.Similarity.ivfPqSearchRefine(idx, qside, feats,
              k = 3, kShort = 10, nprobe = nprobe, bulk = true))
          val gRows = graph.count()
          val graphSecs = (System.nanoTime() - t1g) / 1e9
          val t2d = System.nanoTime()
          val verdict = CacheScope.persistTracked(
            graft.operators.GraphDedup.knnGraphDedup(
              graph, feats.select(col("vec_id").as("id")), tau = 0.95))
          val dropped = verdict.filter(!col("keep")).count()
          val dedupSecs = (System.nanoTime() - t2d) / 1e9
          // planted recall: (i-1, i) pairs must share a component
          val planted = verdict.as("a").join(verdict.as("b"),
              col("b.id") === col("a.id") + 1 &&
                col("a.id") % every === 0)
            .select((col("a.component") === col("b.component"))
              .cast("long").as("hit"))
            .agg(sum(col("hit")).as("hits"), count(lit(1)).as("n"))
            .collect()(0)
          val recall = planted.getLong(0).toDouble / planted.getLong(1)
          require(recall > 0.5,
            f"textdedup: planted-pair recall $recall%.3f is not above " +
              "chance — the text bridge or graph path is broken")
          println(f"[probe] textdedup n=$total%d embed $embedSecs%.1f s " +
            f"(${nFeats / embedSecs}%.0f docs/s) graph $graphSecs%.1f s " +
            f"($gRows%d rows) dedup $dedupSecs%.1f s dropped=$dropped%d " +
            f"planted_recall=$recall%.3f")
          (nFeats, Map[String, Any](
            "embed_secs" -> math.rint(embedSecs * 1000) / 1000,
            "docs_per_s" -> math.rint(nFeats / embedSecs),
            "graph_secs" -> math.rint(graphSecs * 1000) / 1000,
            "graph_rows" -> gRows,
            "dedup_secs" -> math.rint(dedupSecs * 1000) / 1000,
            "dropped" -> dropped, "dup_every" -> every, "nprobe" -> nprobe,
            "planted_pairs" -> planted.getLong(1),
            "planted_recall" -> math.rint(recall * 10000) / 10000))
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
          val target = n.toLong
          // optional batch-size knob (r21 — the VERDICT amortization
          // sweep: fixed per-trigger cost vs rows per trigger)
          val rowsPerBatch = rest.headOption.map(_.toLong).getOrElse(2000L)
          val refN = 20000
          val refDocs = spark.range(refN)
            .map(i => (i, synthTextWords(i).mkString(" ")))
            .toDF("doc_id", "text")
          val t0b = System.nanoTime()
          val refVecs = CacheScope.persistTracked(
            graft.operators.TextFeatures.unigramBucketVec(refDocs)
              .select(col("doc_id").as("vec_id"), col("e")))
          refVecs.count()
          // SAVE + RELOAD the index (the annstream discipline): the
          // fit result is plan-backed — handing it to a per-batch
          // sink re-runs the whole k-means fit EVERY micro-batch
          // (measured 82 s/batch; reloaded, the batch pays only the
          // search)
          val idxDir = java.nio.file.Files.createTempDirectory("tadmit_idx")
          graft.operators.Similarity.saveIvfPqIndex(
            graft.operators.Similarity.ivfPqFit(
              refVecs, dim = 256, m = 16, kc = 256, kCoarse = 64,
              iters = 3, trainN = 20000),
            idxDir.toString)
          val idx = graft.operators.Similarity.loadIvfPqIndex(
            spark, idxDir.toString)
          val buildSecs = (System.nanoTime() - t0b) / 1e9
          val outDir = java.nio.file.Files.createTempDirectory("tadmit_out")
          val ckDir = java.nio.file.Files.createTempDirectory("tadmit_ck")
          try {
            val dstream = spark.readStream.format("rate-micro-batch")
              .option("rowsPerBatch", rowsPerBatch)
              .option("numPartitions", 32).load()
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
            val listener = new RowsListener
            spark.streams.addListener(listener)
            var qq: org.apache.spark.sql.streaming.StreamingQuery = null
            try {
              qq = graft.streaming.DocStream.textSemanticAdmitSink(
                dstream, idx, tau = 0.95, nprobe = 8, outDir.toString,
                ckDir.toString, refineWith = Some((refVecs, 10)))
              val t1 = System.nanoTime()
              var done = 0L
              while (done < target) {
                Thread.sleep(100)
                if (!qq.isActive)
                  throw qq.exception.getOrElse(new IllegalStateException(
                    "textadmit probe query terminated before target"))
                done = listener.rows.get()
              }
              qq.stop()
              val secs = (System.nanoTime() - t1) / 1e9
              val verdicts = spark.read.parquet(outDir.toString)
              val agg = verdicts.agg(
                count(lit(1)).as("n"),
                sum(when(col("doc_id") % 10 === 0 && !col("admit"), 1L)
                  .otherwise(0L)).as("planted_rejected"),
                sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L))
                  .as("planted"),
                sum(when(col("doc_id") % 10 =!= 0 && col("admit"), 1L)
                  .otherwise(0L)).as("novel_admitted"),
                sum(when(col("doc_id") % 10 =!= 0, 1L).otherwise(0L))
                  .as("novel")).collect()(0)
              val rejRecall =
                agg.getLong(1).toDouble / math.max(agg.getLong(2), 1L)
              val admShare =
                agg.getLong(3).toDouble / math.max(agg.getLong(4), 1L)
              require(rejRecall > 0.5,
                f"textadmit: planted rejection $rejRecall%.3f not above " +
                  "chance — the text admission gate is broken")
              require(admShare > 0.5,
                f"textadmit: novel admission $admShare%.3f not above " +
                  "chance — the gate rejects everything")
              println(f"[probe] textadmit ${done / secs}%.0f docs/s " +
                f"($done docs in $secs%.1f s; build $buildSecs%.1f s, " +
                f"planted_rejected=$rejRecall%.3f " +
                f"novel_admitted=$admShare%.3f) ${listener.stats}")
              (done, Map[String, Any](
                "build_secs" -> math.rint(buildSecs * 1000) / 1000,
                "docs_per_s" -> math.rint(done / secs),
                "ref_rows" -> refN, "tau" -> 0.95, "nprobe" -> 8,
                "k_short" -> 10, "rows_per_batch" -> rowsPerBatch,
                "planted_rejected" -> math.rint(rejRecall * 10000) / 10000,
                "novel_admitted" -> math.rint(admShare * 10000) / 10000,
                "secs" -> math.rint(secs * 1000) / 1000) ++
                scala.collection.immutable.TreeMap(listener.stats.toSeq: _*))
            } finally {
              spark.streams.removeListener(listener)
              if (qq != null && qq.isActive) {
                try qq.stop() catch { case _: Throwable => () }
              }
            }
          } finally {
            deleteRecursively(idxDir)
            deleteRecursively(outDir)
            deleteRecursively(ckDir)
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
          val target = n.toLong
          val kk = 5
          val np = 2 // the knndedup-proven budget: 64 cells, probe 2
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("gapp_idx")
          val gDir = java.nio.file.Files.createTempDirectory("gapp_graph")
          val dlDir = java.nio.file.Files.createTempDirectory("gapp_delta")
          val ckDir = java.nio.file.Files.createTempDirectory("gapp_ck")
          try {
            val corpusRows = v.count()
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = 8, kc = 256, kCoarse = 64, iters = 3,
                trainN = 20000),
              idxDir.toString)
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            val qside = v.select(col("vec_id").as("query_id"),
              col("e").as("qe"), col("norm").as("qnorm"))
            graft.operators.KnnGraph.save(
              graft.operators.Similarity.ivfPqSearch(idx, qside, kk, np,
                bulk = true),
              kk, np, gDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            CacheScope.releaseAll()
            val vstream = spark.readStream.format("rate-micro-batch")
              .option("rowsPerBatch", 2000L)
              .option("numPartitions", 32).load()
              .selectExpr(
                s"value + ${corpusRows}L AS vec_id", // fresh id space
                """transform(sequence(0, 63), j ->
                  |  (cast(pmod(value * 131 + j * 17, 2001) as double)
                  |   - 1000.0) / 1000.0) AS e"""
                  .stripMargin.replaceAll("\n", ""))
            val listener = new RowsListener
            spark.streams.addListener(listener)
            var qq: org.apache.spark.sql.streaming.StreamingQuery = null
            try {
              qq = graft.streaming.EmbStream.knnGraphAppendSink(
                vstream, idx, kk, np, dlDir.toString, ckDir.toString)
              val t1 = System.nanoTime()
              var done = 0L
              while (done < target) {
                Thread.sleep(100)
                if (!qq.isActive)
                  throw qq.exception.getOrElse(new IllegalStateException(
                    "graphappend probe query terminated before target"))
                done = listener.rows.get()
              }
              qq.stop()
              val secs = (System.nanoTime() - t1) / 1e9
              val t2 = System.nanoTime()
              val folded = graft.operators.KnnGraph.loadWithDeltas(
                spark, gDir.toString, dlDir.toString)
              val appended = folded.meta.select("n_appended")
                .collect()(0).getLong(0)
              require(appended >= done,
                s"graphappend: meta counted $appended < $done absorbed")
              val arrivalNodes = folded.edges
                .filter(col("query_id") >= corpusRows)
                .select(countDistinct(col("query_id"))).collect()(0)
                .getLong(0)
              require(arrivalNodes == appended,
                s"graphappend: folded graph carries $arrivalNodes " +
                  s"arrival nodes, meta says $appended")
              val nodes = folded.edges.select(col("query_id").as("id"))
                .distinct()
              val verdicts = graft.operators.GraphDedup
                .knnGraphDedup(folded.edges, nodes, tau = 0.7)
              val dropped = verdicts.filter(!col("keep")).count()
              val consumeSecs = (System.nanoTime() - t2) / 1e9
              val rebuild = graft.operators.KnnGraph.needsRebuild(folded)
              // fold-then-REUSE leg (r20): persist the component map
              // (GraphDedup.saveVerdicts) once, then time a downstream
              // consumer reading the verdicts back instead of
              // re-running CC — the artifact split for the dedup tail,
              // like KnnGraph.save was for the build. Gate: the
              // reloaded verdicts are current for THIS folded graph
              // (needsRecompute false) and count-identical.
              val vDir = java.nio.file.Files
                .createTempDirectory("gapp_verdicts")
              try {
                val tSave = System.nanoTime()
                graft.operators.GraphDedup.saveVerdicts(
                  verdicts, tau = 0.7, folded.meta, vDir.toString)
                val saveSecs = (System.nanoTime() - tSave) / 1e9
                val tReuse = System.nanoTime()
                val reloaded = graft.operators.GraphDedup
                  .loadVerdicts(spark, vDir.toString)
                val reDropped = reloaded.verdicts
                  .filter(!col("keep")).count()
                val reuseSecs = (System.nanoTime() - tReuse) / 1e9
                require(reDropped == dropped,
                  s"graphappend: reloaded verdicts dropped $reDropped" +
                    s" != $dropped")
                require(!graft.operators.GraphDedup.needsRecompute(
                  reloaded, folded),
                  "graphappend: fresh verdicts read stale")
                println(f"[probe] graphappend ${done / secs}%.0f vectors/s " +
                  f"($done vectors in $secs%.1f s; build $buildSecs%.1f s, " +
                  f"fold+dedup $consumeSecs%.1f s, dropped=$dropped, " +
                  f"verdict save $saveSecs%.1f s reuse $reuseSecs%.1f s, " +
                  f"needs_rebuild=$rebuild) ${listener.stats}")
                (done, Map[String, Any](
                  "build_secs" -> math.rint(buildSecs * 1000) / 1000,
                  "vectors_per_s" -> math.rint(done / secs),
                  "corpus_rows" -> corpusRows, "n_appended" -> appended,
                  "fold_consume_secs" -> math.rint(consumeSecs * 1000) / 1000,
                  "verdict_save_secs" -> math.rint(saveSecs * 1000) / 1000,
                  "verdict_reuse_secs" -> math.rint(reuseSecs * 1000) / 1000,
                  "dropped" -> dropped, "needs_rebuild" -> rebuild,
                  "topk" -> kk, "nprobe" -> np,
                  "secs" -> math.rint(secs * 1000) / 1000) ++
                  scala.collection.immutable.TreeMap(listener.stats.toSeq: _*))
              } finally deleteRecursively(vDir)
            } finally {
              spark.streams.removeListener(listener)
              if (qq != null && qq.isActive) {
                try qq.stop() catch { case _: Throwable => () }
              }
            }
          } finally {
            deleteRecursively(idxDir)
            deleteRecursively(gDir)
            deleteRecursively(dlDir)
            deleteRecursively(ckDir)
          }
        case Array("ivfpq", m, kc, kCoarse, topk, tag @ _*) if tag.size <= 1 =>
          // r15: IVFADC at probe scale — coarse cells + PQ on
          // residuals, persisted/reloaded artifact, nprobe recall
          // sweep (the ivfcurve pattern) + code-bytes compression
          val kk = topk.toInt
          val nQ = 50
          val nC = kCoarse.toInt
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("ivfpqprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = m.toInt, kc = kc.toInt, kCoarse = nC,
                iters = 3), idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            v.select(col("vec_id"), col("e").cast("array<float>").as("embedding"))
              .write.mode("overwrite").parquet(s"$idxDir/raw32")
            val exact = exactTopK(v, nQ, kk)
            val qside = broadcast(v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm")))
            val sweep = Seq(1, 2, 4, 8).filter(_ < nC) :+ nC
            val curve = sweep.map { np =>
              val t1 = System.nanoTime()
              val got = graft.operators.Similarity
                .ivfPqSearch(idx, qside, kk, np)
                .select("query_id", "neighbor_id")
                .collect().map(r => (r.getLong(0), r.getLong(1)))
              val s = (System.nanoTime() - t1) / 1e9
              val recall = got.count(exact.contains).toDouble / exact.size
              println(f"[probe] ivfpq nprobe=$np%-3d recall=$recall%.4f  $s%6.2f s")
              Map[String, Any]("nprobe" -> np,
                "recall" -> math.rint(recall * 10000) / 10000,
                "secs" -> math.rint(s * 1000) / 1000)
            }
            val cb = dirBytes(s"$idxDir/codes")
            val rb = dirBytes(s"$idxDir/raw32")
            (exact.size.toLong, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "m" -> m.toInt, "kc" -> kc.toInt, "k_coarse" -> nC,
              "topk" -> kk, "n_queries" -> nQ, "curve" -> curve,
              "codes_bytes" -> cb, "raw32_bytes" -> rb,
              "bytes_ratio" -> math.rint(rb.toDouble / cb * 100) / 100))
          } finally deleteRecursively(idxDir)
        case Array("pqs", m, kc, train, topk, tag @ _*) if tag.size <= 1 =>
          // r17: SAMPLED codebook training — the 100 TB fit path. Same
          // measurement as the pq probe, but Lloyd's rounds iterate
          // only `train` hash-sampled vectors and the corpus is
          // encoded in one final map-side pass; compare build_secs and
          // recall against the full-fit pq record at the same (m, kc).
          val kk = topk.toInt
          val nQ = 50
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("pqsprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(graft.operators.Similarity.pqFit(
              v, dim = 64, m = m.toInt, kc = kc.toInt, iters = 3,
              trainN = train.toInt), idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(spark, idxDir.toString)
            val exact = exactTopK(v, nQ, kk)
            val qside = broadcast(v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm")))
            val t1 = System.nanoTime()
            val got = graft.operators.Similarity.ivfPqSearch(idx, qside, kk)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val searchSecs = (System.nanoTime() - t1) / 1e9
            val recall = got.count(exact.contains).toDouble / exact.size
            println(f"[probe] pqs m=$m%s kc=$kc%s train=$train%s " +
              f"recall=$recall%.4f build=$buildSecs%.2f s search=$searchSecs%.2f s")
            (exact.size.toLong, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "search_secs" -> math.rint(searchSecs * 1000) / 1000,
              "recall" -> math.rint(recall * 10000) / 10000,
              "m" -> m.toInt, "kc" -> kc.toInt, "train_n" -> train.toInt,
              "topk" -> kk, "n_queries" -> nQ))
          } finally deleteRecursively(idxDir)
        case Array("pqr", m, kc, train, topk, kShort, tag @ _*)
            if tag.size <= 1 =>
          // r17: two-stage refine search (Jégou §VI / IndexRefineFlat)
          // — ADC shortlist + exact re-rank from the raw floats.
          // Measures the recall UPLIFT refine buys over plain ADC on
          // the SAME index and what it costs (the shortlist semi-join
          // pass over the raw vectors), so the kShort knob has a
          // measured curve like nprobe does.
          val kk = topk.toInt
          val ks = kShort.toInt
          val nQ = 50
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("pqrprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(graft.operators.Similarity.pqFit(
              v, dim = 64, m = m.toInt, kc = kc.toInt, iters = 3,
              trainN = train.toInt), idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(spark, idxDir.toString)
            val exact = exactTopK(v, nQ, kk)
            val qside = broadcast(v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm")))
            val t1 = System.nanoTime()
            val adc = graft.operators.Similarity.ivfPqSearch(idx, qside, kk)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val adcSecs = (System.nanoTime() - t1) / 1e9
            val adcRecall = adc.count(exact.contains).toDouble / exact.size
            val t2 = System.nanoTime()
            val ref = graft.operators.Similarity.ivfPqSearchRefine(
                idx, qside, v.select(col("vec_id"), col("e")), kk, ks)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val refSecs = (System.nanoTime() - t2) / 1e9
            val refRecall = ref.count(exact.contains).toDouble / exact.size
            println(f"[probe] pqr m=$m%s kc=$kc%s train=$train%s " +
              f"kShort=$ks%d adc=$adcRecall%.4f ($adcSecs%.2f s) -> " +
              f"refined=$refRecall%.4f ($refSecs%.2f s)")
            (exact.size.toLong, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "adc_secs" -> math.rint(adcSecs * 1000) / 1000,
              "refine_secs" -> math.rint(refSecs * 1000) / 1000,
              "recall_adc" -> math.rint(adcRecall * 10000) / 10000,
              "recall_refined" -> math.rint(refRecall * 10000) / 10000,
              "m" -> m.toInt, "kc" -> kc.toInt, "train_n" -> train.toInt,
              "topk" -> kk, "k_short" -> ks, "n_queries" -> nQ))
          } finally deleteRecursively(idxDir)
        case Array("knn", m, kc, kCoarse, train, topk, np, nq, tag @ _*)
            if tag.size <= 1 =>
          // r17: bulk kNN-graph construction — `nq` corpus vectors as
          // a NON-broadcast query side against the full corpus via
          // bulk ivfPqSearch (map-side probe/tarr, cluster-co-partitioned
          // scoring join). Reports graph rows/s and sampled recall
          // (exact kNN computed for the 50 lowest query ids only —
          // the full exact graph is the quadratic wall this operator
          // exists to avoid).
          val kk = topk.toInt
          val nQ = nq.toInt
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("knnprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = m.toInt, kc = kc.toInt,
                kCoarse = kCoarse.toInt, iters = 3, trainN = train.toInt),
              idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            val qside = v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm"))
            val t1 = System.nanoTime()
            val graph = graft.operators.Similarity.ivfPqSearch(
              idx, qside, kk, np.toInt, bulk = true)
            val outDir = java.nio.file.Files.createTempDirectory("knnout")
            graph.write.mode("overwrite").parquet(outDir.toString)
            val joinSecs = (System.nanoTime() - t1) / 1e9
            val written = spark.read.parquet(outDir.toString)
            val rows = written.count()
            val sample = written.filter(col("query_id") < 50)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val exact = exactTopK(v, 50, kk)
            val recall = sample.count(exact.contains).toDouble / exact.size
            deleteRecursively(outDir)
            println(f"[probe] knn nq=$nQ%d k=$kk%d nprobe=${np.toInt}%d " +
              f"graph=$rows%d rows in $joinSecs%.1f s " +
              f"(${rows / joinSecs}%.0f rows/s) sampled recall=$recall%.4f")
            (rows, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "join_secs" -> math.rint(joinSecs * 1000) / 1000,
              "graph_rows_per_s" -> math.rint(rows / joinSecs),
              "sampled_recall" -> math.rint(recall * 10000) / 10000,
              "m" -> m.toInt, "kc" -> kc.toInt, "k_coarse" -> kCoarse.toInt,
              "nprobe" -> np.toInt, "train_n" -> train.toInt,
              "topk" -> kk, "n_queries" -> nQ))
          } finally deleteRecursively(idxDir)
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
          val idx = graft.operators.Similarity.ivfPqFit(
            base, dim = 64, m = m.toInt, kc = kc.toInt,
            kCoarse = kCoarse.toInt, iters = 3, trainN = train.toInt)
          val fracs = Seq(0.1, 0.5, 1.0)
          val curve = fracs.map { frac =>
            val nAdd = (half * frac).toLong
            // drift ids live in [n + half, n + n): take the first nAdd
            val add = drift.filter(col("vec_id") < n + half + nAdd)
            val grown = CacheScope.persistTracked(base.unionByName(add))
            // drifted queries: the first nQ appended vectors
            val q = drift.filter(col("vec_id") < n + half + nQ)
            val exact = exactTopKFor(grown, q, kk)
            val qside = broadcast(q.select(col("vec_id").as("query_id"),
              col("e").as("qe"), col("norm").as("qnorm")))
            def recall(i: graft.operators.Similarity.IvfPqIndex): Double = {
              val got = graft.operators.Similarity
                .ivfPqSearch(i, qside, kk, np)
                .select("query_id", "neighbor_id")
                .collect().map(r => (r.getLong(0), r.getLong(1)))
              got.count(exact.contains).toDouble / exact.size
            }
            val app = graft.operators.Similarity.ivfPqAppend(idx, add)
            val rApp = recall(app)
            val stale = graft.operators.Similarity.needsRefit(app)
            val refit = graft.operators.Similarity.ivfPqFit(
              grown, dim = 64, m = m.toInt, kc = kc.toInt,
              kCoarse = kCoarse.toInt, iters = 3, trainN = train.toInt)
            val rRefit = recall(refit)
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
                s"${tag}_recall_appended" -> math.rint(rA * 10000) / 10000,
                s"${tag}_recall_refit" -> math.rint(rR * 10000) / 10000,
                s"${tag}_needs_refit" -> st)
            }.toMap)
        case Array("knndedup", m, kc, kCoarse, train, topk, np, nq, tau,
            tag @ _*) if tag.size <= 1 =>
          // r18: graph-based semantic dedup — the knn probe's bulk
          // graph composed into mutual edges at tau -> connected
          // components -> keep-smallest (operators/GraphDedup).
          // Reports the composition's own cost on top of the graph
          // build and the verdict shape (groups, drop fraction).
          val kk = topk.toInt
          val nQ = nq.toInt
          val tauD = tau.toDouble
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("knndprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = m.toInt, kc = kc.toInt,
                kCoarse = kCoarse.toInt, iters = 3, trainN = train.toInt),
              idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            val qside = v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm"))
            val t1 = System.nanoTime()
            val graph = graft.operators.Similarity.ivfPqSearch(
              idx, qside, kk, np.toInt, bulk = true)
            val gDir = java.nio.file.Files.createTempDirectory("knndgraph")
            graph.write.mode("overwrite").parquet(gDir.toString)
            val graphSecs = (System.nanoTime() - t1) / 1e9
            val written = spark.read.parquet(gDir.toString)
            val gRows = written.count()
            val nodes = v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("id"))
            val t2 = System.nanoTime()
            val verdict = graft.operators.GraphDedup
              .knnGraphDedup(written, nodes, tauD)
              .groupBy("keep").agg(count(lit(1)).as("n"),
                countDistinct(col("component")).as("n_comp"))
              .collect().map(r =>
                r.getBoolean(0) -> ((r.getLong(1), r.getLong(2)))).toMap
            val dedupSecs = (System.nanoTime() - t2) / 1e9
            deleteRecursively(gDir)
            val kept = verdict.get(true).map(_._1).getOrElse(0L)
            val dropped = verdict.get(false).map(_._1).getOrElse(0L)
            val groups = verdict.get(true).map(_._2).getOrElse(0L)
            println(f"[probe] knndedup nq=$nQ%d k=$kk%d tau=$tauD%.2f " +
              f"graph=$gRows%d rows ($graphSecs%.1f s) dedup " +
              f"$dedupSecs%.1f s: kept=$kept%d dropped=$dropped%d " +
              f"groups=$groups%d")
            (kept + dropped, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "graph_secs" -> math.rint(graphSecs * 1000) / 1000,
              "dedup_secs" -> math.rint(dedupSecs * 1000) / 1000,
              "graph_rows" -> gRows, "kept" -> kept, "dropped" -> dropped,
              "components" -> groups, "tau" -> tauD,
              "m" -> m.toInt, "kc" -> kc.toInt, "k_coarse" -> kCoarse.toInt,
              "nprobe" -> np.toInt, "train_n" -> train.toInt,
              "topk" -> kk, "n_queries" -> nQ))
          } finally deleteRecursively(idxDir)
        case Array("ivfpqr", m, kc, kCoarse, train, topk, kShort, tag @ _*)
            if tag.size <= 1 =>
          // r17: refine over IVFADC — the production two-knob config
          // (nprobe widens the scored fraction, kShort deepens the
          // exact pass). Fixed nprobe = 4; measures ADC vs refined
          // recall on the same probed cells.
          val kk = topk.toInt
          val ks = kShort.toInt
          val nQ = 50
          val np = 4
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("ivfpqrprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = m.toInt, kc = kc.toInt,
                kCoarse = kCoarse.toInt, iters = 3, trainN = train.toInt),
              idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            val exact = exactTopK(v, nQ, kk)
            val qside = broadcast(v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm")))
            val t1 = System.nanoTime()
            val adc = graft.operators.Similarity.ivfPqSearch(idx, qside, kk, np)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val adcSecs = (System.nanoTime() - t1) / 1e9
            val adcRecall = adc.count(exact.contains).toDouble / exact.size
            val t2 = System.nanoTime()
            val ref = graft.operators.Similarity.ivfPqSearchRefine(
                idx, qside, v.select(col("vec_id"), col("e")), kk, ks, np)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val refSecs = (System.nanoTime() - t2) / 1e9
            val refRecall = ref.count(exact.contains).toDouble / exact.size
            println(f"[probe] ivfpqr m=$m%s kc=$kc%s kCoarse=$kCoarse%s " +
              f"train=$train%s nprobe=$np kShort=$ks%d " +
              f"adc=$adcRecall%.4f ($adcSecs%.2f s) -> " +
              f"refined=$refRecall%.4f ($refSecs%.2f s)")
            (exact.size.toLong, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "adc_secs" -> math.rint(adcSecs * 1000) / 1000,
              "refine_secs" -> math.rint(refSecs * 1000) / 1000,
              "recall_adc" -> math.rint(adcRecall * 10000) / 10000,
              "recall_refined" -> math.rint(refRecall * 10000) / 10000,
              "m" -> m.toInt, "kc" -> kc.toInt, "k_coarse" -> kCoarse.toInt,
              "nprobe" -> np, "train_n" -> train.toInt,
              "topk" -> kk, "k_short" -> ks, "n_queries" -> nQ))
          } finally deleteRecursively(idxDir)
        case Array("ivfpqs", m, kc, kCoarse, train, topk, tag @ _*)
            if tag.size <= 1 =>
          // r17: sampled-training IVFADC — the ivfpq probe with
          // trainN; coarse cells AND residual codebooks train on the
          // sample, the corpus is assigned/encoded in single passes
          val kk = topk.toInt
          val nQ = 50
          val nC = kCoarse.toInt
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("ivfpqsprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(
              graft.operators.Similarity.ivfPqFit(
                v, dim = 64, m = m.toInt, kc = kc.toInt, kCoarse = nC,
                iters = 3, trainN = train.toInt), idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(
              spark, idxDir.toString)
            val exact = exactTopK(v, nQ, kk)
            val qside = broadcast(v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm")))
            val sweep = Seq(1, 2, 4, 8).filter(_ < nC) :+ nC
            val curve = sweep.map { np =>
              val t1 = System.nanoTime()
              val got = graft.operators.Similarity
                .ivfPqSearch(idx, qside, kk, np)
                .select("query_id", "neighbor_id")
                .collect().map(r => (r.getLong(0), r.getLong(1)))
              val s = (System.nanoTime() - t1) / 1e9
              val recall = got.count(exact.contains).toDouble / exact.size
              println(f"[probe] ivfpqs nprobe=$np%-3d recall=$recall%.4f  $s%6.2f s")
              Map[String, Any]("nprobe" -> np,
                "recall" -> math.rint(recall * 10000) / 10000,
                "secs" -> math.rint(s * 1000) / 1000)
            }
            (exact.size.toLong, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "m" -> m.toInt, "kc" -> kc.toInt, "k_coarse" -> nC,
              "train_n" -> train.toInt, "topk" -> kk, "n_queries" -> nQ,
              "curve" -> curve))
          } finally deleteRecursively(idxDir)
        case Array("pq", m, kc, topk, tag @ _*) if tag.size <= 1 =>
          // r15: the PQ compressed-index path at probe scale — fit the
          // per-subspace codebooks, persist/reload the stamped
          // artifact, ADC-search, recall vs the shared exact-top-k
          // baseline, and the code-bytes compression vs a float32 dump
          val kk = topk.toInt
          val nQ = 50
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("pqprobe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.saveIvfPqIndex(graft.operators.Similarity.pqFit(
              v, dim = 64, m = m.toInt, kc = kc.toInt, iters = 3), idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = graft.operators.Similarity.loadIvfPqIndex(spark, idxDir.toString)
            v.select(col("vec_id"), col("e").cast("array<float>").as("embedding"))
              .write.mode("overwrite").parquet(s"$idxDir/raw32")
            val exact = exactTopK(v, nQ, kk)
            val qside = broadcast(v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm")))
            val t1 = System.nanoTime()
            val got = graft.operators.Similarity.ivfPqSearch(idx, qside, kk)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val searchSecs = (System.nanoTime() - t1) / 1e9
            val recall = got.count(exact.contains).toDouble / exact.size
            val cb = dirBytes(s"$idxDir/codes")
            val rb = dirBytes(s"$idxDir/raw32")
            println(f"[probe] pq m=$m%s kc=$kc%s recall=$recall%.4f " +
              f"search=$searchSecs%.2f s codes=${cb / 1024}%d KiB raw32=${rb / 1024}%d KiB")
            (exact.size.toLong, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "search_secs" -> math.rint(searchSecs * 1000) / 1000,
              "recall" -> math.rint(recall * 10000) / 10000,
              "m" -> m.toInt, "kc" -> kc.toInt, "topk" -> kk, "n_queries" -> nQ,
              "codes_bytes" -> cb, "raw32_bytes" -> rb,
              "bytes_ratio" -> math.rint(rb.toDouble / cb * 100) / 100))
          } finally deleteRecursively(idxDir)
        case Array("sq8", k) =>
          // r15: the SQ8 compressed-index path at probe scale — build
          // the int8-code artifact, persist, reload, ADC-search with
          // raw queries, score recall against the shared exact-top-k
          // baseline, and account the on-disk compression vs a float32
          // dump of the same vectors (deleted afterward — it exists
          // only for the byte ratio).
          val kk = k.toInt
          val nQ = 50
          val v = CacheScope.persistTracked(vecs(spark, dir, withLabel = false))
          val idxDir = java.nio.file.Files.createTempDirectory("sq8probe")
          try {
            val tb = System.nanoTime()
            graft.operators.Similarity.sq8Index(v)
              .write.mode("overwrite").parquet(s"$idxDir/index")
            val buildSecs = (System.nanoTime() - tb) / 1e9
            val idx = spark.read.parquet(s"$idxDir/index")
            v.select(col("vec_id"), col("e").cast("array<float>").as("embedding"))
              .write.mode("overwrite").parquet(s"$idxDir/raw32")
            val exact = exactTopK(v, nQ, kk)
            val qside = broadcast(v.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("query_id"), col("e").as("qe"),
                col("norm").as("qnorm")))
            val t1 = System.nanoTime()
            val got = graft.operators.Similarity.sq8Search(idx, qside, kk)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val searchSecs = (System.nanoTime() - t1) / 1e9
            val recall = got.count(exact.contains).toDouble / exact.size
            val ib = dirBytes(s"$idxDir/index")
            val rb = dirBytes(s"$idxDir/raw32")
            println(f"[probe] sq8 k=$kk recall=$recall%.4f search=$searchSecs%.2f s " +
              f"index=${ib / 1024}%d KiB raw32=${rb / 1024}%d KiB")
            (exact.size.toLong, Map[String, Any](
              "build_secs" -> math.rint(buildSecs * 1000) / 1000,
              "search_secs" -> math.rint(searchSecs * 1000) / 1000,
              "recall" -> math.rint(recall * 10000) / 10000,
              "k" -> kk, "n_queries" -> nQ,
              "index_bytes" -> ib, "raw32_bytes" -> rb,
              "bytes_ratio" -> math.rint(rb.toDouble / ib * 100) / 100))
          } finally deleteRecursively(idxDir)
        case Array("bpestream", n) =>
          // r17: frozen-tokenizer streaming encode — train the merge
          // table on the dir's documents ONCE (the production
          // trainLocal path), persist/reload, then rate-source
          // synthetic docs through DocStream.bpeCountSink and measure
          // sustained docs/sec (stateless: the merge table folds into
          // one broadcast array row per batch; each batch encodes its
          // DISTINCT words once through the kernel, instances join
          // back — the qcstream shape with a learned tokenizer)
          val target = n.toLong
          val docs = Tables.documents(spark, dir)
          val idxDir = java.nio.file.Files.createTempDirectory("bpestream_idx")
          val outDir = java.nio.file.Files.createTempDirectory("bpestream_out")
          val ckDir = java.nio.file.Files.createTempDirectory("bpestream_ck")
          try {
            val tb = System.nanoTime()
            graft.operators.BpeTokenizer.save(
              graft.operators.BpeTokenizer.trainLocal(docs, 1000),
              idxDir.toString)
            val buildSecs = (System.nanoTime() - tb) / 1e9
            CacheScope.releaseAll()
            val model = graft.operators.BpeTokenizer.load(spark, idxDir.toString)
            val dstream = spark.readStream.format("rate-micro-batch")
              .option("rowsPerBatch", 20000L)
              .option("numPartitions", 32).load()
              .selectExpr(
                "value AS doc_id",
                """array_join(transform(sequence(1, 30),
                  |  i -> concat('w', pmod(value * 31 + i * 7, 5000))), ' ')
                  |AS text""".stripMargin.replaceAll("\n", ""))
            val listener = new RowsListener
            spark.streams.addListener(listener)
            var qq: org.apache.spark.sql.streaming.StreamingQuery = null
            try {
              qq = graft.streaming.DocStream.bpeCountSink(
                dstream, model, outDir.toString, ckDir.toString)
              val t1 = System.nanoTime()
              var done = 0L
              while (done < target) {
                Thread.sleep(100)
                if (!qq.isActive)
                  throw qq.exception.getOrElse(new IllegalStateException(
                    "bpestream probe query terminated before target"))
                done = listener.rows.get()
              }
              qq.stop()
              val secs = (System.nanoTime() - t1) / 1e9
              println(f"[probe] bpestream ${done / secs}%.0f docs/s " +
                f"($done docs in $secs%.1f s) ${listener.stats}")
              (done, Map[String, Any](
                "build_secs" -> math.rint(buildSecs * 1000) / 1000,
                "docs_per_s" -> math.rint(done / secs),
                "train_docs" -> docs.count(),
                "secs" -> math.rint(secs * 1000) / 1000) ++
                scala.collection.immutable.TreeMap(listener.stats.toSeq: _*))
            } finally {
              spark.streams.removeListener(listener)
              if (qq != null && qq.isActive) {
                try qq.stop() catch { case _: Throwable => () }
              }
            }
          } finally {
            deleteRecursively(idxDir)
            deleteRecursively(outDir)
            deleteRecursively(ckDir)
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
          val tv = System.nanoTime()
          val vocab = {
            import spark.implicits._
            val wc = graft.operators.BpeTokenizer.wordCounts(docs)
            val bounded =
              if (maxVocab == Int.MaxValue) wc
              else wc.orderBy(col("n").desc, col("word").asc).limit(maxVocab)
            bounded.select("word", "n").as[(String, Long)].collect()
          }
          val vocabN = vocab.length.toLong
          val vocabSecs = (System.nanoTime() - tv) / 1e9
          val tm = System.nanoTime()
          val learned = graft.operators.BpeTokenizer.BpeLocal
            .mergeLoop(vocab, mm).length.toLong
          val mergeSecs = (System.nanoTime() - tm) / 1e9
          println(f"[probe] bpe m=$mm vocab=$vocabN learned=$learned " +
            f"vocab_pass=$vocabSecs%.2f s merge_loop=$mergeSecs%.2f s")
          (learned, Map[String, Any](
            "num_merges" -> mm, "max_vocab" -> maxVocab,
            "vocab_words" -> vocabN, "learned_merges" -> learned,
            "vocab_secs" -> math.rint(vocabSecs * 1000) / 1000,
            "merge_secs" -> math.rint(mergeSecs * 1000) / 1000))
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
          val tmp = java.nio.file.Files.createTempDirectory("qc_probe").toString
          val tb = System.nanoTime()
          graft.queries.Scoring.saveQualityCounts(
            graft.queries.Scoring.qcCounts(aDocs), tmp)
          CacheScope.releaseAll()
          val buildSecs = (System.nanoTime() - tb) / 1e9
          val ta = System.nanoTime()
          val appended = graft.queries.Scoring.qualityFromCounts(
            graft.queries.Scoring.qcAppend(
              graft.queries.Scoring.loadQualityCounts(spark, tmp), bDocs))
          val bApp = java.lang.Double.doubleToRawLongBits(
            appended.bias.collect()(0).getDouble(0))
          val appendSecs = (System.nanoTime() - ta) / 1e9
          CacheScope.releaseAll()
          val tr = System.nanoTime()
          val bRe = java.lang.Double.doubleToRawLongBits(
            graft.queries.Scoring.trainQualityModel(docs)
              .bias.collect()(0).getDouble(0))
          val retrainSecs = (System.nanoTime() - tr) / 1e9
          require(bApp == bRe,
            s"qcappend probe: append/retrain bias bits diverged ($bApp vs $bRe)")
          println(f"[probe] qcappend frac=$frac batch=$nb " +
            f"build=$buildSecs%.2f s append=$appendSecs%.2f s " +
            f"retrain=$retrainSecs%.2f s")
          (nb, Map[String, Any](
            "append_frac" -> frac, "batch_docs" -> nb,
            "build_secs" -> math.rint(buildSecs * 1000) / 1000,
            "append_secs" -> math.rint(appendSecs * 1000) / 1000,
            "retrain_secs" -> math.rint(retrainSecs * 1000) / 1000,
            "bias_bits_equal" -> true))
        case _ => (SparkEntry.queries(q)(spark, dir).count(), Map.empty[String, Any])
      }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $q%-24s $secs%8.2f s  ($n rows)")
      Probes.record(q, Map("dir" -> dir,
        "wall_s" -> math.rint(secs * 1000) / 1000, "rows" -> n) ++ extra)
      CacheScope.releaseAll()
    }
    Probes.flush()
    spark.stop()
  }
}
