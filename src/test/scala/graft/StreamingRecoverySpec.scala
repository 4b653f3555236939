package graft

import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kill-and-restart checkpoint recovery for the r10 streaming twins
  * (queue-depth gauge, slow-consumer drops + cutoffs, merge-error flags,
  * first-events state, decontamination sink): each query is stopped,
  * new data arrives while it is DOWN, and the restart from the same
  * checkpoint must pick the new data up WITHOUT duplicating or losing
  * any previously-emitted row. The e2e ingest sink already had this
  * coverage (#19f); these pin it for every stateful twin added since. */
class StreamingRecoverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def addLines(dir: String, name: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name), lines.mkString("\n").getBytes)

  /** `event_type|2024-01-01 00:00:00` lines → (event_type, ts) rows. */
  private def gaugeSource(dir: String): DataFrame =
    spark.readStream.text(dir)
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p")(0).as("event_type"), to_timestamp(col("p")(1)).as("ts"))

  test("#24-streaming queue-depth gauge resumes from checkpoint exactly once") {
    val src = tmp("qd_src"); val out = tmp("qd_out"); val ckpt = tmp("qd_ckpt")
    def run(): Unit = {
      val q = EventStream.queueDepthGauge(gaugeSource(src))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // epoch 1: 7 arrivals in hour 08 + a flush row that closes it
    addLines(src, "b1.txt",
      (0 until 7).map(i => s"qa|2024-03-01 08:00:0$i") :+
        "zz1|2024-03-01 12:00:00")
    run()
    val afterFirst = spark.read.parquet(out)
      .filter(col("stream") === "qa").count()
    assert(afterFirst == 1L, s"hour-08 gauge row must be emitted once, got $afterFirst")

    // epoch 2 arrives while the query is DOWN: 3 arrivals in hour 13 +
    // a flush that closes it; restart must emit hour 13 and must NOT
    // re-emit hour 08
    addLines(src, "b2.txt",
      (0 until 3).map(i => s"qa|2024-03-01 13:00:0$i") :+
        "zz2|2024-03-01 20:00:00")
    run()
    val rows = spark.read.parquet(out).filter(col("stream") === "qa")
      .select("hour_epoch", "n_arrivals", "max_depth", "sum_depth")
      .as[(Long, Long, Long, Long)].collect().toSet
    val h8 = java.sql.Timestamp.valueOf("2024-03-01 08:00:00").getTime / 1000
    val h13 = java.sql.Timestamp.valueOf("2024-03-01 13:00:00").getTime / 1000
    assert(rows == Set((h8, 7L, 7L, 28L), (h13, 3L, 3L, 6L)),
      s"restart must add hour 13 without duplicating hour 8; got $rows")
  }

  test("#25-streaming drops + chained cutoffs resume from checkpoint exactly once") {
    val src = tmp("sc_src"); val out = tmp("sc_out"); val ckpt = tmp("sc_ckpt")
    def run(): Unit = {
      val drops = EventStream.slowConsumerDrops(gaugeSource(src), capacity = 1L)
      val q = EventStream.slowConsumerCutoffs(drops)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // epoch 1: hours 10 and 11 each drop (2 arrivals > capacity 1).
    // Deliberately NO flush row: the watermark must stay below hour 12
    // (anything later would make the downtime data late), so both
    // aggregations' state is open and lives ONLY in the checkpoint.
    addLines(src, "b1.txt",
      Seq("burst|2024-02-10 10:00:00", "burst|2024-02-10 10:01:00",
        "burst|2024-02-10 11:00:00", "burst|2024-02-10 11:01:00"))
    run()
    val afterFirst = spark.read.parquet(out)
      .filter(col("stream") === "burst").count()
    assert(afterFirst == 0L,
      s"nothing may finalize before the watermark moves, got $afterFirst rows")

    // epoch 2 while DOWN: hour 12 drops too -> hours 10,11,12 complete
    // the run; the flush then closes everything. The restart must
    // recover BOTH chained windowed aggregations' open state from the
    // checkpoint and emit exactly ONE cutoff at hour 12.
    addLines(src, "b2.txt",
      Seq("burst|2024-02-10 12:00:00", "burst|2024-02-10 12:01:00",
        "zz2|2024-02-11 06:00:00"))
    run()
    val cutoffs = spark.read.parquet(out).filter(col("stream") === "burst")
      .select("cutoff_hour_epoch").as[Long].collect().toSeq
    val h12 = java.sql.Timestamp.valueOf("2024-02-10 12:00:00").getTime / 1000
    assert(cutoffs == Seq(h12),
      s"expected exactly one cutoff at hour 12 epoch $h12; got $cutoffs")
  }

  test("#27b-streaming merge-error flag counters resume from checkpoint exactly once") {
    val src = tmp("me_src"); val out = tmp("me_out"); val ckpt = tmp("me_ckpt")
    // full event shape: the flags read props/dest columns via Synthetics
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
    def source(): DataFrame = spark.readStream.schema(schema).json(src)
      .withColumn("ts", to_timestamp(col("ts")))
    def evt(id: Long, tpe: String, ts: String): String =
      s"""{"event_id":$id,"ts":"$ts","user_id":$id,"event_type":"$tpe",""" +
        s""""value":1.0,"props":"{\\"k\\": ${id % 100}}"}"""
    def run(): Unit = {
      val q = EventStream.mergeErrorFlags(source())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    addLines(src, "b1.json",
      Seq(evt(1, "error", "2024-01-05 09:00:01"),
        evt(2, "error", "2024-01-05 09:00:02"),
        evt(3, "click", "2024-01-05 09:00:03"),
        evt(99, "zz", "2024-01-05 15:00:00")))
    run()
    val afterFirst = spark.read.parquet(out)
      .filter(col("event_type").isin("error", "click")).count()
    assert(afterFirst == 2L, s"expected the two hour-09 rows, got $afterFirst")

    addLines(src, "b2.json",
      Seq(evt(4, "error", "2024-01-05 16:00:01"),
        evt(98, "zz", "2024-01-05 23:00:00")))
    run()
    val rows = spark.read.parquet(out)
      .filter(col("event_type").isin("error", "click"))
      .groupBy("win_start", "event_type").count()
      .as[(java.sql.Timestamp, String, Long)].collect()
    assert(rows.length == 3 && rows.forall(_._3 == 1L),
      s"each (window, type) must appear exactly once after restart; got ${rows.toSeq}")
  }

  test("#27b-streaming' firstEvents state survives restart: no re-emission, no loss") {
    val src = tmp("fe_src"); val out = tmp("fe_out"); val ckpt = tmp("fe_ckpt")
    def source() = spark.readStream.text(src)
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p")(0).cast("long").as("user_id"),
        to_timestamp(col("p")(1)).as("ts"),
        col("p")(2).as("event_type"),
        col("p")(3).cast("long").as("event_id"),
        col("p")(4).cast("double").as("value"))
      .as[Evt]
    def run(): Unit = {
      val q = EventStream.firstEvents(source())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    addLines(src, "b1.txt",
      Seq("1|2024-01-01 00:00:01|click|10|1.0",
        "1|2024-01-01 00:00:05|view|11|1.0",
        "2|2024-01-01 00:00:02|click|20|1.0"))
    run()
    // while DOWN: user 1 reappears (already-seen state lives only in the
    // checkpoint) and user 3 is genuinely new
    addLines(src, "b2.txt",
      Seq("1|2024-01-01 01:00:00|error|12|1.0",
        "3|2024-01-01 01:00:01|click|30|1.0"))
    run()
    val firsts = spark.read.parquet(out)
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(firsts == Map(1L -> 10L, 2L -> 20L, 3L -> 30L),
      s"restart must keep user 1's first from epoch 1 and admit only user 3; got $firsts")
  }

  test("#27b-streaming'' firstEvents ttl re-admits a user after inactivity") {
    // ttl trades bounded state for occasional re-counts: after the
    // processing-time timeout fires, the SAME user counts as first
    // again. Tiny ttl + a sleep longer than it makes expiry
    // deterministic (timeouts fire at the next batch after deadline).
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[Evt]
    def evt(id: Long, ts: Long) =
      Evt(7L, new java.sql.Timestamp(ts), "click", id, 1.0)
    val q = EventStream.firstEvents(in.toDS(),
        ttl = Some(java.time.Duration.ofMillis(50)))
      .writeStream.format("memory").queryName("fe_ttl")
      .outputMode("append").start()
    // processAllAvailable() NEVER returns under ProcessingTimeTimeout
    // (the engine keeps running no-data micro-batches to fire future
    // timeouts — the r7 hang documented in StreamingDedupSpec).
    // Bounded-poll the sink instead.
    def waitRows(n: Long): Unit = {
      val deadline = System.nanoTime() + 120e9.toLong
      while (spark.table("fe_ttl").count() < n && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(spark.table("fe_ttl").count() >= n,
        s"timed out waiting for $n sink rows")
    }
    try {
      in.addData(evt(1, 1000), evt(2, 2000))
      waitRows(1)
      Thread.sleep(300) // let the 50ms timeout expire
      // two batches: one fires the timeout (state removed), the next
      // re-admits the user
      in.addData(evt(3, 3000))
      in.addData(evt(4, 4000))
      waitRows(2)
    } finally q.stop()
    val ids = spark.table("fe_ttl").select("event_id")
      .as[Long].collect().toSet
    assert(ids.contains(1L), "first event must be emitted")
    assert(ids.contains(3L) || ids.contains(4L),
      s"user must be re-admitted after ttl expiry; got $ids")
  }

  test("#56b-streaming decontaminate sink resumes from checkpoint without duplicate verdicts") {
    val src = tmp("dc_src"); val out = tmp("dc_out"); val ckpt = tmp("dc_ckpt")
    // 6 shared words -> 2 shared 5-grams >= minShared=2
    val benchText = "alpha beta gamma delta epsilon zeta"
    val bench = Seq((1000L, benchText)).toDF("doc_id", "text")
    def source() = spark.readStream.text(src)
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p")(0).cast("long").as("doc_id"), col("p")(1).as("text"))
    def run(): Unit = {
      val q = DocStream.decontaminateSink(source(), bench, out, ckpt,
        n = 5, minShared = 2L)
      try q.processAllAvailable() finally q.stop()
    }
    addLines(src, "b1.txt", Seq(
      s"1|$benchText leaked copy here",          // contaminated
      "2|totally clean words nothing shared at all"))
    run()
    // while DOWN: another contaminated doc arrives
    addLines(src, "b2.txt", Seq(s"3|prefix then $benchText again"))
    run()
    val verdicts = spark.read.parquet(out)
      .select("train_id", "bench_id").as[(Long, Long)].collect().toSeq
    assert(verdicts.sorted == Seq((1L, 1000L), (3L, 1000L)),
      s"restart must add doc 3 without re-judging doc 1; got $verdicts")
  }

  /** `id|2024-01-01 00:00:00` lines → one-stream events (event_id = id). */
  private def rkSource(dir: String): org.apache.spark.sql.Dataset[Evt] =
    spark.readStream.text(dir)
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p")(0).cast("long").as("user_id"),
        to_timestamp(col("p")(1)).as("ts"),
        lit("rk").as("event_type"),
        col("p")(0).cast("long").as("event_id"),
        lit(1.0).as("value"))
      .as[Evt]

  test("#9b-streaming batchFlush resumes its open batch from checkpoint exactly once") {
    val src = tmp("bf_src"); val out = tmp("bf_out"); val ckpt = tmp("bf_ckpt")
    def run(): Unit = {
      val q = EventStream.batchFlush(rkSource(src), batchSize = 5, GapClose(60))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // epoch 1: ids 1-12 one second apart — two size-flushed batches
    // emitted, ids 11-12 left OPEN in state
    addLines(src, "b1.txt",
      (1 to 12).map(i => f"$i|2024-01-01 00:00:$i%02d"))
    run()
    assert(spark.read.parquet(out).count() == 2L)

    // while DOWN: id 13 lands 10 min later (gap > 60 s ⇒ the restart
    // must first flush the CHECKPOINTED open batch {11,12} as 'time'),
    // then 14-17 fill a fresh size batch with 13
    addLines(src, "b2.txt",
      (13 to 17).map(i => s"$i|2024-01-01 00:10:${i - 13}"))
    run()
    val got = spark.read.parquet(out)
      .select("batch_id", "n_events", "first_event", "last_event", "closed_by")
      .as[(Long, Int, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 5, 1L, 5L, "size"), (2L, 5, 6L, 10L, "size"),
      (3L, 2, 11L, 12L, "time"), (4L, 5, 13L, 17L, "size")),
      s"restart must flush the open tail once and continue numbering; got $got")
  }

  test("#9b-streaming batchFlush fails fast on a checkpoint holding the " +
    "pre-replay BatchState") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode, StreamingQueryException}
    val src = tmp("bs_src"); val ckpt = tmp("bs_ckpt")
    // a stand-in for the time-OR-size op before the one queue replay:
    // the same groupByKey(_.event_type) query, its state in the old
    // BatchState shape
    val q1 = rkSource(src).groupByKey(_.event_type)
      .flatMapGroupsWithState[BatchStateV1, BatchStateV1](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[Evt], state: GroupState[BatchStateV1]) =>
          batch.foreach { e =>
            val sec = e.ts.getTime / 1000
            val s = state.getOption.getOrElse(
              BatchStateV1(0, e.event_id, e.event_id, sec, sec, 0L))
            state.update(s.copy(n = s.n + 1, last_id = e.event_id, last_s = sec))
          }
          Iterator.empty
      }
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("append").start()
    addLines(src, "b1.txt", (1 to 3).map(i => f"$i|2024-01-01 00:00:$i%02d"))
    try q1.processAllAvailable() finally q1.stop()

    addLines(src, "b2.txt", Seq("4|2024-01-01 00:00:04"))
    val q2 = EventStream.batchFlush(rkSource(src), batchSize = 5, GapClose(60))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val err = try intercept[StreamingQueryException](q2.processAllAvailable())
      finally q2.stop()
    assert(err.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"),
      s"expected the state-schema check to refuse the old state, got: ${err.getMessage}")
  }
}

/** BatchFlush's state shape before the one queue replay. */
case class BatchStateV1(n: Int, first_id: Long, last_id: Long,
    first_s: Long, last_s: Long, batches_closed: Long)
