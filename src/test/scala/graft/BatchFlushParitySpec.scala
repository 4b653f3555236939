package graft

import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2a #9b/#9d: the streaming queue replay (EventStream.batchFlush)
  * under GapClose must agree with the batch operator
  * (Batching.assignTimeOrSize) batch for batch — stream output ==
  * batch rollup minus each stream's open (not-yet-flushed) tail. Run
  * at sf0.01: the corpus density there produces BOTH close reasons
  * (205 size / 2442 time flushes), so the parity covers the size
  * path, the gap path, and the reset-after-flush interaction. Under
  * TickClose it must agree with Batching.assignPeriodic the same way. */
class BatchFlushParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark

  private val gapCols = Seq("stream", "batch_id", "n_events", "first_event",
    "last_event", "span_sec", "closed_by")
  private val tickCols = Seq("stream", "batch_id", "n_events", "first_event",
    "last_event", "closed_by", "close_s")

  test("streaming batchFlush == batch assignTimeOrSize minus open tails") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.01"
    val batchSize = 10
    val limitSec = 1800L

    // batch side: one global bucket (the stream twin has no day split —
    // its state lives across days, like the reference's queue)
    val batchSide = graft.operators.Batching.assignTimeOrSize(
        Tables.events(spark, d), col("event_type"), lit(1), col("ts"),
        col("event_id"), batchSize, limitSec)
      .groupBy(col("event_type").as("stream"), col("batch_id"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        min("event_id").as("first_event"), max("event_id").as("last_event"),
        (max("sec") - min("sec")).as("span_sec"))
      .withColumn("closed_by",
        when(col("n_events") === batchSize, "size").otherwise("time"))
    val tails = batchSide.groupBy("stream").agg(max("batch_id").as("tail_id"))
    val expected = batchSide.join(tails, "stream")
      .filter(!(col("batch_id") === col("tail_id") &&
        col("n_events") < batchSize))
      .select(gapCols.map(col): _*)
      .as[(String, Long, Int, Long, Long, Long, String)].collect().toSet

    val evts = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"),
        col("value"))
      .as[Evt].collect().sortBy(_.event_id).toSeq

    val in = MemoryStream[Evt]
    val q = EventStream.batchFlush(in.toDS(), batchSize, GapClose(limitSec))
      .writeStream.format("memory").queryName("batch_flush_parity")
      .outputMode("append").start()
    try { in.addData(evts); q.processAllAvailable() } finally q.stop()

    val got = spark.table("batch_flush_parity").select(gapCols.map(col): _*)
      .as[(String, Long, Int, Long, Long, Long, String)].collect().toSet
    assert(got.size == expected.size,
      s"stream ${got.size} batches vs batch ${expected.size}")
    assert(got == expected,
      s"only-stream: ${(got -- expected).take(3)}; " +
        s"only-batch: ${(expected -- got).take(3)}")
    // the parity is only meaningful if both flush paths fired
    assert(got.exists(_._7 == "size") && got.exists(_._7 == "time"))
  }

  test("streaming batchFlushPeriodic == batch assignPeriodic minus open tails") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.01"
    // 5-per-7200s: the sf0.01 density where BOTH close paths fire
    // (1266 size / 1441 tick flushes) — 10-per-1800s never fills a
    // window there (the gap model's sessions span windows; a ticker
    // window is a hard cap)
    val batchSize = 5
    val tickSec = 7200L

    val batchSide = graft.operators.Batching.assignPeriodic(
        Tables.events(spark, d), col("event_type"), lit(1), col("ts"),
        col("event_id"), batchSize, tickSec)
      .groupBy(col("event_type").as("stream"), col("batch_id"))
      .agg(count(lit(1)).cast("int").as("n_events"),
        min("event_id").as("first_event"), max("event_id").as("last_event"),
        max("sec").as("last_s"), max("tick_close_s").as("tick_s"))
      .withColumn("closed_by",
        when(col("n_events") === batchSize, "size").otherwise("tick"))
      .withColumn("close_s",
        when(col("closed_by") === "size", col("last_s"))
          .otherwise(col("tick_s")))
    // open tail = the last batch UNLESS it closed by size; under the
    // periodic model every earlier partial batch was tick-flushed by a
    // later window's arrival, but the final one's flushing tick is in
    // the replay's future — the stream can't see it yet.
    val tails = batchSide.groupBy("stream").agg(max("batch_id").as("tail_id"))
    val expected = batchSide.join(tails, "stream")
      .filter(!(col("batch_id") === col("tail_id") &&
        col("n_events") < batchSize))
      .select(tickCols.map(col): _*)
      .as[(String, Long, Int, Long, Long, String, Long)].collect().toSet

    val evts = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"),
        col("value"))
      .as[Evt].collect().sortBy(_.event_id).toSeq

    val in = MemoryStream[Evt]
    val q = EventStream.batchFlush(in.toDS(), batchSize, TickClose(tickSec))
      .writeStream.format("memory").queryName("batch_flush_periodic_parity")
      .outputMode("append").start()
    try { in.addData(evts); q.processAllAvailable() } finally q.stop()

    val got = spark.table("batch_flush_periodic_parity")
      .select(tickCols.map(col): _*)
      .as[(String, Long, Int, Long, Long, String, Long)].collect().toSet
    assert(got.size == expected.size,
      s"stream ${got.size} batches vs batch ${expected.size}")
    assert(got == expected,
      s"only-stream: ${(got -- expected).take(3)}; " +
        s"only-batch: ${(expected -- got).take(3)}")
    assert(got.exists(_._6 == "size") && got.exists(_._6 == "tick"))
  }
}
