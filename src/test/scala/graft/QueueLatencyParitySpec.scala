package graft

import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2a #27c/#27c': the streaming queue-latency twin
  * (EventStream.queueLatency over EventStream.batchFlush's closed
  * batches) must emit, batch for batch, the same
  * per-event latency observations the batch operator derives
  * (Batching.assignTimeOrSize + close-time window), minus each
  * stream's open (never-closed) tail. Run at sf0.01 so both close
  * reasons fire, covering the size path, the gap path, and the
  * multi-event-batch latency spread. */
class QueueLatencyParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark

  test("streaming queueLatency == batch latencies minus open tails") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.01"
    val batchSize = 10
    val limitSec = 1800L

    // batch side: one global bucket (the stream twin has no day split)
    val assigned = graft.operators.Batching.assignTimeOrSize(
      Tables.events(spark, d), col("event_type"), lit(1), col("ts"),
      col("event_id"), batchSize, limitSec)
    val wb = Window.partitionBy(col("event_type"), col("batch_id"))
    val lats = assigned
      .withColumn("latency_s", max("sec").over(wb) - col("sec"))
      .withColumn("n_events", count(lit(1)).over(wb))
      .select(col("event_type").as("stream"), col("batch_id"),
        col("latency_s"), col("n_events"))
    val tails = lats.groupBy("stream").agg(max("batch_id").as("tail_id"))
    val expected = lats.join(tails, "stream")
      .filter(!(col("batch_id") === col("tail_id") &&
        col("n_events") < batchSize))
      .select(col("stream"), col("batch_id"), col("latency_s"))
      .as[LatencyObs].collect()
      .groupBy(identity).view.mapValues(_.length).toMap

    val evts = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"),
        col("value"))
      .as[Evt].collect().sortBy(_.event_id).toSeq

    val in = MemoryStream[Evt]
    val q = EventStream.queueLatency(
        EventStream.batchFlush(in.toDS(), batchSize, GapClose(limitSec)))
      .writeStream.format("memory").queryName("queue_latency_parity")
      .outputMode("append").start()
    try { in.addData(evts); q.processAllAvailable() } finally q.stop()

    val got = spark.table("queue_latency_parity").as[LatencyObs]
      .collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got.values.sum == expected.values.sum,
      s"stream ${got.values.sum} observations vs batch ${expected.values.sum}")
    assert(got == expected,
      s"only-stream: ${(got.toSet -- expected.toSet).take(3)}; " +
        s"only-batch: ${(expected.toSet -- got.toSet).take(3)}")
    // meaningful only if multi-event batches produced a latency spread
    assert(got.keys.exists(_.latency_s > 0))
  }

  test("streaming queueLatencyPeriodic == batch periodic latencies minus open tails") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val d = "/root/testdata/sf0.01"
    // 5-per-7200s: both close paths fire at sf0.01 density (see
    // BatchFlushParitySpec)
    val batchSize = 5
    val tickSec = 7200L

    val assigned = graft.operators.Batching.assignPeriodic(
      Tables.events(spark, d), col("event_type"), lit(1), col("ts"),
      col("event_id"), batchSize, tickSec)
    val wb = Window.partitionBy(col("event_type"), col("batch_id"))
    val lats = assigned
      .withColumn("n_events", count(lit(1)).over(wb))
      .withColumn("close_s",
        when(col("n_events") === batchSize, max("sec").over(wb))
          .otherwise(col("tick_close_s")))
      .withColumn("latency_s", col("close_s") - col("sec"))
      .select(col("event_type").as("stream"), col("batch_id"),
        col("latency_s"), col("n_events"))
    val tails = lats.groupBy("stream").agg(max("batch_id").as("tail_id"))
    val expected = lats.join(tails, "stream")
      .filter(!(col("batch_id") === col("tail_id") &&
        col("n_events") < batchSize))
      .select(col("stream"), col("batch_id"), col("latency_s"))
      .as[LatencyObs].collect()
      .groupBy(identity).view.mapValues(_.length).toMap

    val evts = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"),
        col("value"))
      .as[Evt].collect().sortBy(_.event_id).toSeq

    val in = MemoryStream[Evt]
    val q = EventStream.queueLatency(
        EventStream.batchFlush(in.toDS(), batchSize, TickClose(tickSec)))
      .writeStream.format("memory").queryName("queue_latency_periodic_parity")
      .outputMode("append").start()
    try { in.addData(evts); q.processAllAvailable() } finally q.stop()

    val got = spark.table("queue_latency_periodic_parity").as[LatencyObs]
      .collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got.values.sum == expected.values.sum,
      s"stream ${got.values.sum} observations vs batch ${expected.values.sum}")
    assert(got == expected,
      s"only-stream: ${(got.toSet -- expected.toSet).take(3)}; " +
        s"only-batch: ${(expected.toSet -- got.toSet).take(3)}")
    // tick closes extend latencies past the last arrival — the exact
    // model's distinguishing feature must actually appear
    assert(got.keys.exists(_.latency_s > 0))
  }
}
