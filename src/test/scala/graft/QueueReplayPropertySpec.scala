package graft

import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The one queue replay (EventStream.batchFlush) carries its open batch
  * across trigger boundaries: seeded random arrivals (ties, sub-limit
  * gaps, exact tick multiples, long idles), fed through a MemoryStream
  * split at random micro-batch boundaries, must close exactly the
  * batches the sequential references in [[QueueReference]] close,
  * minus each stream's open tail, under both close models. The
  * latency map over those batches must observe close_s − arrival per
  * member. The corpus parity specs feed one micro-batch; this one
  * crosses triggers. */
class QueueReplayPropertySpec extends AnyFunSuite {
  import QueueReference._

  lazy val spark: SparkSession = SparkTest.spark

  private val batchSize = 7
  private val periodSec = 60L // the gap limit and the tick period

  /** Three streams interleaved in one global event_id order. */
  private def arrivals(rng: scala.util.Random): Seq[Evt] = {
    val secs = Array(1000L, 2000L, 3000L)
    (0 until 600).map { i =>
      val s = rng.nextInt(3)
      secs(s) += (rng.nextInt(10) match {
        case 0 | 1 => 0L
        case 2 | 3 | 4 | 5 => 1L + rng.nextInt(45)
        case 6 | 7 => periodSec * (1 + rng.nextInt(3))
        case _ => periodSec + 1 + rng.nextInt(400)
      })
      Evt(i.toLong, new java.sql.Timestamp(secs(s) * 1000), s"st$s", i.toLong, 1.0)
    }
  }

  /** The batches the sequential references close, per stream, without
    * the open tail (the last batch when it is not full). */
  private def expected(evts: Seq[Evt], close: QueueClose): Set[ClosedBatch] =
    evts.groupBy(_.event_type).toSeq.flatMap { case (stream, es) =>
      val secs = es.map(_.ts.getTime / 1000)
      val ids = close match {
        case GapClose(limitSec) => referenceAssign(secs, batchSize, limitSec)
        case TickClose(tickSec) => simulateTicker(secs, batchSize, tickSec)
      }
      val batches = es.zip(secs).zip(ids).groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (id, m) => id -> m.map(_._1) }
      val closed =
        if (batches.last._2.size < batchSize) batches.init else batches
      closed.map { case (id, m) =>
        val mSecs = m.map(_._2)
        val (reason, closeS) =
          if (m.size == batchSize) ("size", mSecs.last)
          else close match {
            case GapClose(_) => ("time", mSecs.last)
            case TickClose(tickSec) => ("tick",
              secs.head + ((mSecs.head - secs.head) / tickSec + 1) * tickSec)
          }
        ClosedBatch(stream, id, m.size, m.head._1.event_id,
          m.last._1.event_id, mSecs.last - mSecs.head, reason, closeS, mSecs)
      }
    }.toSet

  private def check(close: QueueClose, reason: String, seed: Int): Unit = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rng = new scala.util.Random(seed)
    val evts = arrivals(rng)
    val cuts = (0 +: Seq.fill(6)(1 + rng.nextInt(evts.size - 1)) :+ evts.size)
      .distinct.sorted
    val name = s"queue_replay_$reason"
    val in = MemoryStream[Evt]
    val q = EventStream.batchFlush(in.toDS(), batchSize, close)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try cuts.sliding(2).foreach { case Seq(a, b) =>
      in.addData(evts.slice(a, b)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).as[ClosedBatch].collect().toSeq
    val exp = expected(evts, close)

    assert(got.size == exp.size, s"stream ${got.size} batches vs reference ${exp.size}")
    assert(got.toSet == exp,
      s"only-stream: ${(got.toSet -- exp).take(3)}; only-reference: ${(exp -- got.toSet).take(3)}")
    // meaningful only if both close paths fired and some batch was
    // still open when its trigger ended
    assert(got.exists(_.closed_by == "size") && got.exists(_.closed_by == reason))
    def trigger(eventId: Long): Int = cuts.lastIndexWhere(_ <= eventId)
    assert(got.exists(b => trigger(b.first_event) != trigger(b.last_event)),
      "no batch spans a trigger boundary")

    val lat = EventStream.queueLatency(got.toDS()).collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val expLat = exp.toSeq.flatMap(b =>
        b.arrival_s.map(a => LatencyObs(b.stream, b.batch_id, b.close_s - a)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(lat == expLat)
  }

  test("gap model across random trigger boundaries == sequential fold minus open tails") {
    check(GapClose(periodSec), "time", seed = 7)
  }

  test("tick model across random trigger boundaries == ticker simulator minus open tails") {
    check(TickClose(periodSec), "tick", seed = 11)
  }
}
