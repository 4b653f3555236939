package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized invariants for Batching.assignTimeOrSize: on seeded
  * random arrival sequences (gap mix of ties, small gaps, and
  * over-limit idles), the window-cascade formulation must agree with
  * the obvious SEQUENTIAL reference fold of queue.go's semantics —
  * batch closes at batchSize or when the next gap exceeds the limit —
  * for every (stream, bucket) independently. This is the same oracle
  * relationship the streaming twin has (BatchFlushParitySpec), but
  * over adversarial random inputs instead of the corpus. */
class BatchAssignPropertySpec extends AnyFunSuite {
  import QueueReference._

  lazy val spark: SparkSession = SparkTest.spark

  test("an unreachable gap limit degenerates to pure size batching (assign)") {
    import spark.implicits._
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    def ids(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.select($"event_id", $"batch_id").as[(Long, Long)].collect().toMap
    val sized = ids(graft.operators.Batching.assign(df,
      col("event_type"), lit(1), col("event_id"), 25))
    val timed = ids(graft.operators.Batching.assignTimeOrSize(df,
      col("event_type"), lit(1), col("ts"), col("event_id"), 25,
      Long.MaxValue))
    // assign is 0-based, assignTimeOrSize 1-based dense — same partition
    assert(sized.map { case (k, v) => k -> (v + 1) } == timed)
  }

  test("on-tick tie rule: an arrival at the tick second joins the NEW window") {
    import spark.implicits._
    // t0=100, tick=60: the second event lands exactly on the 160 tick.
    // Simulator: tick fires first (flushes e0), e1 starts the new batch.
    assert(simulateTicker(Seq(100L, 160L), batchSize = 10, tickSec = 60)
      == Seq(1L, 2L))
    val df = Seq(("s", 1L, 100L), ("s", 2L, 160L)).toDF("stream", "event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = graft.operators.Batching.assignPeriodic(df, col("stream"),
        lit(1), col("ts"), col("event_id"), batchSize = 10, tickSec = 60)
      .select($"event_id", $"batch_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }

  test("exact ticker operator equals the queue-simulator on random arrivals") {
    import spark.implicits._
    val rng = new scala.util.Random(1234)
    (1 to 5).foreach { trial =>
      val rows = (0 until 3).flatMap { s =>
        var sec = 1000L * (trial + s)
        (0 until 200).map { i =>
          // gap mix engineered to hit every select-loop branch: ties,
          // sub-tick gaps, EXACT tick-multiple landings (the on-tick
          // race), multi-tick idles
          sec += (rng.nextInt(10) match {
            case 0 | 1 => 0L
            case 2 | 3 | 4 | 5 => 1L + rng.nextInt(45)
            case 6 | 7 => 60L * (1 + rng.nextInt(3)) // exact tick multiples
            case _ => 61L + rng.nextInt(400)
          })
          (s"st$s", (s * 1000 + i).toLong, sec)
        }
      }
      val df = rows.toDF("stream", "event_id", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
      val got = graft.operators.Batching.assignPeriodic(df,
          col("stream"), lit(1), col("ts"), col("event_id"),
          batchSize = 7, tickSec = 60)
        .select($"stream", $"event_id", $"batch_id")
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      rows.groupBy(_._1).foreach { case (stream, evs) =>
        val expect = simulateTicker(evs.sortBy(_._2).map(_._3), 7, 60L)
        assert(got(stream) == expect,
          s"trial $trial stream $stream:\n got ${got(stream)}\n exp $expect")
      }
    }
  }

  test("gap model meets the ticker simulator in its exact regime (dense bursts / full idles)") {
    import spark.implicits._
    // The documented regime where the gap APPROXIMATION is exact
    // (Pipeline.scala assignTimeOrSize fidelity note): arrival bursts
    // dense enough that size flushes dominate, each burst contained in
    // one tick window, and inter-burst idles beyond both the gap limit
    // and the tick period. Here gap model == exact ticker == simulator,
    // making the in-code fidelity boundary executable.
    val rng = new scala.util.Random(99)
    (1 to 5).foreach { trial =>
      val rows = (0 until 2).flatMap { s =>
        val t0 = 10000L * (trial + s + 1)
        (0 until 6).flatMap { burst =>
          val start = t0 + burst * 600L // tick-aligned: 600 = 10 ticks
          var sec = start // first event exactly ON the aligned second,
          // so t0 (= the stream's first arrival) keeps every burst
          // start on a tick boundary — the regime's containment
          // precondition
          (0 until (5 + rng.nextInt(25))).map { i =>
            if (i > 0) sec += (if (rng.nextInt(3) == 0) 0L else 1L)
            (s"st$s", (s * 10000 + burst * 100 + i).toLong, sec)
          } // burst duration ≤ 29s < 60s tick window
        }
      }
      val df = rows.toDF("stream", "event_id", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
      def ids(d: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
        d.select($"stream", $"event_id", $"batch_id")
          .as[(String, Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      val viaGap = ids(graft.operators.Batching.assignTimeOrSize(df,
        col("stream"), lit(1), col("ts"), col("event_id"),
        batchSize = 7, timeLimitSec = 60))
      val viaTicker = ids(graft.operators.Batching.assignPeriodic(df,
        col("stream"), lit(1), col("ts"), col("event_id"),
        batchSize = 7, tickSec = 60))
      rows.groupBy(_._1).foreach { case (stream, evs) =>
        val expect = simulateTicker(evs.sortBy(_._2).map(_._3), 7, 60L)
        assert(viaTicker(stream) == expect,
          s"ticker vs sim, trial $trial $stream")
        assert(viaGap(stream) == expect,
          s"gap model diverges from the simulator INSIDE its exact " +
            s"regime, trial $trial $stream:\n got ${viaGap(stream)}\n exp $expect")
      }
    }
  }

  test("window cascade equals the sequential reference on random arrivals") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val rows = (0 until 3).flatMap { s =>
        var sec = 1000L * (trial + s)
        (0 until 150).map { i =>
          // gap mix: 30% tie (0), 50% small, 20% over-limit idle
          sec += (rng.nextInt(10) match {
            case 0 | 1 | 2 => 0L
            case 3 | 4 | 5 | 6 | 7 => 1L + rng.nextInt(50)
            case _ => 61L + rng.nextInt(200)
          })
          (s"st$s", (s * 1000 + i).toLong, sec)
        }
      }
      val df = rows.toDF("stream", "event_id", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
      val got = graft.operators.Batching.assignTimeOrSize(df,
          col("stream"), lit(1), col("ts"), col("event_id"),
          batchSize = 7, timeLimitSec = 60)
        .select($"stream", $"event_id", $"batch_id")
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      rows.groupBy(_._1).foreach { case (stream, evs) =>
        val expect = referenceAssign(evs.sortBy(_._2).map(_._3), 7, 60L)
        assert(got(stream) == expect,
          s"trial $trial stream $stream:\n got ${got(stream)}\n exp $expect")
      }
    }
  }
}
