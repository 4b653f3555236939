package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one queue replay: EventStream.batchFlush under a QueueClose model
  * is the only queue state machine, and the latency histogram is a
  * stateless map over its closed batches, so the per-model and
  * per-metric twins and their state classes must not come back under
  * src/main. */
class QueueGuardSpec extends AnyFunSuite {

  import SourceScan.mainSources

  test("no second queue state machine or state class under src/main") {
    val gone = Seq("batchFlushPeriodic", "queueLatencyPeriodic", "BatchState",
      "PeriodicState", "LatencyState", "PeriodicLatencyState",
      "ClosedPeriodicBatch")
    val hits = for {
      (p, src) <- mainSources()
      name <- gone if s"\\b$name\\b".r.findFirstIn(src).isDefined
    } yield s"$p uses $name"
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("EventStream has three flatMapGroupsWithState ops: the queue " +
    "replay, firstEvents and sessionize") {
    val (_, src) = mainSources()
      .find(_._1.endsWith("graft/streaming/EventStream.scala")).get
    assert("\\.flatMapGroupsWithState\\b".r.findAllIn(src).size == 3)
  }
}
