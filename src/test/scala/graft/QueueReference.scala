package graft

/** Sequential references of the reference queue (queue.go:135-216),
  * shared by the batch-operator property spec and the streaming replay
  * property spec so both check against one copy. */
object QueueReference {

  /** queue.go's semantics as a sequential fold: returns batch ids
    * (1-based, per stream) aligned with the input order. */
  def referenceAssign(secs: Seq[Long], batchSize: Int,
      limit: Long): Seq[Long] = {
    val out = Array.fill(secs.length)(0L)
    var batch = 1L; var n = 0; var last = Long.MinValue
    secs.zipWithIndex.foreach { case (sec, i) =>
      if (n > 0 && sec - last > limit) { batch += 1; n = 0 }
      out(i) = batch; n += 1; last = sec
      if (n == batchSize) { batch += 1; n = 0 }
    }
    out.toSeq
  }

  /** The reference queue's select loop as a direct simulation
    * (queue.go:135-216): a free-running periodic ticker created once at
    * queue start and re-created only after it fires; arrivals append to
    * the pending batch; reaching BatchSize flushes immediately; a tick
    * flushes whatever accumulated (an empty flush is a no-op). Batch
    * ids are 1-based in flush order. Deterministic anchors mirror the
    * operator's: t0 = first arrival second, and an arrival landing
    * exactly ON a tick second is processed AFTER the tick (the Go
    * select race must be replayed on one side; tick-first is the
    * documented choice — the event joins the new window). */
  def simulateTicker(secs: Seq[Long], batchSize: Int,
      tickSec: Long): Seq[Long] = {
    if (secs.isEmpty) return Nil
    val out = Array.fill(secs.length)(0L)
    var nextTick = secs.head + tickSec
    var batch = 1L
    val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flush(): Unit = if (pending.nonEmpty) {
      pending.foreach(out(_) = batch); batch += 1; pending.clear()
    }
    secs.zipWithIndex.foreach { case (s, i) =>
      while (nextTick <= s) { flush(); nextTick += tickSec }
      pending += i
      if (pending.size == batchSize) flush()
    }
    flush()
    out.toSeq
  }
}
