package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a root); times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** Spans kept in memory and written out once, when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = spans.size
    spans += Span(id, parent, name, startMs, endMs, attrs)
    id
  }

  def result: Seq[Span] = synchronized(spans.toList)
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as streaming progress timestamps. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spark's own counters from the listener bus: totals for the run plus
  * per-job-group totals and job intervals (a catalog query runs under
  * its name as job group). */
final class Counters extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
    val shuffleRead, shuffleWrite, spill = new AtomicLong
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "cpu_ms" -> cpuNs.get / 1e6, "run_ms" -> runMs.get, "gc_ms" -> gcMs.get,
      "shuffle_read_bytes" -> shuffleRead.get,
      "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get)
  }
  val total = new Acc
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  // (group, job id, start ms, end ms)
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()

  private val created = System.nanoTime()
  private val busyNs = new AtomicLong
  private def busy(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t0)
  }
  /** Share of wall time since creation spent in these callbacks: the
    * tracing overhead, paid on the listener bus thread. */
  def busyShare: Double = busyNs.get.toDouble / (System.nanoTime() - created)

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)
  private def both(stage: Int)(f: Acc => Unit): Unit = {
    f(total)
    val g = stageGroup.get(stage)
    if (g != null) f(acc(g))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    total.jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      acc(name).jobs.incrementAndGet()
      jobGroup.put(e.jobId, name)
      e.stageIds.foreach(s => stageGroup.put(s, name))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = busy {
    val g = jobGroup.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (g != null) jobs.add((g, e.jobId, t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = busy {
    both(e.stageInfo.stageId)(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    val m = e.taskMetrics
    both(e.stageId) { a =>
      a.tasks.incrementAndGet()
      if (m != null) {
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.runMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def group(name: String): Map[String, Any] =
    Option(groups.get(name)).map(_.toMap).getOrElse((new Acc).toMap)

  def jobsOf(name: String): Seq[(Int, Long, Long)] =
    jobs.asScala.toSeq.filter(_._1 == name).map(j => (j._2, j._3, j._4)).sortBy(_._1)
}

/** Peak live heap: heap in use right after a full collection, sampled
  * at fixed points of a run (end of set-up, end of each measured phase
  * while its query still holds its state). */
object LiveHeap {
  private val peak = new AtomicLong

  def sample(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, math.max(_, _))
  }

  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}
