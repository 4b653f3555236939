package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener}
import org.apache.spark.storage.StorageLevel

/** The one delivery path every streaming sink runs on — the
  * re-expression of the reference's single dispatcher → sender chain
  * (filter/stream_dispatcher.go:60-84 → kinesis_sender.go:92). It owns
  * the three decisions no sink repeats:
  *
  *  - The batch-dir layout. A sink is a checkpointed Append-mode
  *    `foreachBatch` query whose micro-batch N overwrites its own
  *    `root/batch_id=N` subtree ([[foreachBatch]], [[write]]): a batch
  *    re-delivered after a crash replaces its previous (possibly
  *    partial) output instead of appending duplicates — exactly-once
  *    output where the reference settles for at-least-once with
  *    retries. Readers see batch_id as a partition column.
  *  - Query-scoped pins ([[pinnedFor]]): frames frozen for a query's
  *    lifetime (bench indexes, ANN artifacts) are persisted and
  *    counted per canonical plan, so every query sharing one cache
  *    entry keeps it until the last of them terminates.
  *  - The delta reader ([[readDeltas]]): the readable `batch_id=N`
  *    subtrees a delta sink left under a root. */
object Delivery {

  private val level = StorageLevel.MEMORY_AND_DISK

  /** Start the checkpointed Append-mode query that hands every
    * micro-batch and its id to `deliver`. `pinBatch` persists the
    * micro-batch for the duration of `deliver` — for deliveries whose
    * plan scans the batch more than once, so a real source is read
    * once per trigger. */
  def foreachBatch(input: DataFrame, checkpointDir: String,
      pinBatch: Boolean = false)(
      deliver: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!pinBatch) deliver(batch, batchId)
        else {
          val b = batch.persist(level)
          try deliver(b, batchId) finally b.unpersist(blocking = false)
        }
        ()
      }
      .start()

  /** Micro-batch `batchId`'s subtree under `root`. */
  def dir(root: String, batchId: Long): String = s"$root/batch_id=$batchId"

  /** Overwrite micro-batch `batchId`'s subtree under `root` with `df`;
    * `shape` adds writer settings (partitioning, per-file caps). */
  def write(df: DataFrame, root: String, batchId: Long,
      shape: DataFrameWriter[Row] => DataFrameWriter[Row] = identity): Unit =
    shape(df.write).mode("overwrite").parquet(dir(root, batchId))

  /** The common sink: each micro-batch's `result` lands in its own
    * subtree under `outDir`. */
  def sink(input: DataFrame, outDir: String, checkpointDir: String,
      pinBatch: Boolean = false)(result: DataFrame => DataFrame): StreamingQuery =
    foreachBatch(input, checkpointDir, pinBatch)((batch, batchId) =>
      write(result(batch), outDir, batchId))

  /** Live pins, keyed by canonical plan — the key the CacheManager
    * shares cached data under, so two queries over one frozen table
    * (or over two loads of one artifact) pin one cache entry. */
  private val pins = scala.collection.mutable.HashMap.empty[LogicalPlan, Int]

  /** Start a query (`start`) with `frames` persisted for its lifetime.
    * Pins are counted per canonical plan, so stopping one of two
    * queries over the same frames leaves the other's cached; the last
    * query to terminate — or a `start` that throws — releases them. */
  def pinnedFor(frames: DataFrame*)(start: => StreamingQuery): StreamingQuery = {
    val keyed = frames.map(f => f -> f.queryExecution.analyzed.canonicalized)
    pins.synchronized {
      keyed.foreach { case (f, key) =>
        f.persist(level)
        pins(key) = pins.getOrElse(key, 0) + 1
      }
    }
    def release(): Unit = pins.synchronized {
      keyed.foreach { case (f, key) =>
        val n = pins(key) - 1
        if (n > 0) pins(key) = n
        else {
          pins.remove(key)
          f.unpersist(blocking = false)
        }
      }
    }
    val q = try start catch { case t: Throwable => release(); throw t }
    releaseOnTermination(q)(release())
  }

  /** Run `release` exactly once when `q` terminates — also when it died
    * before the listener was added (the died-in-first-batch race),
    * which the `isActive` check after registration catches. A
    * long-lived session may run many streams: frozen reference tables
    * must not outlive their query. */
  private def releaseOnTermination(q: StreamingQuery)(
      release: => Unit): StreamingQuery = {
    val streams = q.sparkSession.streams
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    def fire(l: StreamingQueryListener): Unit =
      if (once.compareAndSet(false, true)) {
        release
        streams.removeListener(l)
      }
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) fire(this)
    }
    streams.addListener(listener)
    if (!q.isActive) fire(listener)
    q
  }

  /** Every `batch_id=N` subtree under `root` read as one frame (batch_id
    * a partition column), or None when no subtree holds a readable data
    * file. A subtree may exist with no committed part file — an empty
    * replayed micro-batch, or an aborted first write leaving only
    * `_temporary` — and the parquet reader fails on a root with nothing
    * to infer a schema from, so a READABLE file is required, not just
    * a directory name. */
  def readDeltas(spark: SparkSession, root: String): Option[DataFrame] = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(st: FileStatus): Boolean = {
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    def hasDataFile(p: Path): Boolean = fs.listStatus(p).exists(st =>
      visible(st) && (!st.isDirectory || hasDataFile(st.getPath)))
    val readable = fs.exists(path) && fs.listStatus(path).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
        hasDataFile(st.getPath))
    if (readable) Some(spark.read.parquet(root)) else None
  }
}
