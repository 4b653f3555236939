package graft.streaming

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Raw event as it leaves JSON parsing. */
case class Evt(user_id: Long, ts: java.sql.Timestamp, event_type: String,
    event_id: Long, value: Double)

/** Open-session state carried between micro-batches (epoch seconds). */
case class SessionState(start_s: Long, last_s: Long, n_events: Int)

/** A gap-closed session emitted downstream. */
case class ClosedSession(user_id: Long, start_s: Long, end_s: Long,
    n_events: Int)

/** How a queue batch closes when it does not fill up
  * ([[EventStream.batchFlush]]). */
sealed trait QueueClose

/** Gap model: an arrival more than `limitSec` after the pending batch's
  * last arrival first flushes that batch (closed_by "time"). */
case class GapClose(limitSec: Long) extends QueueClose

/** Free-running ticker: ticks at t0 + k·tickSec from the stream's first
  * arrival second; the first arrival in a later tick window flushes the
  * pending batch at its window-end tick (closed_by "tick"). */
case class TickClose(tickSec: Long) extends QueueClose

/** Open queue batch carried between micro-batches (epoch seconds): the
  * tick anchor `t0`, the pending batch's tick window `w`, its arrival
  * seconds newest first (at most batchSize of them), its first and last
  * event ids, and `batches_closed`, which numbers the next close
  * 1-based. */
case class QueueState(t0: Long, w: Long, secs: List[Long], first_id: Long,
    last_id: Long, batches_closed: Long)

/** A flushed batch (closed_by: "size" | "time" | "tick"). close_s is the
  * last arrival second for size and time closes and the window-end tick
  * for tick closes; arrival_s lists the members' arrival seconds in
  * arrival order. */
case class ClosedBatch(stream: String, batch_id: Long, n_events: Int,
    first_event: Long, last_event: Long, span_sec: Long, closed_by: String,
    close_s: Long, arrival_s: Seq[Long])

/** One per-event queue-latency observation, emitted when its batch
  * closes (latency_s = batch close second − arrival second). */
case class LatencyObs(stream: String, batch_id: Long, latency_s: Long)

/** Structured-Streaming re-expression of the reference's end-to-end
  * service (SURVEY.md §2a #19-22): HTTP ingest → decode/validate →
  * regex route fanout → bounded batches → Kinesis ship becomes
  * readStream → from_json/filter → broadcast route join → micro-batch
  * foreachBatch sink with per-file record caps.
  *
  * The reference's queue/worker machinery (internal/queue/queue.go) is
  * backpressure infrastructure; in Structured Streaming the micro-batch
  * IS the batch, and maxRecordsPerFile reproduces the ≤500-records
  * PutRecords split (internal/kinesis/kinesis.go:30). The queue's own
  * flush semantics (batch by size, or by time under a [[QueueClose]]
  * model: [[GapClose]] or [[TickClose]]) are replayed by ONE stateful
  * op, [[batchFlush]]; its latency histogram is the stateless
  * [[queueLatency]] over the closed batches. State that the reference
  * keeps in goroutines (open sessions, open batches) lives in
  * flatMapGroupsWithState, checkpointed and partitioned by key.
  */
object EventStream {

  /** WRP-shaped schema for the streaming JSON source
    * (wrp-go v3 fields used in internal/event/request_handler.go). */
  val wrpSchema: StructType = StructType.fromDDL(
    "msg_type INT, source STRING, dest STRING, event_id BIGINT, " +
      "user_id BIGINT, ts TIMESTAMP, value DOUBLE")

  /** #19a decode: raw JSON lines → typed event columns
    * (request_handler.go:105 decode step). */
  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), wrpSchema).as("m"))
      .select("m.*")

  /** #19b validate (request_handler.go:105-131): msg_type 4, non-empty
    * dest with the event scheme. */
  def validate(parsed: DataFrame): DataFrame =
    parsed.filter(col("msg_type") === 4 &&
      col("dest").isNotNull && col("dest").startsWith("event:"))
      .withColumn("event_type", regexp_extract(col("dest"), "event:([^/]+)", 1))

  /** #19c route fanout (filter/filter.go:63-99): broadcast regex join —
    * identical shape to the batch operator, map-side at any scale. */
  def route(validated: DataFrame, spark: SparkSession): DataFrame =
    graft.operators.Routing.fanout(validated,
      graft.queries.Events.routes(spark).select(col("stream"), col("event_regex")),
      col("event_type"))

  /** #19c' route fanout with the device-regex layer (filter.go:86:
    * regex vs source OR "event:"-stripped dest; empty/".*" ⇒
    * match-all) — the same broadcast shape works unchanged on a
    * streaming DataFrame, so batch and stream share one operator. */
  def routeWithDevice(validated: DataFrame, routes: DataFrame): DataFrame =
    graft.operators.Routing.fanoutWithDevice(validated, routes,
      col("event_type"), col("source"), col("dest"))

  /** #19d ship (kinesis_sender.go:92-100): the [[Delivery]] batch-dir
    * sink writing one parquet dir per stream, each file capped at 500
    * records — the PutRecords batch limit. Partition key column =
    * stream. */
  def batchedSink(routed: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    Delivery.foreachBatch(routed, checkpointDir)((batch, batchId) =>
      Delivery.write(batch, outDir, batchId, shipped))

  /** The ship writer: per-stream dirs, ≤500 records per file. */
  private def shipped(w: DataFrameWriter[Row]): DataFrameWriter[Row] =
    w.option("maxRecordsPerFile", 500).partitionBy("stream")

  /** #20 Windowed per-type counts with watermark — the streaming version
    * of the per-event-type Prometheus counters (filter/metrics.go). */
  def windowedCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** #14-streaming Throttle detection (tags.go: EventThrottled /
    * EventNotThrottled) as a stream: per-user tumbling-hour counts
    * under a watermark, hours at/over the threshold flagged — the same
    * windowed-aggregate shape as the batch `evt_throttle`, so batch and
    * stream agree row for row once windows close. */
  def throttle(parsed: DataFrame, perHour: Long): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_in_hour"))
      .filter(col("n_in_hour") >= perHour)
      .select(col("window.start").as("hour_start"), col("user_id"),
        col("n_in_hour"))

  /** #24-streaming Queue-depth gauge — the live form of the reference's
    * IncomingQueueDepth/OutgoingQueueDepth gauges (metrics.go:18,21;
    * queue.go:135-216), matching batch `evt_queue_depth` row for row
    * once windows close. The batch query's per-arrival depth is
    * ((r−1) mod 100)+1 — a function of the arrival rank alone — so the
    * hour's whole gauge envelope has a closed form in the arrival count
    * n: max = min(n, 100), sum = (n div 100)·5050 + m(m+1)/2 with
    * m = n mod 100. One watermarked windowed count, then map-side
    * arithmetic: no per-event state, bounded by live windows only. */
  def queueDepthGauge(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_arrivals"))
      .select(col("event_type").as("stream"),
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("n_arrivals"),
        expr("CAST(ceil(n_arrivals / 100.0) AS BIGINT)").as("n_batches"),
        least(col("n_arrivals"), lit(100L)).as("max_depth"),
        expr("(n_arrivals div 100) * 5050 + " +
          "(n_arrivals % 100) * (n_arrivals % 100 + 1) div 2").as("sum_depth"))
      .withColumn("avg_depth",
        col("sum_depth").cast("double") / col("n_arrivals"))

  /** #25-streaming Slow-consumer drop gauge (metrics.go:16-17): hours
    * where arrivals exceeded the consumer capacity, with the overflow
    * count — batch `evt_slow_consumer`'s hourly CTE as a live stream.
    * rank > capacity over n arrivals drops exactly max(n−capacity, 0)
    * messages, so the watermarked windowed count is the whole gauge. */
  def slowConsumerDrops(parsed: DataFrame, capacity: Long = 5L): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window"), col("event_type").as("stream"),
        greatest(col("n") - lit(capacity), lit(0L)).as("dropped"))
      .filter(col("dropped") > 0)

  /** #25-streaming' Cut-off detection over the drop gauge: the consumer
    * is cut off at hour h when h and its two preceding calendar hours
    * all dropped (the batch query's lag(2) consecutiveness predicate).
    * Expressed as a SECOND windowed aggregation chained on the first
    * via window_time (Spark's multi-stateful-operator support): each
    * closed drop-hour lands in three sliding 3-hour windows, and the
    * window holding hours [h−2, h] fires iff all three are drop-hours —
    * cutoff hour = window start + 2 h. State stays bounded by the same
    * watermark; no custom state op. */
  def slowConsumerCutoffs(drops: DataFrame): DataFrame =
    drops
      .groupBy(window(window_time(col("window")), "3 hours", "1 hour"),
        col("stream"))
      .agg(count(lit(1)).as("n_drop_hours"))
      .filter(col("n_drop_hours") === 3)
      .select(col("stream"),
        (unix_timestamp(col("window.start")) + 7200L).as("cutoff_hour_epoch"))

  /** #9b/#9d-streaming The reference's one queue (queue.go:144-216) as
    * one stateful replay, the live twin of the batch `evt_batch_time`
    * ([[graft.operators.Batching.assignTimeOrSize]]) and
    * `evt_batch_periodic` ([[graft.operators.Batching.assignPeriodic]]).
    * Per stream, a batch is emitted the moment it fills (`size`), and
    * `close` decides when a partial batch flushes:
    *  - [[GapClose]]: a later arrival more than `limitSec` after the
    *    last one first flushes the pending batch (`time`) — the
    *    gap-closure trick [[sessionize]] uses. It APPROXIMATES the
    *    reference's free-running ticker (ADVICE r12): under a steady
    *    sub-limit trickle the ticker also flushes partial batches the
    *    gap model keeps accumulating; the two agree when arrivals are
    *    dense or fully idle.
    *  - [[TickClose]]: the EXACT ticker — ticks run free at the
    *    stream's first-arrival phase, and the first arrival in a later
    *    tick window flushes the pending batch at its window-end tick
    *    (`tick`; later ticks were empty no-ops).
    * Deterministic without wall-clock timeouts. API REQUIREMENT: events
    * must arrive in event_id (arrival) order ACROSS micro-batches —
    * within one micro-batch this operator sorts, but a lower-event_id
    * straggler in a LATER micro-batch is appended out of order,
    * diverging from the batch operators. State holds at most batchSize
    * arrival seconds per stream. BatchFlushParitySpec pins stream
    * output == batch assignment minus each stream's open tail. */
  def batchFlush(events: Dataset[Evt], batchSize: Int,
      close: QueueClose): Dataset[ClosedBatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[QueueState, ClosedBatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (stream: String, batch: Iterator[Evt], state: GroupState[QueueState]) =>
          val out = List.newBuilder[ClosedBatch]
          var st = state.getOption
          def flush(s: QueueState, reason: String, closeS: Long): QueueState = {
            out += ClosedBatch(stream, s.batches_closed + 1, s.secs.size,
              s.first_id, s.last_id, s.secs.head - s.secs.last, reason,
              closeS, s.secs.reverse)
            s.copy(secs = Nil, batches_closed = s.batches_closed + 1)
          }
          batch.toSeq.sortBy(_.event_id).foreach { e =>
            val sec = e.ts.getTime / 1000
            var s = st.getOrElse(QueueState(sec, 0L, Nil, 0L, 0L, 0L))
            val w = close match {
              case TickClose(tickSec) => (sec - s.t0) / tickSec
              case GapClose(_) => 0L
            }
            if (s.secs.nonEmpty) close match {
              case GapClose(limitSec) if sec - s.secs.head > limitSec =>
                s = flush(s, "time", s.secs.head)
              case TickClose(tickSec) if w > s.w =>
                s = flush(s, "tick", s.t0 + (s.w + 1) * tickSec)
              case _ =>
            }
            if (s.secs.isEmpty) s = s.copy(w = w, first_id = e.event_id)
            s = s.copy(secs = sec :: s.secs, last_id = e.event_id)
            if (s.secs.size >= batchSize) s = flush(s, "size", sec)
            st = Some(s)
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** #27c/#27c'-streaming Queue-latency observations — the live twin of
    * the batch `evt_queue_latency` and `evt_queue_latency_periodic`
    * (internal/event/metrics.go:29 IncomingQueueLatencyHistogram): one
    * observation per member of each [[batchFlush]] batch, close second
    * − arrival second. Under [[GapClose]] the close second is the last
    * arrival, a lower bound of the wall flush instant; under
    * [[TickClose]] a tick close is the true window-end flush. A
    * stateless map over the closed batches: bucketizing downstream (a
    * groupBy over `latency_s`) reproduces the histogram.
    * QueueLatencyParitySpec pins stream output == the batch queries'
    * per-event latencies minus each stream's open tail. */
  def queueLatency(closed: Dataset[ClosedBatch]): Dataset[LatencyObs] = {
    import closed.sparkSession.implicits._
    closed.flatMap(b =>
      b.arrival_s.map(a => LatencyObs(b.stream, b.batch_id, b.close_s - a)))
  }

  /** #27b-streaming Merge-error flag counters — the live form of
    * `evt_merge_errors`' three stateless columns (interface_used_read /
    * missing_disconnect_payload / error_merging_event): the flags are
    * pure per-row expressions shared with the batch query via
    * `Synthetics`, so batch and stream cannot drift; one watermarked
    * windowed aggregate per (window, type). empty_history is the
    * stateful fourth counter — see [[firstEvents]]. */
  def mergeErrorFlags(events: DataFrame): DataFrame =
    events
      .withColumn("iface_read",
        graft.queries.Synthetics.interfaceUsed.isNotNull)
      .withColumn("missing_disc",
        graft.queries.Synthetics.offlineEvent &&
          graft.queries.Synthetics.disconnectReason.isNull)
      .withColumn("merge_err", graft.queries.Synthetics.mergeFailed)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        sum(when(col("iface_read"), 1L).otherwise(0L))
          .as("interface_used_read"),
        sum(when(col("missing_disc"), 1L).otherwise(0L))
          .as("missing_disconnect_payload"),
        sum(when(col("merge_err"), 1L).otherwise(0L))
          .as("error_merging_event"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("interface_used_read"), col("missing_disconnect_payload"),
        col("error_merging_event"))

  /** #27b-streaming' The empty_history feed: a merge-time read finds
    * empty stored history iff the event is its user's FIRST — one
    * boolean of state per user (the reference's device registry,
    * internal/metrics/tags.go:71 EmptyHistory). Within a micro-batch
    * rows are processed in (ts, event_id) order, so the emitted first
    * event matches the batch query's rank-1 row deterministically under
    * in-order replay. Emits one row per user, downstream-aggregable
    * (chained stateful ops are fine in append mode).
    *
    * State is deliberately unbounded: "first ever" needs one boolean
    * per user forever — exactly the reference's device-registry
    * membership check, which also never expires. One boolean per user
    * is ~tens of bytes of store per user; at 10^9 users that is tens of
    * GB across the cluster's state stores — held, not growing per
    * event. A deployment that can tolerate occasional re-counts after
    * long inactivity can pass `ttl` to re-admit idle users and bound
    * the store instead. */
  def firstEvents(events: Dataset[Evt],
      ttl: Option[java.time.Duration] = None): Dataset[Evt] = {
    import events.sparkSession.implicits._
    val timeoutKind = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, Evt](OutputMode.Append, timeoutKind) {
        (_, batch: Iterator[Evt], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out =
              if (state.exists) Iterator.empty
              else {
                state.update(true)
                Iterator.single(
                  batch.toSeq.minBy(e => (e.ts.getTime, e.event_id)))
              }
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out
          }
      }
  }

  /** #21 Streaming sessionization with custom state
    * (online/offline session semantics, internal/metrics/tags.go):
    * gap-closed sessions via flatMapGroupsWithState, partitioned by
    * user_id. A session closes when a later event arrives more than
    * gapSec after it — deterministic without wall-clock timeouts. */
  def sessionize(events: Dataset[Evt], gapSec: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Evt], state: GroupState[SessionState]) =>
          val closed = List.newBuilder[ClosedSession]
          var st = state.getOption
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val sec = e.ts.getTime / 1000
            st match {
              case Some(s) if sec - s.last_s > gapSec =>
                closed += ClosedSession(uid, s.start_s, s.last_s, s.n_events)
                st = Some(SessionState(sec, sec, 1))
              case Some(s) =>
                st = Some(s.copy(last_s = sec, n_events = s.n_events + 1))
              case None =>
                st = Some(SessionState(sec, sec, 1))
            }
          }
          st.foreach(state.update)
          closed.result().iterator
      }
  }

  /** #22 Streaming dedup (delivery-retry suppression): state-bounded via
    * the watermark instead of an ever-growing seen-set. */
  def dedup(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** #12-streaming Primary→alt delivery failover
    * (filter/stream_dispatcher.go:60-105: try primary, then alt streams
    * in order): per micro-batch, attempt the primary sink; on transport
    * failure the batch lands in the alt sink instead of being lost.
    * `failPrimary` injects the failure predicate (tests; real transports
    * throw on their own).
    *
    * Delivery unit = the batch_id partition directory: a parquet write
    * is not atomic at the directory level, so each batch overwrites its
    * own [[Delivery]] batch-dir subtree in the [[batchedSink]] layout
    * (idempotent under checkpoint replay) and a failed primary attempt
    * SCRUBS its partial subtree before diverting — readers of
    * primaryDir ∪ altDir never see a batch twice. Only transport/IO
    * failures divert (IOException / SparkException); logic errors
    * (analysis, codegen) propagate and fail the query instead of
    * silently landing in alt.
    *
    * `maxRetries` mirrors the reference's deliveryRetries
    * (filter/filter.go:30; internal/kinesis retry loop): the primary is
    * retried that many times before the batch fails over. The
    * batch-dir overwrite makes retries idempotent — a half-written
    * attempt is replaced wholesale by the next. */
  def failoverSink(routed: DataFrame, primaryDir: String, altDir: String,
      checkpointDir: String,
      failPrimary: (DataFrame, Int) => Boolean = (_, _) => false,
      maxRetries: Int = 0): StreamingQuery =
    Delivery.foreachBatch(routed, checkpointDir) { (batch, batchId) =>
      def write(dir: String): Unit = Delivery.write(batch, dir, batchId, shipped)
      def scrub(dir: String): Unit = {
        val p = new org.apache.hadoop.fs.Path(Delivery.dir(dir, batchId))
        p.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
          .delete(p, true)
      }
      def attemptPrimary(attempt: Int): Unit =
        try {
          if (failPrimary(batch, attempt))
            throw new java.io.IOException("simulated transport failure")
          write(primaryDir)
        } catch {
          case _: java.io.IOException | _: org.apache.spark.SparkException
              if attempt < maxRetries =>
            attemptPrimary(attempt + 1)
        }
      val primaryOk =
        try { attemptPrimary(0); true }
        catch {
          case _: java.io.IOException | _: org.apache.spark.SparkException =>
            scrub(primaryDir)
            write(altDir)
            false
        }
      // symmetric scrub: if a PRIOR epoch diverted this batch to alt
      // and crashed before its checkpoint committed, the replay that
      // now succeeds on primary must remove the stale alt partition,
      // or primaryDir ∪ altDir double-counts the batch. Outside the
      // catch so a scrub failure fails the epoch (and replays) rather
      // than diverting an already-delivered batch to alt.
      if (primaryOk) scrub(altDir)
    }

  /** #19e Stream-stream interval join: events enriched with the device
    * registration that happened within the hour before the event. Both
    * sides carry watermarks so the join state is bounded; the time-range
    * predicate lets Spark expire rows once the watermark passes. */
  def enrich(events: DataFrame, registrations: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .join(
        registrations.withWatermark("reg_ts", "10 minutes"),
        expr("""user_id = reg_user_id AND
                reg_ts BETWEEN ts - INTERVAL 1 HOUR AND ts"""))
}
