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

/** Open time-OR-size batch carried between micro-batches
  * (epoch seconds; batches_closed numbers the next close 1-based). */
case class BatchState(n: Int, first_id: Long, last_id: Long,
    first_s: Long, last_s: Long, batches_closed: Long)

/** A flushed batch emitted downstream (closed_by: "size" | "time"). */
case class ClosedBatch(stream: String, batch_id: Long, n_events: Int,
    first_event: Long, last_event: Long, span_sec: Long, closed_by: String)

/** Open periodic-ticker batch ([[EventStream.batchFlushPeriodic]]):
  * `t0` anchors the stream's tick phase at its first arrival second;
  * `w` is the window holding the pending batch. Constant-size state. */
case class PeriodicState(t0: Long, w: Long, n: Int, first_id: Long,
    last_id: Long, last_s: Long, batches_closed: Long)

/** A ticker-model flushed batch (closed_by: "size" | "tick"; close_s =
  * last arrival second for size, window-end tick second for tick). */
case class ClosedPeriodicBatch(stream: String, batch_id: Long,
    n_events: Int, first_event: Long, last_event: Long, closed_by: String,
    close_s: Long)

/** Open batch state for the latency twin: the pending events' arrival
  * seconds, newest first (bounded by batchSize, so state stays a few
  * dozen bytes per stream). */
case class LatencyState(secs: List[Long], batches_closed: Long)

/** Latency-twin state for the periodic-ticker model: the tick anchor,
  * the pending batch's window, and its arrival seconds (newest first,
  * bounded by batchSize). */
case class PeriodicLatencyState(t0: Long, w: Long, secs: List[Long],
    batches_closed: Long)

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
  * PutRecords split (internal/kinesis/kinesis.go:30). State that the
  * reference keeps in goroutines (open sessions) lives in
  * flatMapGroupsWithState, checkpointed and partitioned by user_id.
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

  /** #9b-streaming Time-OR-size batch flush — the live twin of the
    * batch `evt_batch_time` (queue.go:144-216): per stream, a batch is
    * emitted the MOMENT it fills (`size`), and a later event arriving
    * more than `timeLimitSec` after the last one first flushes the
    * pending partial batch (`time`) — the gap-closure trick
    * [[sessionize]] uses, deterministic without wall-clock timeouts.
    * NOTE on fidelity (ADVICE r12): the reference's ticker is
    * free-running and periodic — reset only after it fires, never on
    * arrivals or size flushes — so under a steady sub-limit trickle
    * (e.g. one event every 500 s against a 600 s limit) it also
    * flushes partial batches the gap model would keep accumulating.
    * The gap replay is a deterministic APPROXIMATION, exact when
    * arrivals are dense (size flushes dominate) or fully idle (every
    * gap beyond the limit flushes), which is the regime the corpus and
    * the parity spec exercise. API REQUIREMENT: events must arrive in
    * event_id (arrival) order ACROSS micro-batches — within one
    * micro-batch this operator sorts, but a lower-event_id straggler
    * in a LATER micro-batch is appended out of order, diverging from
    * the batch operator (and span_sec, last_s − first_s, can go
    * negative on out-of-order timestamps). Feed it an ordered source
    * (Kafka per-partition order, or the replay harness) —
    * BatchFlushParitySpec pins stream output == batch assignment minus
    * each stream's open tail under that contract. */
  def batchFlush(events: Dataset[Evt], batchSize: Int,
      timeLimitSec: Long): Dataset[ClosedBatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BatchState, ClosedBatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (stream: String, batch: Iterator[Evt], state: GroupState[BatchState]) =>
          val out = List.newBuilder[ClosedBatch]
          var st = state.getOption
          def close(s: BatchState, reason: String): BatchState = {
            out += ClosedBatch(stream, s.batches_closed + 1, s.n,
              s.first_id, s.last_id, s.last_s - s.first_s, reason)
            BatchState(0, 0L, 0L, 0L, 0L, s.batches_closed + 1)
          }
          batch.toSeq.sortBy(_.event_id).foreach { e =>
            val sec = e.ts.getTime / 1000
            st = st match {
              case Some(s) if s.n > 0 && sec - s.last_s > timeLimitSec =>
                // idle gap: the ticker would have flushed the pending
                // partial batch before this arrival
                Some(close(s, "time").copy(n = 1, first_id = e.event_id,
                  last_id = e.event_id, first_s = sec, last_s = sec))
              case Some(s) if s.n > 0 =>
                Some(s.copy(n = s.n + 1, last_id = e.event_id, last_s = sec))
              case other =>
                Some(BatchState(1, e.event_id, e.event_id, sec, sec,
                  other.map(_.batches_closed).getOrElse(0L)))
            }
            st = st.map(s => if (s.n >= batchSize) close(s, "size") else s)
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** #9d-streaming EXACT periodic-ticker flush — the live twin of the
    * batch `evt_batch_periodic`
    * ([[graft.operators.Batching.assignPeriodic]], queue.go:155-173):
    * ticks run free at the stream's first-arrival phase (t0 + k·tick),
    * so a pending batch closes on size the moment it fills, or as
    * "tick" when a later event lands in a later tick window (the first
    * tick after the pending window flushed it; later ticks were empty
    * no-ops). Unlike [[batchFlush]]'s gap approximation this emits the
    * short batches a steady sub-limit trickle produces. Same
    * in-order-across-micro-batches contract as [[batchFlush]]; state is
    * constant-size per stream. BatchFlushParitySpec pins stream output
    * == batch assignment minus each stream's open tail. */
  def batchFlushPeriodic(events: Dataset[Evt], batchSize: Int,
      tickSec: Long): Dataset[ClosedPeriodicBatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[PeriodicState, ClosedPeriodicBatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (stream: String, batch: Iterator[Evt], state: GroupState[PeriodicState]) =>
          val out = List.newBuilder[ClosedPeriodicBatch]
          var st = state.getOption
          def close(s: PeriodicState, reason: String): PeriodicState = {
            val closeS =
              if (reason == "size") s.last_s else s.t0 + (s.w + 1) * tickSec
            out += ClosedPeriodicBatch(stream, s.batches_closed + 1, s.n,
              s.first_id, s.last_id, reason, closeS)
            s.copy(n = 0, batches_closed = s.batches_closed + 1)
          }
          batch.toSeq.sortBy(_.event_id).foreach { e =>
            val sec = e.ts.getTime / 1000
            var s = st.getOrElse(PeriodicState(sec, 0L, 0, 0L, 0L, sec, 0L))
            val w = (sec - s.t0) / tickSec
            if (s.n > 0 && w > s.w) s = close(s, "tick")
            s =
              if (s.n == 0) s.copy(w = w, n = 1, first_id = e.event_id,
                last_id = e.event_id, last_s = sec)
              else s.copy(n = s.n + 1, last_id = e.event_id, last_s = sec)
            if (s.n >= batchSize) s = close(s, "size")
            st = Some(s)
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** #27c-streaming Queue-latency observations — the live twin of the
    * batch `evt_queue_latency` (internal/event/metrics.go:29
    * IncomingQueueLatencyHistogram): the same time-OR-size state
    * machine as [[batchFlush]], but the state carries each pending
    * event's arrival second (bounded by batchSize) and a batch close
    * emits one latency observation per member — close second − arrival
    * second, the deterministic replay's lower bound of arrival→flush.
    * Bucketizing downstream (a windowed groupBy over `latency_s`)
    * reproduces the histogram; emitting raw observations keeps the
    * operator composable. Same in-order-across-micro-batches contract
    * and gap-approximation caveat as [[batchFlush]].
    * QueueLatencyParitySpec pins stream output == the batch query's
    * per-event latencies minus each stream's open tail. */
  def queueLatency(events: Dataset[Evt], batchSize: Int,
      timeLimitSec: Long): Dataset[LatencyObs] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[LatencyState, LatencyObs](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (stream: String, batch: Iterator[Evt], state: GroupState[LatencyState]) =>
          val out = List.newBuilder[LatencyObs]
          var st = state.getOption.getOrElse(LatencyState(Nil, 0L))
          def close(s: LatencyState): LatencyState = {
            val closeSec = s.secs.head // newest-first: head = last arrival
            s.secs.reverseIterator.foreach(a =>
              out += LatencyObs(stream, s.batches_closed + 1, closeSec - a))
            LatencyState(Nil, s.batches_closed + 1)
          }
          batch.toSeq.sortBy(_.event_id).foreach { e =>
            val sec = e.ts.getTime / 1000
            if (st.secs.nonEmpty && sec - st.secs.head > timeLimitSec)
              st = close(st)
            st = st.copy(secs = sec :: st.secs)
            if (st.secs.size >= batchSize) st = close(st)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** #27c'-streaming Queue-latency observations under the EXACT ticker
    * model — the live twin of `evt_queue_latency_periodic`: the
    * [[batchFlushPeriodic]] state machine with per-event arrival
    * seconds in state (bounded by batchSize), emitting close − arrival
    * per member; a size close flushes at the filling arrival, a tick
    * close at the pending window's end tick (the true flush instant).
    * Same in-order contract; QueueLatencyParitySpec pins stream ==
    * batch minus open tails. */
  def queueLatencyPeriodic(events: Dataset[Evt], batchSize: Int,
      tickSec: Long): Dataset[LatencyObs] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[PeriodicLatencyState, LatencyObs](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (stream: String, batch: Iterator[Evt], state: GroupState[PeriodicLatencyState]) =>
          val out = List.newBuilder[LatencyObs]
          var st = state.getOption
          def close(s: PeriodicLatencyState, closeS: Long): PeriodicLatencyState = {
            s.secs.reverseIterator.foreach(a =>
              out += LatencyObs(stream, s.batches_closed + 1, closeS - a))
            s.copy(secs = Nil, batches_closed = s.batches_closed + 1)
          }
          batch.toSeq.sortBy(_.event_id).foreach { e =>
            val sec = e.ts.getTime / 1000
            var s = st.getOrElse(PeriodicLatencyState(sec, 0L, Nil, 0L))
            val w = (sec - s.t0) / tickSec
            if (s.secs.nonEmpty && w > s.w)
              s = close(s, s.t0 + (s.w + 1) * tickSec)
            s = s.copy(w = w, secs = sec :: s.secs)
            if (s.secs.size >= batchSize) s = close(s, sec)
            st = Some(s)
          }
          st.foreach(state.update)
          out.result().iterator
      }
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
