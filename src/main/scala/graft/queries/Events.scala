package graft.queries

import graft.{Exact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Event-stream / WRP semantics (SURVEY.md §2a) re-expressed Spark-first.
  *
  * The reference (xmidt-event-streams) is an event-routing service: decode
  * WRP → validate → normalize → regex-filter fanout → bounded-queue batch →
  * Kinesis ship with failover, metrics throughout. Its queue/worker
  * machinery is backpressure infrastructure; on Spark those *semantics*
  * (routing, batching, drop accounting, failover accounting, session/
  * throttle/old-future metrics) become declarative transformations that
  * Catalyst can optimize and that scale by partitioning on the natural
  * keys (stream, user_id).
  *
  * Scale notes (100 TB): the route table is KBs → broadcast, so routing
  * fanout is map-side with zero shuffle of the event stream. All windowed
  * per-user analytics shuffle ONCE on user_id and reuse that partitioning.
  * WRP construction/parse/extraction are pure per-row expressions (whole-
  * stage codegen, no shuffle at all).
  *
  * Reference citations are file:line into /root/reference.
  */
object Events {

  /** Deterministic WRP-shaped columns synthesized from the events table.
    * Mirrors the wrp-go v3 fields the reference touches
    * (internal/event/request_handler.go:57-163): source device id,
    * "event:"-prefixed dest, msg_type 4 = SimpleEvent. */
  private def device(c: Column): Column =
    concat(lit("mac:"), lpad(c.cast("string"), 12, "0"))
  private def destCol: Column =
    concat(lit("event:"), col("event_type"), lit("/"), col("event_id").cast("string"))

  /** #1 WRP model + JSON round-trip: build the WRP JSON document, parse it
    * back with from_json against an explicit schema (the Spark analogue of
    * wrp-go decoding in request_handler.go:105), surface parsed fields.
    * Pure projection — codegen, no shuffle. */
  def wrpParse(s: SparkSession, d: String): DataFrame = {
    // parse against the full graft.model.Wrp schema (absent fields null)
    val wrpSchema = graft.model.Wrp.schema
    Tables.events(s, d)
      .select(col("event_id"),
        to_json(struct(
          lit(4).as("msg_type"),
          device(col("user_id")).as("source"),
          destCol.as("dest"))).as("wrp"))
      .select(col("event_id"), from_json(col("wrp"), wrpSchema).as("m"))
      .select(col("event_id"), col("m.msg_type").as("msg_type"),
        col("m.source").as("source"), col("m.dest").as("dest"))
  }

  /** #2 Validation (request_handler.go:95-131), full 400-reason ladder in
    * the reference's check order: empty payload → decode/format error →
    * msg_type != 4 → invalid UTF-8 (wrp.UTF8) → accepted. Payload bytes
    * are synthesized deterministically (empty on %101, undecodable on
    * %89, invalid UTF-8 on %79, msg_type 3 on %97); the empty and UTF-8
    * classes are derived from the ACTUAL bytes (length / is_valid_utf8 —
    * a binary→string cast does not validate, so the checker sees the raw
    * bytes), while the oracle replays the arithmetic independently. */
  def wrpValidate(s: SparkSession, d: String): DataFrame = {
    val payloadBytes =
      when(pmod(col("event_id"), lit(101)) === 0, encode(lit(""), "UTF-8"))
        .when(pmod(col("event_id"), lit(79)) === 0, unhex(lit("7BFF7D")))
        .otherwise(encode(
          concat(lit("{\"v\": "), col("value").cast("string"), lit("}")),
          "UTF-8"))
    val msgType = when(pmod(col("event_id"), lit(97)) === 0, 3).otherwise(4)
    Tables.events(s, d)
      .select(
        when(length(payloadBytes) === 0, "empty_payload")
          .when(pmod(col("event_id"), lit(89)) === 0, "invalid_format")
          .when(msgType =!= 4, "invalid_msg_type")
          .when(!is_valid_utf8(payloadBytes.cast("string")), "invalid_utf8")
          .otherwise("valid").as("reject_reason"))
      .groupBy("reject_reason").agg(count(lit(1)).as("n"))
  }

  /** #3 fixWrp normalization (request_handler.go:141-163): default the
    * content type, generate a deterministic transaction uuid (sha2 of the
    * natural key — deterministic where the reference uses uuidgen). */
  def wrpFix(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        coalesce(
          when(Synthetics.emptyContentType, lit(null))
            .otherwise(lit("application/json")),
          lit("application/msgpack")).as("content_type"),
        substring(sha2(concat_ws(":", col("event_id").cast("string"),
          col("user_id").cast("string")), 256), 1, 32).as("txn_uuid"))
      .groupBy("content_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("txn_uuid")).as("n_uuids"))

  /** #4 Event-type extraction from dest (wrp-go FindEventStringSubMatch,
    * filter/filter_manager.go:132): regex on the "event:" scheme. */
  def wrpEventType(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(regexp_extract(destCol, "event:([^/]+)", 1).as("evt"))
      .groupBy("evt").agg(count(lit(1)).as("n"))

  /** #5 Device-id extraction from source (filter/filter.go:82-96). */
  def wrpDeviceId(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        regexp_extract(device(col("user_id")), "mac:([0-9]+)", 1).as("dev"))
      .groupBy("event_type").agg(countDistinct(col("dev")).as("n_devices"))

  /** #6 Per-event-type counters (FilterManagerMetrics.EventType,
    * filter_manager.go:132). */
  def evtTypeCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))

  /** Route table (filter/filter_factory.go): tiny config — broadcast it so
    * routing fanout never shuffles the event stream. Shared with the
    * streaming pipeline (graft.streaming.EventStream). */
  def routes(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("s_clicks", "^(click|view)$", ""),
      ("s_commerce", "^(purchase|signup)$", ".*"),
      ("s_errors", "error", "^0000000000[0-4][0-9]$"),
      ("s_firehose", ".*", "")
    ).toDF("stream", "event_regex", "device_regex")
  }

  /** #7 Regex filter routing with fanout to ALL matching streams
    * (filter/filter.go:63-80, filter_manager.go:115-140): broadcast
    * nested-loop join, regex as join predicate — map-side at any scale. */
  def evtRoute(s: SparkSession, d: String): DataFrame =
    graft.operators.Routing.fanout(Tables.events(s, d),
        routes(s).select("stream", "event_regex"), col("event_type"))
      .groupBy("stream")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))

  /** Route table with device regexes for the metadata layer. Separate
    * from `routes` (whose streams the plain fanout + streaming pipeline
    * share): s_errors matches on the SOURCE device id only, s_dest_acks
    * matches on the stripped DEST only — together they exercise both
    * sides of the filter.go:86 disjunction. */
  def metaRoutes(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("s_clicks", "^(click|view)$", ""),
      ("s_commerce", "^(purchase|signup)$", ".*"),
      ("s_errors", "error", "^mac:0000000000[0-4][0-9]$"),
      ("s_dest_acks", ".*", "^error/[0-9]*[05]$"),
      ("s_firehose", ".*", "")
    ).toDF("stream", "event_regex", "device_regex")
  }

  /** #8 Device-regex layered on the event match; empty/".*" ⇒ match-all
    * (filter/filter_factory.go:129-167); the regex is tried against the
    * source AND the "event:"-stripped dest (filter/filter.go:86) — the
    * s_dest_acks route matches exclusively via the dest side. */
  def evtRouteMeta(s: SparkSession, d: String): DataFrame =
    graft.operators.Routing.fanoutWithDevice(Tables.events(s, d), metaRoutes(s),
        col("event_type"), device(col("user_id")), destCol)
      .groupBy("stream")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))

  /** #9 Deterministic batch assignment (internal/queue/queue.go:144-216,
    * batch by size limit): row_number per (stream, day) ÷ batch size.
    * Windowing by stream alone would funnel each stream's entire history
    * through one reducer; the day sub-key bounds every window partition
    * while keeping assignment deterministic (the reference's queue is
    * per-stream sequential, so any deterministic refinement is faithful). */
  def evtBatch(s: SparkSession, d: String): DataFrame =
    graft.operators.Batching.assign(
        Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        col("event_type"), col("day"), col("event_id"), 100)
      .groupBy(col("event_type").as("stream"), to_date(col("day")).as("day"),
        col("batch_id"))
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"), max("event_id").as("last_event"))

  /** #9b Time-OR-size batch flush (queue.go:144-216: the BatchSize
    * check in processItems AND the BatchTimeLimitSeconds ticker): a
    * batch closes when it fills OR when the gap to the next arrival
    * exceeds the time limit — the ticker fires while the stream idles,
    * so a quiet period always flushes the partial batch and resets the
    * size count. (A deterministic approximation of the free-running
    * ticker — see the fidelity note on
    * [[graft.operators.Batching.assignTimeOrSize]].)
    * Per-batch rollup with the close reason: a batch at
    * exactly batch_size closed by size (processItems flushes
    * immediately, before any ticker), anything smaller was flushed by
    * time (the day tail behaves as a final ticker flush). Streaming
    * twin: the one queue replay [[graft.streaming.EventStream.batchFlush]]
    * under [[graft.streaming.GapClose]] (BatchFlushParitySpec). */
  def evtBatchTime(s: SparkSession, d: String): DataFrame =
    graft.operators.Batching.assignTimeOrSize(
        Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        col("event_type"), col("day"), col("ts"), col("event_id"),
        batchSize = 10, timeLimitSec = 1800)
      .groupBy(col("event_type").as("stream"), to_date(col("day")).as("day"),
        col("batch_id"))
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"), max("event_id").as("last_event"),
        (max("sec") - min("sec")).as("span_sec"))
      .withColumn("closed_by",
        when(col("n_events") === 10, "size").otherwise("time"))

  /** Histogram bucket ladder shared by [[evtQueueLatency]] and its
    * generated oracle — the reference's declared histogram bounds
    * (internal/metrics/fx.go:72), read here in seconds for the
    * incoming_queue_latency_histogram_seconds twin
    * (internal/event/metrics.go:29). */
  private[graft] val latencyBounds: Seq[Long] =
    Seq(10L, 100L, 1000L, 5000L, 10000L, 100000L, 500000L, 1000000L, 2000000L)

  /** #27c Incoming-queue latency histogram
    * (internal/event/metrics.go:29 IncomingQueueLatencyHistogram,
    * bucket ladder internal/metrics/fx.go:72): per-event queue latency
    * = batch-close time − arrival time under the deterministic
    * time-OR-size replay ([[evtBatchTime]]'s model — close time is the
    * batch's last arrival, a deterministic lower bound of the wall
    * flush instant). Emitted prometheus-style: per stream, cumulative
    * count per `le` bound, "+Inf" = observation count, "sum" = total
    * latency seconds. Plan: the close-time window refines
    * assignTimeOrSize's (stream, day) keys with batch_id, so all FOUR
    * windows and this max ride ONE hash exchange (the subset rule —
    * PlanAuditSpec's cascade pin); the bucket counts are conditional
    * sums (map-side partial), never a rank or explode of the fact
    * table. Streaming twin: [[graft.streaming.EventStream.queueLatency]]
    * over the one queue replay [[graft.streaming.EventStream.batchFlush]]
    * under [[graft.streaming.GapClose]] (QueueLatencyParitySpec). */
  def evtQueueLatency(s: SparkSession, d: String): DataFrame = {
    val wb = Window.partitionBy(col("event_type"), col("day"), col("batch_id"))
    val lat = graft.operators.Batching.assignTimeOrSize(
        Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        col("event_type"), col("day"), col("ts"), col("event_id"),
        batchSize = 10, timeLimitSec = 1800)
      .withColumn("latency_s", max("sec").over(wb) - col("sec"))
    latencyMelt(lat)
  }

  /** Shared prometheus-style melt for the latency-histogram family:
    * per stream, cumulative count per `le` bound, "+Inf" = observation
    * count, "sum" = total latency seconds. Conditional sums (map-side
    * partial) over a frame carrying (event_type, latency_s). */
  private def latencyMelt(lat: DataFrame): DataFrame = {
    val aggs = latencyBounds.map(b =>
      sum(when(col("latency_s") <= b, 1L).otherwise(0L)).as(s"le_$b")) ++
      Seq(count(lit(1)).as("le_inf"), sum("latency_s").as("lat_sum"))
    val wide = lat.groupBy(col("event_type").as("stream"))
      .agg(aggs.head, aggs.tail: _*)
    wide.select(col("stream"), explode(map(
      (latencyBounds.flatMap(b => Seq(lit(b.toString), col(s"le_$b"))) ++
        Seq(lit("+Inf"), col("le_inf"), lit("sum"), col("lat_sum"))): _*))
      .as(Seq("le", "n")))
  }

  /** #27c' Queue-latency histogram under the EXACT ticker model
    * ([[evtBatchPeriodic]]'s replay): a size-closed batch flushes at
    * its filling arrival, a tick-closed batch at its window-end tick —
    * the TRUE flush instant, where the gap model's last-arrival close
    * time is only a lower bound (a partial batch sits in the queue
    * until the ticker fires, and the histogram is supposed to see that
    * wait). Same ladder/melt as [[evtQueueLatency]]; the per-batch
    * count and max windows refine assignPeriodic's keys, so the whole
    * cascade still rides ONE hash exchange. Streaming twin:
    * [[graft.streaming.EventStream.queueLatency]] over the one queue
    * replay [[graft.streaming.EventStream.batchFlush]] under
    * [[graft.streaming.TickClose]] (QueueLatencyParitySpec). */
  def evtQueueLatencyPeriodic(s: SparkSession, d: String): DataFrame = {
    val wb = Window.partitionBy(col("event_type"), col("day"), col("batch_id"))
    val lat = graft.operators.Batching.assignPeriodic(
        Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        col("event_type"), col("day"), col("ts"), col("event_id"),
        batchSize = 5, tickSec = 7200)
      .withColumn("__n", count(lit(1)).over(wb))
      .withColumn("close_s",
        when(col("__n") === 5, max("sec").over(wb))
          .otherwise(col("tick_close_s")))
      .withColumn("latency_s", col("close_s") - col("sec"))
    latencyMelt(lat)
  }

  /** #9c SubmitOnEmptyQueue (queue.go:209-216): the submit-early knob
    * flushes the pending batch whenever the arrival queue drains — in
    * the deterministic replay (instantaneous processing) the queue is
    * empty exactly when the next arrival is strictly later, so ANY
    * positive gap closes the batch: [[evtBatchTime]]'s operator with
    * the gap limit at zero. Same-second arrivals (gap 0 under epoch
    * truncation) still accumulate to batch_size; everything else
    * drains as an idle flush — which is precisely the knob's
    * production behavior (it trades batch fill for latency whenever
    * arrivals are slower than the consumer). */
  def evtBatchIdle(s: SparkSession, d: String): DataFrame =
    graft.operators.Batching.assignTimeOrSize(
        Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        col("event_type"), col("day"), col("ts"), col("event_id"),
        batchSize = 10, timeLimitSec = 0)
      .groupBy(col("event_type").as("stream"), to_date(col("day")).as("day"),
        col("batch_id"))
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"), max("event_id").as("last_event"))
      .withColumn("closed_by",
        when(col("n_events") === 10, "size").otherwise("idle_drain"))

  /** #9d EXACT periodic-ticker flush (queue.go:155-173): the
    * free-running BatchTimeLimitSeconds ticker modeled faithfully —
    * ticks at first-arrival + k·7200 per (stream, day), a batch closes
    * on size (n = 5, at its last event) or at its tick-window end
    * ([[graft.operators.Batching.assignPeriodic]]). This is the model
    * whose steady-trickle regime the gap-based [[evtBatchTime]]
    * deliberately approximates (fidelity note there): under one event
    * per sub-limit gap the ticker emits short batches every tick, and
    * so does this query. Rollup per batch with the close reason and
    * close second (size → last arrival, tick → window end). Streaming
    * twin: the one queue replay [[graft.streaming.EventStream.batchFlush]]
    * under [[graft.streaming.TickClose]] (BatchFlushParitySpec). */
  def evtBatchPeriodic(s: SparkSession, d: String): DataFrame =
    graft.operators.Batching.assignPeriodic(
        Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        col("event_type"), col("day"), col("ts"), col("event_id"),
        batchSize = 5, tickSec = 7200)
      .groupBy(col("event_type").as("stream"), to_date(col("day")).as("day"),
        col("batch_id"))
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"), max("event_id").as("last_event"),
        max("sec").as("last_s"), max("tick_close_s").as("tick_s"))
      .withColumn("closed_by",
        when(col("n_events") === 5, "size").otherwise("tick"))
      .withColumn("close_s",
        when(col("closed_by") === "size", col("last_s"))
          .otherwise(col("tick_s")))
      .drop("last_s", "tick_s")

  /** #10 Bounded-queue drop-on-overflow accounting (queue.go:135-142,
    * DroppedItems metric): capacity per stream per hour; arrival rank
    * beyond capacity ⇒ dropped, counted by stream. */
  def evtDropped(s: SparkSession, d: String): DataFrame =
    // arrival ranks > capacity over an hour's n arrivals drop exactly
    // max(n − 5, 0) and deliver min(n, 5): two count aggregations
    // (map-side partial both times), no rank sort
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sum(greatest(col("n") - 5L, lit(0L))).as("n_dropped"),
        sum(least(col("n"), lit(5L))).as("n_delivered"))

  /** #11 Partition-key assignment (kinesis_sender.go:100 — partition key
    * = session/device id): deterministic shard + per-shard skew check. */
  def evtShard(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("shard", pmod(col("user_id"), lit(8)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))

  /** #12 Delivery failover accounting (filter/stream_dispatcher.go:60-105:
    * primary → alt streams in order) WITH retry accounting
    * (filter/filter.go:30 deliveryRetries; internal/kinesis retry loop):
    * a deterministic failure predicate stands in for the transport error.
    * Events that exhaust all 3 retries (%10) fail over to the alt stream;
    * %7 / %3 events succeed after 2 / 1 transient retries. Per-stream
    * output carries total/max retries and the failed-over count — the
    * reference's deliveryRetries dimension. */
  def evtFailover(s: SparkSession, d: String): DataFrame = {
    val failedOver = Synthetics.failedOver
    Tables.events(s, d)
      .withColumn("delivered_to",
        when(!failedOver, col("event_type"))
          .otherwise(concat(col("event_type"), lit("_alt"))))
      .withColumn("retries", Synthetics.retryCount)
      .groupBy("delivered_to")
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"),
        sum("retries").as("total_retries"), max("retries").as("max_retries"),
        sum(when(failedOver, 1L).otherwise(0L)).as("n_failed_over"))
  }

  /** #12b Delivery-drop reason ladder (filter/stream_dispatcher.go:66-71:
    * all streams failed → DroppedMessage; filter/metrics.go:22;
    * vocabulary internal/event/metrics.go:47-63): a failed-over event
    * whose alt-stream attempt also fails is terminally dropped, and the
    * transport error classifies into one of the 13 reason labels —
    * [[Synthetics.deliveryDropped]] / [[Synthetics.dropReason]]'s
    * deterministic ladder. Per-(stream, code, reason) counters with the
    * reference's `message_dropped` code label; the drop total also
    * feeds evt_counters' dropped_message_count row. Plan: filter →
    * single partial-agg shuffle of (stream, reason) counts — no rank,
    * no second scan. */
  def evtDeliveryDrops(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(Synthetics.deliveryDropped)
      .groupBy(concat(col("event_type"), lit("_alt")).as("stream"),
        Synthetics.dropReason.as("reason"))
      .agg(count(lit(1)).as("n_dropped"))
      .withColumn("code", lit("message_dropped"))

  /** #13 Old/future event detection (internal/metrics/tags.go:
    * OldEventReceived / FutureEventReceived). */
  def evtOldFuture(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("age_class",
        when(col("ts") < lit("2024-01-05").cast("timestamp"), "old")
          .when(col("ts") > lit("2024-01-25").cast("timestamp"), "future")
          .otherwise("ok"))
      .groupBy("event_type", "age_class").agg(count(lit(1)).as("n"))

  /** #14 Throttle detection (tags.go: EventThrottled): events per user per
    * tumbling hour; hours over threshold flagged. One shuffle on user_id. */
  def evtThrottle(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_in_hour"))
      .groupBy("user_id")
      .agg(sum(when(col("n_in_hour") >= 2, 1L).otherwise(0L)).as("n_throttled_hours"),
        max("n_in_hour").as("max_in_hour"))
      .filter(col("n_throttled_hours") >= 1)

  /** Per-user gap-based session id: lag + cumulative sum over ONE user_id
    * shuffle; both session queries share the shape. Session boundary =
    * gap > 30 min (online/offline semantics, tags.go). */
  private def sessions(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize.gapSessions(
      Tables.events(s, d).select("user_id", "event_id", "ts"),
      col("user_id"), col("ts"), col("event_id"), 1800)

  /** #15a Sessionization: one row per (user, session) with bounds. */
  def evtSessionize(s: SparkSession, d: String): DataFrame =
    sessions(s, d)
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        (max("sec") - min("sec")).as("dur_s"))

  /** #15b Session stats per user (avg/max duration, exact division). */
  def evtSessionStats(s: SparkSession, d: String): DataFrame =
    evtSessionize(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("dur_s").as("total_dur_s"),
        max("dur_s").as("max_dur_s"),
        (sum("dur_s").cast("double") / count(lit(1))).as("avg_dur_s"))

  /** #16 Duplicate-delivery suppression (delivery-retry semantics):
    * keep-first per dedup key via row_number=1. At 100 TB the shuffle key
    * is the (small) dedup key, never the payload. */
  def evtDedup(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.keepFirst(
        Tables.events(s, d).withColumn("dup_key", pmod(col("event_id"), lit(4000))),
        Seq(col("dup_key")), col("event_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), Exact.dsum(col("value")).as("sum_value"))

  /** #17 Per-type top-k heavy hitters (event/metrics.go slow-consumer
    * style): two-level aggregate then rank ≤ k. */
  def evtTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("user_id").asc)
    Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  /** Tiny config-version dimension for the as-of join: version vN became
    * active at 2024-01-01 + 6N days. Driver-side literal — the 100 TB
    * shape is a broadcast dim of KBs. */
  private def configVersions(s: SparkSession): DataFrame = {
    import s.implicits._
    val starts = (0 until 5).map(v => (s"v$v", s"2024-01-%02d 00:00:00".format(1 + 6 * v)))
    // precompute [start, end) on the driver: an as-of join against a
    // small sorted dim is an interval join — each event matches exactly
    // one version, so the broadcast join is map-side with no dedup pass
    val intervals = starts.zipAll(starts.drop(1).map(_._2), ("", ""), "2099-01-01 00:00:00")
      .map { case ((v, st), en) => (v, st, en) }
    intervals.toDF("cfg_version", "active_from", "active_to")
      .select(col("cfg_version"),
        col("active_from").cast("timestamp").as("active_from"),
        col("active_to").cast("timestamp").as("active_to"))
  }

  /** #23 As-of join: each event picks the config version active at its
    * timestamp. Re-expressed as a broadcast INTERVAL join ([from, to)
    * precomputed on the tiny sorted dim) — exactly one match per event,
    * so the plan is a map-side broadcast join with no window/dedup, at
    * any scale. */
  def evtAsof(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .join(broadcast(configVersions(s)),
        col("ts") >= col("active_from") && col("ts") < col("active_to"))
      .groupBy("cfg_version")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))

  /** #18f As-of join with a LARGE right side: each event picks the
    * latest signup "state change" of its user at or before its time via
    * the custom sort-merge AsOfJoinExec (graft.plans) — both sides
    * hash-cluster and sort like an equi SMJ, no broadcast, no window.
    * Oracle: DuckDB's native ASOF JOIN. Requires the GraftExtensions
    * planner strategy (Verify/Bench sessions install it). */
  def evtAsofBig(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val left = ev.select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("etime"))
    val states = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("s_user_id"),
        unix_timestamp(col("ts")).as("stime"))
      .agg(max("event_id").as("version"))
    graft.plans.AsOfJoin.join(left, states,
      "user_id", "etime", "s_user_id", "stime")
      .select(col("event_id"), col("user_id"),
        coalesce(col("version"), lit(-1L)).as("version"))
  }

  /** #15c Sessionization via the built-in session_window — same gap
    * semantics as the manual lag+cumsum shape (the oracle IS the manual
    * formulation, proving the two agree). */
  def evtSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("w.start")).as("start_s"),
        col("n_events"))

  /** #17b Per-type top-k via the custom bounded TopKLongs aggregate:
    * same result as the window formulation (shared oracle), but only
    * k-row buffers shuffle in the final aggregate instead of every
    * (type, user) row through a sort. */
  def evtTopkAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(graft.functions.TopKLongs.column(col("n"), col("user_id"), 3).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("event_type"), col("t.payload").as("user_id"),
        col("t.score").as("n"), (col("pos") + 1).cast("int").as("rnk"))

  /** Approximate distinct-user sketch per event type (HLL++): the
    * mergeable-sketch path for 100 TB cardinality metrics. Rows-only —
    * DuckDB's approx_count_distinct uses a different sketch; exactness
    * is covered by the error-bound ScalaTest spec instead. */
  def evtApproxUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))

  /** #13b Dest sub-type classification (tags.go: EventOnlineReceived /
    * EventOfflineReceived / EventOperationalReceived /
    * EventManageableReceived / EventPendingRebootReceived /
    * EventUknownDestTypeReceived): the dest's second path segment is the
    * device state class; anything outside the known set counts as
    * unknown_dest_type. */
  def evtDestClass(s: SparkSession, d: String): DataFrame = {
    val subtype = Synthetics.destSubtype
    val dest = concat(lit("event:"), col("event_type"), lit("/"), subtype,
      lit("/"), col("event_id").cast("string"))
    val extracted = regexp_extract(dest, "^event:[^/]+/([^/]+)/", 1)
    Tables.events(s, d)
      .select(
        when(extracted.isin("online", "offline", "operational",
          "manageable", "pending-reboot"), extracted)
          .otherwise("unknown_dest_type").as("dest_class"))
      .groupBy("dest_class").agg(count(lit(1)).as("n"))
  }

  /** #13c Connection-interface accounting (tags.go:
    * ConnectionInterfaceReceived / OtherConnectionInterfaceReceived /
    * UnknownConnectionInterfaceReceived): known interfaces count as
    * ci_received, off-list ones as other_ci, absent as unknown_ci. */
  def evtInterface(s: SparkSession, d: String): DataFrame = {
    val iface = Synthetics.interfaceUsed
    Tables.events(s, d)
      .select(iface.as("iface"),
        when(iface.isNull, "unknown_ci")
          .when(iface.isin("wifi", "ethernet", "moca"), "ci_received")
          .otherwise("other_ci").as("ci_class"))
      .groupBy("ci_class", "iface").agg(count(lit(1)).as("n"))
  }

  /** #13d Boot-time parsing + uptime stats (tags.go: BootTimeParseError;
    * the surrounding system derives uptime from a boot-time metadata
    * field): a boot timestamp string is synthesized (malformed on a
    * deterministic subset), parsed with try_to_timestamp (NULL on
    * failure — the reference's parse-error counter), and uptime
    * aggregates run over the parsed rows only. */
  def evtBootTime(s: SparkSession, d: String): DataFrame = {
    val sec = unix_timestamp(col("ts"))
    val bootSec = sec - floor(col("value") * 60).cast(LongType)
    val bootStr = when(pmod(col("event_id"), lit(31)) === 0, "not-a-time")
      .otherwise(date_format(timestamp_seconds(bootSec), "yyyy-MM-dd HH:mm:ss"))
    val parsed = try_to_timestamp(bootStr, lit("yyyy-MM-dd HH:mm:ss"))
    Tables.events(s, d)
      .select(col("event_type"), sec.as("sec"), parsed.as("boot"),
        unix_timestamp(parsed).as("boot_sec"))
      .groupBy("event_type")
      .agg(
        sum(when(col("boot").isNull, 1L).otherwise(0L)).as("n_parse_err"),
        count(col("boot")).as("n_parsed"),
        sum(when(col("boot").isNotNull, col("sec") - col("boot_sec"))
          .otherwise(0L)).as("total_uptime_s"),
        (sum(when(col("boot").isNotNull, col("sec") - col("boot_sec"))
          .otherwise(0L)).cast("double") / count(col("boot")))
          .as("avg_uptime_s"))
  }

  /** Parse-error metric vocabulary (internal/metrics/tags.go:36-55):
    * CpeTimestampParseError / CpeMissingTimestampError /
    * DestTypeMissing / XmidtTimestampParseError / PayloadParseError /
    * XmidtPayloadTimestampParseError / EventInvalidSessionId /
    * NoSessionStartError, as per-type counters.
    * Each input (two timestamp strings, a payload JSON carrying its own
    * timestamp, a session JSON with id + optional start) is synthesized
    * with deterministic corruption; the counters are then derived from
    * ACTUAL parsing (try_to_timestamp NULL, get_json_object NULL, id
    * regex) while the oracle replays the corruption arithmetic — two
    * independent derivations that must agree. */
  def evtParseErrors(s: SparkSession, d: String): DataFrame = {
    val sec = unix_timestamp(col("ts"))
    val fmt = "yyyy-MM-dd HH:mm:ss"
    def tsStr(offset: Int): Column =
      date_format(timestamp_seconds(sec - offset), fmt)
    val cpeStr = when(pmod(col("event_id"), lit(31)) === 0, lit(null))
      .when(pmod(col("event_id"), lit(37)) === 0, lit("not-a-cpe-ts"))
      .otherwise(tsStr(5))
    val destType = when(pmod(col("event_id"), lit(71)) === 0, lit(null))
      .otherwise(lit("online"))
    val xmidtStr = when(pmod(col("event_id"), lit(41)) === 0, "not-a-xmidt-ts")
      .otherwise(tsStr(2))
    val payloadJson = when(pmod(col("event_id"), lit(43)) === 0, lit("{broken"))
      .otherwise(concat(lit("{\"ts\": \""),
        when(pmod(col("event_id"), lit(47)) === 0, lit("not-a-payload-ts"))
          .otherwise(tsStr(1)),
        lit("\"}")))
    val sessionId = when(pmod(col("event_id"), lit(53)) === 0, lit("not a session!"))
      .otherwise(substring(sha2(col("event_id").cast("string"), 256), 1, 16))
    val sessJson = concat(lit("{\"session_id\": \""), sessionId, lit("\""),
      when(pmod(col("event_id"), lit(59)) === 0, lit(""))
        .otherwise(concat(lit(", \"session_start\": "), (sec - 100).cast("string"))),
      lit("}"))
    val pts = get_json_object(payloadJson, "$.ts")
    Tables.events(s, d)
      .select(col("event_type"),
        cpeStr.isNull.as("cpe_missing"),
        (cpeStr.isNotNull && try_to_timestamp(cpeStr, lit(fmt)).isNull)
          .as("cpe_err"),
        destType.isNull.as("dest_type_missing"),
        try_to_timestamp(xmidtStr, lit(fmt)).isNull.as("xmidt_err"),
        pts.isNull.as("payload_err"),
        (pts.isNotNull && try_to_timestamp(pts, lit(fmt)).isNull).as("pts_err"),
        (!get_json_object(sessJson, "$.session_id").rlike("^[0-9a-f]{16}$"))
          .as("sid_err"),
        get_json_object(sessJson, "$.session_start").isNull.as("nostart_err"))
      .groupBy("event_type")
      .agg(
        sum(when(col("cpe_err"), 1L).otherwise(0L)).as("n_cpe_ts_err"),
        sum(when(col("cpe_missing"), 1L).otherwise(0L)).as("n_cpe_ts_missing"),
        sum(when(col("dest_type_missing"), 1L).otherwise(0L))
          .as("n_dest_type_missing"),
        sum(when(col("xmidt_err"), 1L).otherwise(0L)).as("n_xmidt_ts_err"),
        sum(when(col("payload_err"), 1L).otherwise(0L)).as("n_payload_parse_err"),
        sum(when(col("pts_err"), 1L).otherwise(0L)).as("n_payload_ts_err"),
        sum(when(col("sid_err"), 1L).otherwise(0L)).as("n_invalid_session_id"),
        sum(when(col("nostart_err"), 1L).otherwise(0L)).as("n_no_session_start"))
  }

  /** Device-id (mac) extraction errors (tags.go: EventNoMacFound /
    * EventInvalidMac): sources are synthesized with deterministic
    * corruption (non-mac scheme on %61, malformed mac on %67) and
    * classified by ACTUAL regex validation of the string — the oracle
    * replays the corruption arithmetic independently. */
  def evtMacErrors(s: SparkSession, d: String): DataFrame = {
    val source =
      when(pmod(col("event_id"), lit(61)) === 0,
        concat(lit("dns:host-"), col("event_id").cast("string")))
      .when(pmod(col("event_id"), lit(67)) === 0,
        concat(lit("mac:XYZ"), col("event_id").cast("string")))
      .otherwise(concat(lit("mac:"),
        lpad(lower(conv(col("user_id").cast("string"), 10, 16)), 12, "0")))
    Tables.events(s, d)
      .select(col("event_type"),
        when(!source.rlike("^mac:"), "no_mac_found")
          .when(!source.rlike("^mac:[0-9a-f]{12}$"), "invalid_mac")
          .otherwise("ok").as("mac_class"))
      .groupBy("event_type", "mac_class").agg(count(lit(1)).as("n"))
  }

  /** Approximate quantile sketch per event type (Greenwald-Khanna):
    * the mergeable path for latency-style percentiles at 100 TB.
    * Rows-only (the sketch family is Spark-internal); the exact
    * percentiles ride along as SCALAR columns so the error is visible —
    * array outputs are kept out of the driver's row-hash comparison. */
  def evtApproxQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)")
          .as("ap"),
        expr("percentile(value, array(0.5, 0.9, 0.99))").as("ep"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        element_at(col("ap"), 1).as("approx_p50"),
        element_at(col("ap"), 2).as("approx_p90"),
        element_at(col("ap"), 3).as("approx_p99"),
        element_at(col("ep"), 1).as("exact_p50"),
        element_at(col("ep"), 2).as("exact_p90"),
        element_at(col("ep"), 3).as("exact_p99"),
        col("n"))

  /** Exact per-type percentiles as the oracle-backed twin of the sketch
    * above: Spark percentile() is linear interpolation ≡ DuckDB
    * quantile_cont. Both sides round to 6 decimals — lossless for the
    * 2-decimal source values, and it NARROWS (not eliminates) the
    * 1-ulp divergence the engines' `a + (b-a)*f` interpolations
    * accumulate differently once a group holds ~200k rows (first seen
    * at sf1: 46.13 vs 46.13000000000001; sub-sf0.1 groups never hit
    * it). Residual risk: Spark rounds via BigDecimal HALF_UP while
    * DuckDB's round can land 1 ulp away, so an interpolated value
    * sitting EXACTLY on a 6th-decimal halfway boundary could still
    * split — reachable only if the interpolation lands on a
    * half-point at some future scale; a numeric-tolerance compare is
    * the fallback if it ever does. */
  def evtQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"),
        round(percentile(col("value"), lit(0.99)), 6).as("p99"),
        count(lit(1)).as("n"))

  /** #18 Payload/props field extraction (WRP metadata handling):
    * get_json_object on the props JSON. */
  def evtProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("value")).as("sum_value"))

  /** #23 ModifiedWRPCounter reason ladder (request_handler.go:148-163,
    * metrics.go:33-35 emptyContentTypeReason/emptyUUIDReason/
    * bothEmptyReason): fixWrp defaults the content type and the
    * transaction uuid, and the metric counts WHY each message was
    * modified, per reason label. Deterministic emptiness predicates
    * (%5 content type — wrp_fix's rule — and %3 uuid). Pure map-side
    * classify + a 4-row groupBy: codegen, one tiny shuffle. */
  def wrpModified(s: SparkSession, d: String): DataFrame = {
    val ctEmpty = Synthetics.emptyContentType
    val uuidEmpty = Synthetics.emptyUuid
    Tables.events(s, d)
      .select(
        when(ctEmpty && uuidEmpty, "empty_uuid_and_content_type")
          .when(ctEmpty, "empty_content_type")
          .when(uuidEmpty, "empty_uuid")
          .otherwise("not_modified").as("reason"))
      .groupBy("reason").agg(count(lit(1)).as("n"))
  }

  /** #24 Queue-depth gauge (metrics.go:18,21 IncomingQueueDepth /
    * OutgoingQueueDepth; queue.go:135-216 QueuedItems): depth over time
    * as the running sum of enqueues − dispatches. The queue model is
    * the reference's: arrivals in event_id order, a batch of 100
    * dispatches as soon as it fills (queue.go processItems), and the
    * BatchTimeLimit ticker flushes whatever remains at the hour bound —
    * so depth after the r-th arrival of an hour is ((r−1) mod 100)+1,
    * the closed form of the running sum. Per stream-hour: max/avg
    * depth (the gauge's envelope), arrivals, batches. ONE shuffle on
    * (stream, hour); window partitions are hour-bounded so no stream's
    * full history funnels through one reducer. */
  def evtQueueDepth(s: SparkSession, d: String): DataFrame =
    // depth after the r-th arrival is ((r−1) mod 100)+1 — a function of
    // the rank alone — so the hour's whole envelope is a closed form in
    // the arrival count n: no rank sort, one partial-agg shuffle (the
    // same arithmetic the streaming twin queueDepthGauge uses)
    Tables.events(s, d)
      .groupBy(col("event_type").as("stream"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("n_arrivals"))
      .withColumn("n_batches",
        ceil(col("n_arrivals") / lit(100.0)).cast(LongType))
      .withColumn("max_depth", least(col("n_arrivals"), lit(100L)))
      .withColumn("sum_depth", expr("(n_arrivals div 100) * 5050 + " +
        "(n_arrivals % 100) * (n_arrivals % 100 + 1) div 2"))
      .withColumn("avg_depth",
        col("sum_depth").cast("double") / col("n_arrivals"))

  /** #25 Slow-consumer accounting (metrics.go:16-17
    * SlowConsumerDroppedMsgCounter / SlowConsumerCounter): per stream,
    * messages dropped because the consumer lagged (arrival rank beyond
    * the per-hour capacity — evt_dropped's predicate), plus the
    * cut-off counter: a cut-off fires in an hour whose two PRECEDING
    * calendar hours also dropped (drops persisting 3 consecutive
    * hours ⇒ the consumer is cut off, the reference's slow-consumer
    * semantic). lag(2) over the stream's drop-hours in epoch-hour
    * space detects consecutiveness without a gaps-and-islands pass.
    * Reuses evt_dropped's (stream, hour) shuffle shape; the per-stream
    * hour sequence is tiny (thousands of rows per stream-year). */
  def evtSlowConsumer(s: SparkSession, d: String): DataFrame = {
    // arrival ranks > capacity over n arrivals drop exactly
    // max(n − 5, 0) messages: the hourly gauge is a pure count
    // aggregate (the streaming twin slowConsumerDrops' arithmetic),
    // no rank sort needed
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("he"))
      .agg(greatest(count(lit(1)) - 5L, lit(0L)).as("dropped"))
      .filter(col("dropped") > 0)
    val wh = Window.partitionBy(col("event_type")).orderBy(col("he"))
    hourly
      .withColumn("cutoff",
        when(lag(col("he"), 2).over(wh) === col("he") - lit(7200L), 1L)
          .otherwise(0L))
      .groupBy(col("event_type").as("stream"))
      .agg(sum("dropped").as("n_dropped"),
        count(lit(1)).as("n_drop_hours"),
        sum("cutoff").as("n_cutoffs"))
  }

  /** #26 Per-batch Kinesis delivery accounting (metrics/tags.go:56
    * kinesis_batch_failed_records; tags.go:24-25 KinesisBatchSent /
    * KinesisRecordSent; kinesis PutRecords returns per-record
    * failures within an accepted batch): over evt_batch's
    * deterministic batches, a record fails on the deterministic
    * transport stand-in (%23); per stream: batches/records sent,
    * failed records, partial batches (≥1 failure), worst batch.
    * Same single (stream, day) shuffle as evt_batch, then two-level
    * partial-agg rollup. */
  def evtKinesisBatches(s: SparkSession, d: String): DataFrame =
    graft.operators.Batching.assign(
        Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        col("event_type"), col("day"), col("event_id"), 100)
      .groupBy(col("event_type"), col("day"), col("batch_id"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(Synthetics.kinesisRecordFailed, 1L).otherwise(0L))
          .as("n_failed"))
      .groupBy(col("event_type").as("stream"))
      .agg(count(lit(1)).as("batches_sent"),
        sum("n_records").as("records_sent"),
        sum("n_failed").as("failed_records"),
        sum(when(col("n_failed") > 0, 1L).otherwise(0L)).as("partial_batches"),
        max("n_failed").as("max_failed_in_batch"))

  /** #27b tags.go straggler metrics (internal/metrics/tags.go:26
    * InterfaceUsedRead, :49 NoDisconnectPayload, :53 EventMergeError,
    * :71 EmptyHistory) — the last analytics-side metric names without a
    * query twin. interface_used_read re-reads #13c's connection-
    * interface props field: a read counts iff the interface actually
    * parses. A disconnect (#13b's offline sub-type) must carry a reason
    * payload; a deterministic subset (%17) arrives without one, and the
    * counter is derived from ACTUAL JSON parsing of the synthesized
    * payload while the oracle replays the corruption arithmetic.
    * error_merging_event (r13, same real-parse pattern): the offline
    * merge attempt's session payload fails an actual JSON parse —
    * [[Synthetics.mergeFailed]]; the full session-aware attempt
    * ladder is [[evtSessionMerge]].
    * empty_history is fully REAL: a merge-time read finds empty stored
    * history iff the event is its user's first in (ts, event_id) order
    * — row_number over the user partition, one extra window shuffle.
    * Per-type counters, ONE scan of the fact table. */
  def evtMergeErrors(s: SparkSession, d: String): DataFrame = {
    val wHist = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"),
        Synthetics.interfaceUsed.as("iface"),
        Synthetics.offlineEvent.as("offline"),
        Synthetics.disconnectReason.as("reason"))
      .withColumn("hist_rank", row_number().over(wHist))
      .groupBy("event_type")
      .agg(
        sum(when(col("iface").isNotNull, 1L).otherwise(0L))
          .as("interface_used_read"),
        sum(when(col("offline") && col("reason").isNull, 1L).otherwise(0L))
          .as("missing_disconnect_payload"),
        sum(when(Synthetics.mergeFailed, 1L).otherwise(0L))
          .as("error_merging_event"),
        sum(when(col("hist_rank") === 1, 1L).otherwise(0L))
          .as("empty_history"))
  }

  /** #27c Session-record assembly by online/offline merge
    * ([[graft.operators.Sessionize.mergeEvents]]; tags.go:53
    * EventMergeError, :57 NoSessionStartError): each offline event
    * merges with its user's most recent preceding online event; no
    * online in history → no_session_start, a REAL JSON parse failure
    * of either side's session payload → error_merging_event, else a
    * merged session record with its duration. Rolled up per status.
    * The corruption is synthesized ([[Synthetics.sessionPayload]]'s
    * %19 truncation, which the oracle replays arithmetically); the
    * parse, the history lookup, and the precedence ladder are real.
    * One user_id shuffle; the three ignore-nulls windows share it. */
  def evtSessionMerge(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize.mergeEvents(
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id")),
        col("user_id"), col("ts"), col("event_id"),
        Synthetics.destSubtype === "online", Synthetics.offlineEvent,
        Synthetics.sessionPayload)
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(coalesce(col("dur_s"), lit(0L))).as("total_dur_s"))

  /** #27 The metrics endpoint: one (metric, value) row per tags.go
    * event counter the reference's analytics reads, so every metric
    * name has a query twin (tags.go:8-29 + event/metrics.go ladder):
    * event_received/event_sent, not_an_event (dest outside the
    * "event:" scheme — deterministic %13 stand-in),
    * event_throttled/event_not_throttled (rank ≥ 2 within the
    * user-hour — evt_throttle's threshold at event grain),
    * kinesis_retry_scheduled (evt_failover's retry ladder),
    * kinesis_batch_sent/kinesis_record_sent (evt_batch's day-bucketed
    * batch model), old/future_event_received (evt_old_future's
    * bounds), modified_wrp_count (wrp_modified's predicates),
    * event_read_request/event_bad_request (tags.go:39-40 — the
    * pre-validation body-read failure and the four 400-reason classes
    * wrp_validate's ladder synthesizes, read-failure short-circuiting
    * first as in request_handler.go:90-131),
    * dropped_message_count (evt_delivery_drops' terminal-drop total,
    * filter/metrics.go:22), and
    * slow_consumer_dropped_message_count (evt_dropped's capacity).
    * ONE scan and ONE data shuffle (VERDICT r9 #6, then further): every
    * counter is a function of group COUNTS — throttled = n−1 per
    * user-hour, dropped = max(n−5, 0) per stream-hour, batches =
    * ceil(n/100) per stream-day — never of ranks, so the three window
    * SORTS the previous shape paid are unnecessary. A single GROUPING
    * SETS pass (Expand ×3 → map-side partial agg → one shuffle of
    * ~#groups rows) computes all three group-count families plus the
    * per-row predicate sums, and a global aggregate folds them into the
    * counters. The melt is map(literal…) + explode — no extra shuffle. */
  def evtCounters(s: SparkSession, d: String): DataFrame = {
    def melt(df: DataFrame): DataFrame =
      df.select(explode(map(df.columns.flatMap(c =>
        Seq(lit(c), col(c))): _*)).as(Seq("metric", "value")))
    val notAnEvent = Synthetics.notAnEvent
    val old = col("ts") < lit("2024-01-05").cast("timestamp")
    val future = col("ts") > lit("2024-01-25").cast("timestamp")
    val modified = Synthetics.emptyContentType || Synthetics.emptyUuid
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("hour"),
        date_trunc("day", col("ts")).as("day"),
        col("ts"))
    val grouped = ev.groupingSets(
        Seq(Seq(col("user_id"), col("hour")),
          Seq(col("event_type"), col("hour")),
          Seq(col("event_type"), col("day"))),
        col("user_id"), col("event_type"), col("hour"), col("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(notAnEvent, 1L).otherwise(0L)).as("n_nae"),
        sum(Synthetics.retryCount).as("n_retry"),
        sum(when(old, 1L).otherwise(0L)).as("n_old"),
        sum(when(future, 1L).otherwise(0L)).as("n_future"),
        sum(when(modified, 1L).otherwise(0L)).as("n_mod"),
        sum(when(Synthetics.readRequestError, 1L).otherwise(0L)).as("n_rre"),
        sum(when(Synthetics.badRequest, 1L).otherwise(0L)).as("n_bad"),
        sum(when(Synthetics.deliveryDropped, 1L).otherwise(0L)).as("n_drop"),
        // which grouping set this row belongs to: only one of the three
        // sets grounds user_id; only one grounds day
        when(grouping(col("user_id")) === 0, "uh")
          .when(grouping(col("day")) === 0, "td")
          .otherwise("th").as("gset"))
    val uh = col("gset") === "uh"
    val wide = grouped.agg(
      sum(when(uh, col("n"))).as("event_received"),
      sum(when(uh, col("n_nae"))).as("not_an_event"),
      sum(when(uh, col("n") - col("n_nae"))).as("event_sent"),
      sum(when(uh, col("n_retry"))).as("kinesis_retry_scheduled"),
      sum(when(uh, col("n_old"))).as("old_event_received"),
      sum(when(uh, col("n_future"))).as("future_event_received"),
      sum(when(uh, col("n_mod"))).as("modified_wrp_count"),
      sum(when(uh, col("n_rre"))).as("event_read_request"),
      sum(when(uh, col("n_bad"))).as("event_bad_request"),
      sum(when(uh, col("n_drop"))).as("dropped_message_count"),
      sum(when(uh, col("n") - 1L)).as("event_throttled"),
      sum(when(uh, 1L)).as("event_not_throttled"),
      sum(when(col("gset") === "th", greatest(col("n") - 5L, lit(0L))))
        .as("slow_consumer_dropped_message_count"),
      sum(when(col("gset") === "td",
        ceil(col("n") / lit(100.0)).cast(LongType))).as("kinesis_batch_sent"),
      sum(when(col("gset") === "td", col("n"))).as("kinesis_record_sent"))
    melt(wide)
  }

  /** evt_queue_latency oracle — generated from [[latencyBounds]] so
    * the ladder cannot drift from the Spark twin; the batch CTE is
    * evt_batch_time's replay verbatim. */
  /** evt_queue_latency_periodic oracle — the evt_batch_periodic replay
    * plus the exact close instant (size → filling arrival, tick →
    * window end); ladder generated from [[latencyBounds]]. */
  private val queueLatencyPeriodicOracle: String = {
    val condSums = latencyBounds.map(b =>
      s"CAST(SUM(CASE WHEN l <= $b THEN 1 ELSE 0 END) AS BIGINT) AS le_$b")
      .mkString(",\n    ")
    val unions = (latencyBounds.map(b =>
      s"SELECT stream, '$b' AS le, le_$b AS n FROM agg") ++ Seq(
      "SELECT stream, '+Inf' AS le, le_inf AS n FROM agg",
      "SELECT stream, 'sum' AS le, lat_sum AS n FROM agg"))
      .mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT event_type AS stream, date_trunc('day', ts) AS day, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |t AS (
       |  SELECT *, MIN(sec) OVER (PARTITION BY stream, day) AS t0
       |  FROM e),
       |w AS (
       |  SELECT *, CAST(floor((sec - t0) / 7200) AS BIGINT) AS tick
       |  FROM t),
       |b AS (
       |  SELECT *, CAST(floor((ROW_NUMBER() OVER (PARTITION BY stream, day, tick
       |      ORDER BY event_id) - 1) / 5) AS BIGINT) AS sub
       |  FROM w),
       |r AS (
       |  SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY stream, day
       |      ORDER BY tick, sub) AS BIGINT) AS batch_id
       |  FROM b),
       |lat AS (
       |  SELECT stream,
       |    (CASE WHEN COUNT(*) OVER pb = 5 THEN MAX(sec) OVER pb
       |          ELSE t0 + (tick + 1) * 7200 END) - sec AS l
       |  FROM r
       |  WINDOW pb AS (PARTITION BY stream, day, batch_id)),
       |agg AS (
       |  SELECT stream,
       |    $condSums,
       |    CAST(COUNT(*) AS BIGINT) AS le_inf,
       |    CAST(SUM(l) AS BIGINT) AS lat_sum
       |  FROM lat GROUP BY 1)
       |$unions""".stripMargin
  }

  private val queueLatencyOracle: String = {
    val condSums = latencyBounds.map(b =>
      s"CAST(SUM(CASE WHEN l <= $b THEN 1 ELSE 0 END) AS BIGINT) AS le_$b")
      .mkString(",\n    ")
    val unions = (latencyBounds.map(b =>
      s"SELECT stream, '$b' AS le, le_$b AS n FROM agg") ++ Seq(
      "SELECT stream, '+Inf' AS le, le_inf AS n FROM agg",
      "SELECT stream, 'sum' AS le, lat_sum AS n FROM agg"))
      .mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT event_type AS stream, date_trunc('day', ts) AS day, event_id,
       |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
       |  FROM events),
       |g AS (
       |  SELECT *, sec - lag(sec) OVER (PARTITION BY stream, day
       |    ORDER BY event_id) AS gap
       |  FROM e),
       |s AS (
       |  SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY stream, day ORDER BY event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM g),
       |b AS (
       |  SELECT *, CAST(floor((ROW_NUMBER() OVER (PARTITION BY stream, day, sess
       |      ORDER BY event_id) - 1) / 10) AS BIGINT) AS sub
       |  FROM s),
       |r AS (
       |  SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY stream, day
       |      ORDER BY sess, sub) AS BIGINT) AS batch_id
       |  FROM b),
       |lat AS (
       |  SELECT stream, MAX(sec) OVER (PARTITION BY stream, day, batch_id)
       |    - sec AS l
       |  FROM r),
       |agg AS (
       |  SELECT stream,
       |    $condSums,
       |    CAST(COUNT(*) AS BIGINT) AS le_inf,
       |    CAST(SUM(l) AS BIGINT) AS lat_sum
       |  FROM lat GROUP BY 1)
       |$unions""".stripMargin
  }

  /** evt_delivery_drops oracle — the reason CASE is generated from
    * [[Synthetics.dropReasons]] so the vocabulary cannot drift. */
  private val deliveryDropsOracle: String = {
    val cases = Synthetics.dropReasons.zipWithIndex
      .map { case (r, i) => s"WHEN $i THEN '$r'" }.mkString("\n    ")
    s"""SELECT event_type || '_alt' AS stream,
       |  CASE (event_id // 30) % ${Synthetics.dropReasons.length}
       |    $cases
       |  END AS reason,
       |  'message_dropped' AS code,
       |  COUNT(*) AS n_dropped
       |FROM events WHERE event_id % 30 = 0
       |GROUP BY 1, 2, 3""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wrp_parse" -> (wrpParse _),
    "wrp_validate" -> (wrpValidate _),
    "wrp_fix" -> (wrpFix _),
    "wrp_event_type" -> (wrpEventType _),
    "wrp_device_id" -> (wrpDeviceId _),
    "evt_type_counts" -> (evtTypeCounts _),
    "evt_route" -> (evtRoute _),
    "evt_route_meta" -> (evtRouteMeta _),
    "evt_batch" -> (evtBatch _),
    "evt_batch_time" -> (evtBatchTime _),
    "evt_batch_idle" -> (evtBatchIdle _),
    "evt_batch_periodic" -> (evtBatchPeriodic _),
    "evt_queue_latency_periodic" -> (evtQueueLatencyPeriodic _),
    "evt_queue_latency" -> (evtQueueLatency _),
    "evt_dropped" -> (evtDropped _),
    "evt_shard" -> (evtShard _),
    "evt_failover" -> (evtFailover _),
    "evt_delivery_drops" -> (evtDeliveryDrops _),
    "evt_session_merge" -> (evtSessionMerge _),
    "evt_old_future" -> (evtOldFuture _),
    "evt_dest_class" -> (evtDestClass _),
    "evt_interface" -> (evtInterface _),
    "evt_boot_time" -> (evtBootTime _),
    "evt_throttle" -> (evtThrottle _),
    "evt_sessionize" -> (evtSessionize _),
    "evt_session_stats" -> (evtSessionStats _),
    "evt_asof" -> (evtAsof _),
    "evt_asof_big" -> (evtAsofBig _),
    "evt_session_window" -> (evtSessionWindow _),
    "evt_dedup" -> (evtDedup _),
    "evt_topk" -> (evtTopk _),
    "evt_topk_agg" -> (evtTopkAgg _),
    "evt_approx_users" -> (evtApproxUsers _),
    "evt_approx_quantiles" -> (evtApproxQuantiles _),
    "evt_quantiles" -> (evtQuantiles _),
    "evt_parse_errors" -> (evtParseErrors _),
    "evt_mac_errors" -> (evtMacErrors _),
    "evt_props" -> (evtProps _),
    "wrp_modified" -> (wrpModified _),
    "evt_queue_depth" -> (evtQueueDepth _),
    "evt_slow_consumer" -> (evtSlowConsumer _),
    "evt_kinesis_batches" -> (evtKinesisBatches _),
    "evt_counters" -> (evtCounters _),
    "evt_merge_errors" -> (evtMergeErrors _))

  /** DuckDB-dialect twins. Shared-subset discipline: RE2∩Java regex only,
    * epoch seconds via floor(epoch()) ≡ Spark unix_timestamp, ordering by
    * event_id (never raw ns timestamps), decimal-exact money sums. */
  val oracles: Map[String, String] = Map(
    "wrp_parse" ->
      """SELECT event_id, 4 AS msg_type,
        |  'mac:' || lpad(CAST(user_id AS VARCHAR), 12, '0') AS source,
        |  'event:' || event_type || '/' || CAST(event_id AS VARCHAR) AS dest
        |FROM events""".stripMargin,
    "wrp_validate" ->
      """SELECT CASE WHEN event_id % 101 = 0 THEN 'empty_payload'
        |            WHEN event_id % 89 = 0 THEN 'invalid_format'
        |            WHEN event_id % 97 = 0 THEN 'invalid_msg_type'
        |            WHEN event_id % 79 = 0 THEN 'invalid_utf8'
        |            ELSE 'valid' END AS reject_reason, COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "wrp_fix" ->
      """SELECT COALESCE(CASE WHEN event_id % 5 = 0 THEN NULL
        |                     ELSE 'application/json' END,
        |                'application/msgpack') AS content_type,
        |  COUNT(*) AS n,
        |  COUNT(DISTINCT substring(sha256(CAST(event_id AS VARCHAR) || ':' ||
        |    CAST(user_id AS VARCHAR)), 1, 32)) AS n_uuids
        |FROM events GROUP BY 1""".stripMargin,
    "wrp_event_type" ->
      """SELECT regexp_extract('event:' || event_type || '/' ||
        |    CAST(event_id AS VARCHAR), 'event:([^/]+)', 1) AS evt,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "wrp_device_id" ->
      """SELECT event_type,
        |  COUNT(DISTINCT regexp_extract('mac:' || lpad(CAST(user_id AS VARCHAR), 12, '0'),
        |    'mac:([0-9]+)', 1)) AS n_devices
        |FROM events GROUP BY 1""".stripMargin,
    "evt_type_counts" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "evt_route" ->
      """SELECT r.stream, COUNT(*) AS n, COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e CROSS JOIN (VALUES
        |  ('s_clicks', '^(click|view)$'),
        |  ('s_commerce', '^(purchase|signup)$'),
        |  ('s_errors', 'error'),
        |  ('s_firehose', '.*')) AS r(stream, event_regex)
        |WHERE regexp_matches(e.event_type, r.event_regex)
        |GROUP BY 1""".stripMargin,
    "evt_route_meta" ->
      """SELECT r.stream, COUNT(*) AS n, COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e CROSS JOIN (VALUES
        |  ('s_clicks', '^(click|view)$', ''),
        |  ('s_commerce', '^(purchase|signup)$', '.*'),
        |  ('s_errors', 'error', '^mac:0000000000[0-4][0-9]$'),
        |  ('s_dest_acks', '.*', '^error/[0-9]*[05]$'),
        |  ('s_firehose', '.*', '')) AS r(stream, event_regex, device_regex)
        |WHERE regexp_matches(e.event_type, r.event_regex)
        |  AND (r.device_regex = '' OR r.device_regex = '.*'
        |       OR regexp_matches('mac:' || lpad(CAST(e.user_id AS VARCHAR), 12, '0'),
        |                         r.device_regex)
        |       OR regexp_matches(regexp_replace('event:' || e.event_type || '/' ||
        |            CAST(e.event_id AS VARCHAR), '^event:', ''),
        |          r.device_regex))
        |GROUP BY 1""".stripMargin,
    "evt_batch" ->
      """SELECT stream, day, batch_id, COUNT(*) AS n_events,
        |  MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM (
        |  SELECT event_type AS stream, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    event_id,
        |    CAST(floor((ROW_NUMBER() OVER (
        |      PARTITION BY event_type, date_trunc('day', ts)
        |      ORDER BY event_id) - 1) / 100) AS BIGINT) AS batch_id
        |  FROM events) t
        |GROUP BY 1, 2, 3""".stripMargin,
    "evt_batch_time" ->
      """WITH e AS (
        |  SELECT event_type AS stream, date_trunc('day', ts) AS day, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |g AS (
        |  SELECT *, sec - lag(sec) OVER (PARTITION BY stream, day
        |    ORDER BY event_id) AS gap
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY stream, day ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g),
        |b AS (
        |  SELECT *, CAST(floor((ROW_NUMBER() OVER (PARTITION BY stream, day, sess
        |      ORDER BY event_id) - 1) / 10) AS BIGINT) AS sub
        |  FROM s),
        |r AS (
        |  SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY stream, day
        |      ORDER BY sess, sub) AS BIGINT) AS batch_id
        |  FROM b)
        |SELECT stream, CAST(day AS DATE) AS day, batch_id, COUNT(*) AS n_events,
        |  MIN(event_id) AS first_event, MAX(event_id) AS last_event,
        |  MAX(sec) - MIN(sec) AS span_sec,
        |  CASE WHEN COUNT(*) = 10 THEN 'size' ELSE 'time' END AS closed_by
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    "evt_batch_idle" ->
      """WITH e AS (
        |  SELECT event_type AS stream, date_trunc('day', ts) AS day, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |g AS (
        |  SELECT *, sec - lag(sec) OVER (PARTITION BY stream, day
        |    ORDER BY event_id) AS gap
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(CASE WHEN gap IS NULL OR gap > 0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY stream, day ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g),
        |b AS (
        |  SELECT *, CAST(floor((ROW_NUMBER() OVER (PARTITION BY stream, day, sess
        |      ORDER BY event_id) - 1) / 10) AS BIGINT) AS sub
        |  FROM s),
        |r AS (
        |  SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY stream, day
        |      ORDER BY sess, sub) AS BIGINT) AS batch_id
        |  FROM b)
        |SELECT stream, CAST(day AS DATE) AS day, batch_id, COUNT(*) AS n_events,
        |  MIN(event_id) AS first_event, MAX(event_id) AS last_event,
        |  CASE WHEN COUNT(*) = 10 THEN 'size' ELSE 'idle_drain' END AS closed_by
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    "evt_batch_periodic" ->
      """WITH e AS (
        |  SELECT event_type AS stream, date_trunc('day', ts) AS day, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |t AS (
        |  SELECT *, MIN(sec) OVER (PARTITION BY stream, day) AS t0
        |  FROM e),
        |w AS (
        |  SELECT *, CAST(floor((sec - t0) / 7200) AS BIGINT) AS tick
        |  FROM t),
        |b AS (
        |  SELECT *, CAST(floor((ROW_NUMBER() OVER (PARTITION BY stream, day, tick
        |      ORDER BY event_id) - 1) / 5) AS BIGINT) AS sub
        |  FROM w),
        |r AS (
        |  SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY stream, day
        |      ORDER BY tick, sub) AS BIGINT) AS batch_id
        |  FROM b)
        |SELECT stream, CAST(day AS DATE) AS day, batch_id, COUNT(*) AS n_events,
        |  MIN(event_id) AS first_event, MAX(event_id) AS last_event,
        |  CASE WHEN COUNT(*) = 5 THEN 'size' ELSE 'tick' END AS closed_by,
        |  CASE WHEN COUNT(*) = 5 THEN MAX(sec)
        |       ELSE MAX(t0 + (tick + 1) * 7200) END AS close_s
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    "evt_queue_latency" -> queueLatencyOracle,
    "evt_queue_latency_periodic" -> queueLatencyPeriodicOracle,
    "evt_dropped" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN arrival > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN arrival <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_delivered
        |FROM (
        |  SELECT event_type, ROW_NUMBER() OVER (
        |    PARTITION BY event_type, date_trunc('hour', ts) ORDER BY event_id) AS arrival
        |  FROM events) t
        |GROUP BY 1""".stripMargin,
    "evt_shard" ->
      """SELECT user_id % 8 AS shard, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin,
    "evt_failover" ->
      """SELECT CASE WHEN event_id % 10 <> 0 THEN event_type
        |            ELSE event_type || '_alt' END AS delivered_to,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(retries) AS BIGINT) AS total_retries,
        |  MAX(retries) AS max_retries,
        |  CAST(SUM(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_failed_over
        |FROM (
        |  SELECT event_id, event_type, value,
        |    CAST(CASE WHEN event_id % 10 = 0 THEN 3
        |              WHEN event_id % 7 = 0 THEN 2
        |              WHEN event_id % 3 = 0 THEN 1
        |              ELSE 0 END AS BIGINT) AS retries
        |  FROM events) t
        |GROUP BY 1""".stripMargin,
    "evt_delivery_drops" -> deliveryDropsOracle,
    "evt_session_merge" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    event_id % 6 = 0 AS is_on, event_id % 6 = 1 AS is_off,
        |    event_id % 19 = 0 AS corrupt
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, sec, is_off, corrupt,
        |    last_value(CASE WHEN is_on THEN event_id END IGNORE NULLS)
        |      OVER w AS on_id,
        |    last_value(CASE WHEN is_on THEN sec END IGNORE NULLS)
        |      OVER w AS on_sec,
        |    last_value(CASE WHEN is_on THEN corrupt END IGNORE NULLS)
        |      OVER w AS on_corrupt
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |a AS (
        |  SELECT user_id,
        |    CASE WHEN on_id IS NULL THEN 'no_session_start'
        |         WHEN corrupt OR on_corrupt THEN 'error_merging_event'
        |         ELSE 'merged' END AS status,
        |    CASE WHEN on_id IS NOT NULL AND NOT (corrupt OR on_corrupt)
        |         THEN sec - on_sec ELSE 0 END AS dur
        |  FROM m WHERE is_off)
        |SELECT status, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(dur) AS BIGINT) AS total_dur_s
        |FROM a GROUP BY 1""".stripMargin,
    "evt_old_future" ->
      """SELECT event_type,
        |  CASE WHEN ts < TIMESTAMP '2024-01-05' THEN 'old'
        |       WHEN ts > TIMESTAMP '2024-01-25' THEN 'future'
        |       ELSE 'ok' END AS age_class,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "evt_dest_class" ->
      """SELECT CASE WHEN x IN ('online', 'offline', 'operational',
        |                      'manageable', 'pending-reboot') THEN x
        |            ELSE 'unknown_dest_type' END AS dest_class,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT regexp_extract('event:' || event_type || '/' ||
        |    (CASE event_id % 6 WHEN 0 THEN 'online' WHEN 1 THEN 'offline'
        |      WHEN 2 THEN 'operational' WHEN 3 THEN 'manageable'
        |      WHEN 4 THEN 'pending-reboot' ELSE 'mystery' END) || '/' ||
        |    CAST(event_id AS VARCHAR), '^event:[^/]+/([^/]+)/', 1) AS x
        |  FROM events) t
        |GROUP BY 1""".stripMargin,
    "evt_interface" ->
      """SELECT CASE WHEN iface IS NULL THEN 'unknown_ci'
        |            WHEN iface IN ('wifi', 'ethernet', 'moca') THEN 'ci_received'
        |            ELSE 'other_ci' END AS ci_class,
        |  iface, COUNT(*) AS n
        |FROM (
        |  SELECT CASE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 5
        |    WHEN 0 THEN 'wifi' WHEN 1 THEN 'ethernet' WHEN 2 THEN 'moca'
        |    WHEN 3 THEN '5g-modem' ELSE NULL END AS iface
        |  FROM events) t
        |GROUP BY 1, 2""".stripMargin,
    "evt_boot_time" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN boot IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_parse_err,
        |  COUNT(boot) AS n_parsed,
        |  CAST(SUM(CASE WHEN boot IS NOT NULL THEN sec - boot_sec ELSE 0 END) AS BIGINT)
        |    AS total_uptime_s,
        |  CAST(SUM(CASE WHEN boot IS NOT NULL THEN sec - boot_sec ELSE 0 END) AS DOUBLE)
        |    / COUNT(boot) AS avg_uptime_s
        |FROM (
        |  SELECT event_type, sec, boot,
        |    CAST(floor(epoch(boot)) AS BIGINT) AS boot_sec
        |  FROM (
        |    SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |      try_strptime(
        |        CASE WHEN event_id % 31 = 0 THEN 'not-a-time'
        |             ELSE strftime(make_timestamp(
        |               (CAST(floor(epoch(ts)) AS BIGINT)
        |                - CAST(floor(value * 60) AS BIGINT)) * 1000000),
        |               '%Y-%m-%d %H:%M:%S') END,
        |        '%Y-%m-%d %H:%M:%S') AS boot
        |    FROM events) g) t
        |GROUP BY 1""".stripMargin,
    "evt_throttle" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN n_in_hour >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled_hours,
        |  MAX(n_in_hour) AS max_in_hour
        |FROM (
        |  SELECT user_id, date_trunc('hour', ts) AS h, COUNT(*) AS n_in_hour
        |  FROM events GROUP BY 1, 2) t
        |GROUP BY 1
        |HAVING SUM(CASE WHEN n_in_hour >= 2 THEN 1 ELSE 0 END) >= 1""".stripMargin,
    "evt_sessionize" ->
      """SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
        |  MAX(sec) - MIN(sec) AS dur_s
        |FROM (
        |  SELECT user_id, sec,
        |    SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id,
        |      CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |      CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |        OVER (PARTITION BY user_id ORDER BY event_id) AS gap
        |    FROM events) g) t
        |GROUP BY 1, 2""".stripMargin,
    "evt_session_stats" ->
      """SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
        |  MAX(dur_s) AS max_dur_s,
        |  CAST(SUM(dur_s) AS DOUBLE) / COUNT(*) AS avg_dur_s
        |FROM (
        |  SELECT user_id, session_idx, MAX(sec) - MIN(sec) AS dur_s
        |  FROM (
        |    SELECT user_id, sec,
        |      SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |    FROM (
        |      SELECT user_id, event_id,
        |        CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |        CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |          OVER (PARTITION BY user_id ORDER BY event_id) AS gap
        |      FROM events) g) s
        |  GROUP BY 1, 2) d
        |GROUP BY 1""".stripMargin,
    "evt_asof" ->
      """SELECT c.cfg_version, COUNT(*) AS n, COUNT(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN (VALUES
        |  ('v0', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-07'),
        |  ('v1', TIMESTAMP '2024-01-07', TIMESTAMP '2024-01-13'),
        |  ('v2', TIMESTAMP '2024-01-13', TIMESTAMP '2024-01-19'),
        |  ('v3', TIMESTAMP '2024-01-19', TIMESTAMP '2024-01-25'),
        |  ('v4', TIMESTAMP '2024-01-25', TIMESTAMP '2099-01-01'))
        |  AS c(cfg_version, active_from, active_to)
        |ON e.ts >= c.active_from AND e.ts < c.active_to
        |GROUP BY 1""".stripMargin,
    "evt_asof_big" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS etime
        |  FROM events),
        |s AS (
        |  SELECT user_id AS s_user_id, CAST(floor(epoch(ts)) AS BIGINT) AS stime,
        |    MAX(event_id) AS version
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, COALESCE(s.version, -1) AS version
        |FROM e ASOF LEFT JOIN s
        |  ON e.user_id = s.s_user_id AND s.stime <= e.etime""".stripMargin,
    "evt_session_window" ->
      """SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_s,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id, ts,
        |    SUM(CASE WHEN gap IS NULL OR gap >= 1800.0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM (
        |    SELECT user_id, ts,
        |      epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |    FROM events) g) t
        |GROUP BY user_id, session_idx""".stripMargin,
    "evt_dedup" ->
      """SELECT event_type, COUNT(*) AS n_kept,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_id % 4000 ORDER BY event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 GROUP BY 1""".stripMargin,
    "evt_topk" ->
      """SELECT event_type, user_id, n, rnk FROM (
        |  SELECT event_type, user_id, n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, user_id ASC) AS rnk
        |  FROM (
        |    SELECT event_type, user_id, COUNT(*) AS n
        |    FROM events GROUP BY 1, 2) c) r
        |WHERE rnk <= 3""".stripMargin,
    "evt_topk_agg" ->
      """SELECT event_type, user_id, n, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT event_type, user_id, n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, user_id ASC) AS rnk
        |  FROM (
        |    SELECT event_type, user_id, COUNT(*) AS n
        |    FROM events GROUP BY 1, 2) c) r
        |WHERE rnk <= 3""".stripMargin,
    "evt_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "evt_parse_errors" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN event_id % 31 <> 0 AND event_id % 37 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cpe_ts_err,
        |  CAST(SUM(CASE WHEN event_id % 31 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cpe_ts_missing,
        |  CAST(SUM(CASE WHEN event_id % 71 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dest_type_missing,
        |  CAST(SUM(CASE WHEN event_id % 41 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_xmidt_ts_err,
        |  CAST(SUM(CASE WHEN event_id % 43 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_payload_parse_err,
        |  CAST(SUM(CASE WHEN event_id % 43 <> 0 AND event_id % 47 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_payload_ts_err,
        |  CAST(SUM(CASE WHEN event_id % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_invalid_session_id,
        |  CAST(SUM(CASE WHEN event_id % 59 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_session_start
        |FROM events GROUP BY 1""".stripMargin,
    "evt_mac_errors" ->
      """SELECT event_type,
        |  CASE WHEN event_id % 61 = 0 THEN 'no_mac_found'
        |       WHEN event_id % 67 = 0 THEN 'invalid_mac'
        |       ELSE 'ok' END AS mac_class,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "evt_props" ->
      """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 10 AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "wrp_modified" ->
      """SELECT CASE
        |  WHEN event_id % 5 = 0 AND event_id % 3 = 0 THEN 'empty_uuid_and_content_type'
        |  WHEN event_id % 5 = 0 THEN 'empty_content_type'
        |  WHEN event_id % 3 = 0 THEN 'empty_uuid'
        |  ELSE 'not_modified' END AS reason,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "evt_queue_depth" ->
      """SELECT stream, hour_epoch, COUNT(*) AS n_arrivals,
        |  CAST(ceil(COUNT(*) / 100.0) AS BIGINT) AS n_batches,
        |  MAX(depth) AS max_depth,
        |  CAST(SUM(depth) AS BIGINT) AS sum_depth,
        |  CAST(CAST(SUM(depth) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_depth
        |FROM (
        |  SELECT event_type AS stream,
        |    CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
        |    CAST(r - floor((r - 1) / 100) * 100 AS BIGINT) AS depth
        |  FROM (
        |    SELECT event_type, ts, ROW_NUMBER() OVER (
        |      PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY event_id) AS r
        |    FROM events) t) u
        |GROUP BY 1, 2""".stripMargin,
    "evt_slow_consumer" ->
      """SELECT stream,
        |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
        |  COUNT(*) AS n_drop_hours,
        |  CAST(SUM(cutoff) AS BIGINT) AS n_cutoffs
        |FROM (
        |  SELECT event_type AS stream, he, dropped,
        |    CASE WHEN LAG(he, 2) OVER (PARTITION BY event_type ORDER BY he)
        |              = he - 7200 THEN 1 ELSE 0 END AS cutoff
        |  FROM (
        |    SELECT event_type,
        |      CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS he,
        |      CAST(SUM(CASE WHEN arrival > 5 THEN 1 ELSE 0 END) AS BIGINT) AS dropped
        |    FROM (
        |      SELECT event_type, ts, ROW_NUMBER() OVER (
        |        PARTITION BY event_type, date_trunc('hour', ts)
        |        ORDER BY event_id) AS arrival
        |      FROM events) t
        |    GROUP BY 1, 2) h
        |  WHERE dropped > 0) c
        |GROUP BY 1""".stripMargin,
    "evt_kinesis_batches" ->
      """SELECT stream, COUNT(*) AS batches_sent,
        |  CAST(SUM(n_records) AS BIGINT) AS records_sent,
        |  CAST(SUM(n_failed) AS BIGINT) AS failed_records,
        |  CAST(SUM(CASE WHEN n_failed > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS partial_batches,
        |  MAX(n_failed) AS max_failed_in_batch
        |FROM (
        |  SELECT stream, day, batch_id, COUNT(*) AS n_records,
        |    CAST(SUM(CASE WHEN event_id % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_failed
        |  FROM (
        |    SELECT event_type AS stream, date_trunc('day', ts) AS day, event_id,
        |      CAST(floor((ROW_NUMBER() OVER (
        |        PARTITION BY event_type, date_trunc('day', ts)
        |        ORDER BY event_id) - 1) / 100) AS BIGINT) AS batch_id
        |    FROM events) t
        |  GROUP BY 1, 2, 3) b
        |GROUP BY 1""".stripMargin,
    "evt_counters" ->
      """WITH ranked_u AS (
        |  SELECT event_id, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, date_trunc('hour', ts)
        |    ORDER BY event_id) AS rk
        |  FROM events),
        |ranked_s AS (
        |  SELECT event_id, ROW_NUMBER() OVER (
        |    PARTITION BY event_type, date_trunc('hour', ts)
        |    ORDER BY event_id) AS rk
        |  FROM events),
        |b AS (
        |  SELECT event_type, day, batch_id, COUNT(*) AS nr
        |  FROM (
        |    SELECT event_type, date_trunc('day', ts) AS day, event_id,
        |      CAST(floor((ROW_NUMBER() OVER (
        |        PARTITION BY event_type, date_trunc('day', ts)
        |        ORDER BY event_id) - 1) / 100) AS BIGINT) AS batch_id
        |    FROM events) t
        |  GROUP BY 1, 2, 3)
        |SELECT 'event_received' AS metric, COUNT(*) AS value FROM events
        |UNION ALL SELECT 'not_an_event',
        |  CAST(SUM(CASE WHEN event_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events
        |UNION ALL SELECT 'event_sent',
        |  CAST(SUM(CASE WHEN event_id % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events
        |UNION ALL SELECT 'kinesis_retry_scheduled',
        |  CAST(SUM(CASE WHEN event_id % 10 = 0 THEN 3
        |                WHEN event_id % 7 = 0 THEN 2
        |                WHEN event_id % 3 = 0 THEN 1
        |                ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'old_event_received',
        |  CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-05' THEN 1 ELSE 0 END)
        |    AS BIGINT) FROM events
        |UNION ALL SELECT 'future_event_received',
        |  CAST(SUM(CASE WHEN ts > TIMESTAMP '2024-01-25' THEN 1 ELSE 0 END)
        |    AS BIGINT) FROM events
        |UNION ALL SELECT 'modified_wrp_count',
        |  CAST(SUM(CASE WHEN event_id % 5 = 0 OR event_id % 3 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'event_read_request',
        |  CAST(SUM(CASE WHEN event_id % 103 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events
        |UNION ALL SELECT 'event_bad_request',
        |  CAST(SUM(CASE WHEN event_id % 103 <> 0 AND (event_id % 101 = 0
        |    OR event_id % 89 = 0 OR event_id % 97 = 0 OR event_id % 79 = 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) FROM events
        |UNION ALL SELECT 'dropped_message_count',
        |  CAST(SUM(CASE WHEN event_id % 30 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events
        |UNION ALL SELECT 'event_throttled',
        |  CAST(SUM(CASE WHEN rk >= 2 THEN 1 ELSE 0 END) AS BIGINT) FROM ranked_u
        |UNION ALL SELECT 'event_not_throttled',
        |  CAST(SUM(CASE WHEN rk < 2 THEN 1 ELSE 0 END) AS BIGINT) FROM ranked_u
        |UNION ALL SELECT 'slow_consumer_dropped_message_count',
        |  CAST(SUM(CASE WHEN rk > 5 THEN 1 ELSE 0 END) AS BIGINT) FROM ranked_s
        |UNION ALL SELECT 'kinesis_batch_sent', COUNT(*) FROM b
        |UNION ALL SELECT 'kinesis_record_sent',
        |  CAST(SUM(nr) AS BIGINT) FROM b""".stripMargin,
    "evt_merge_errors" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
        |      AS INTEGER) % 5 IN (0, 1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS interface_used_read,
        |  CAST(SUM(CASE WHEN event_id % 6 = 1 AND event_id % 17 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS missing_disconnect_payload,
        |  CAST(SUM(CASE WHEN event_id % 6 = 1 AND event_id % 19 = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS error_merging_event,
        |  CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS empty_history
        |FROM (SELECT event_type, event_id, props,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS rk
        |      FROM events) t
        |GROUP BY 1""".stripMargin)
}
