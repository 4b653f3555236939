package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.storage.StorageLevel

/** One (band bucket, doc) occupancy row flowing into the stateful op.
  * `sig` is a primitive array (r22): the Seq[Int] encoder boxed every
  * signature element on the 4-rows-per-doc hot path. `ts` is the doc's
  * event time under an [[EventTimeTtl]], else None (always None on a
  * short doc's one row, whose `sig` is empty). */
case class BandDoc(band_idx: Int, band_hash: Int, doc_id: Long,
    sig: Array[Int], ts: Option[java.sql.Timestamp] = None)

/** Per-band dedup verdict: `dup_of` is the smallest earlier doc in this
  * bucket whose signature agreement clears the threshold (None = this
  * doc is first of its kind here). Doc-level dedup = OR over bands. */
case class BandVerdict(doc_id: Long, band_idx: Int, dup_of: Option[Long],
    est_jaccard: Double)

/** Event-time state bound for [[DocStream.nearDupVerdicts]]: state in
  * an idle band bucket expires once the watermark on `tsCol` (lagging
  * by `delay`, the out-of-orderness bound) passes the newest event time
  * that bucket has seen + `ttlMs`. */
case class EventTimeTtl(tsCol: String, delay: String, ttlMs: Long)

/** Signatures already seen in one LSH band bucket, plus the newest
  * event time the bucket has observed (millis; used only under an
  * [[EventTimeTtl]] — without one it stays 0).
  *
  * Layout (r22): ids newest-first, signatures flattened k-per-doc and
  * aligned with ids (sigs.length == ids.length · k). The former
  * List[(Long, Seq[Int])] round-tripped a product encoder with a boxed
  * element per signature int through the state store on EVERY batch a
  * bucket was touched — the dominant per-batch cost of the streaming
  * near-dup sink once the map side went native; primitive-array fields
  * encode as flat unsafe arrays.
  *
  * State-schema note: this layout change (like adding `maxTs` in r10)
  * changes the encoder schema of the flatMapGroupsWithState state, so
  * a query resuming from a checkpoint written BEFORE it fails state
  * deserialization. Checkpoints here are probe/test scratch so no
  * migration shim is shipped; a production deployment versioning
  * long-lived checkpoints should bump the checkpoint path on any state
  * case-class change. */
case class BucketState(ids: Array[Long], sigs: Array[Int], maxTs: Long = 0L)

/** Per-source admission verdict: `seq` is the 1-based arrival rank
  * within the source; admitted iff seq <= cap. */
case class DomainAdmit(doc_id: Long, source: String, admitted: Boolean,
    seq: Long)

/** Running per-domain admission counter — one row of state per SOURCE
  * (bounded by domain cardinality, never by document count). */
case class DomainCount(n: Long)

/** Streaming near-duplicate suppression for a document stream — the
  * incremental twin of `TextDedup.minhashLshPairs` (SURVEY §2c #38): a
  * training-data ingest pipeline must drop near-dups ON ARRIVAL, not in
  * a nightly batch over the full corpus.
  *
  * Shape: signature + banding are stateless per-row expressions (no
  * shuffle); the only stateful op keys on the LSH band bucket, so state
  * and comparisons are per-bucket, never corpus-wide — the same
  * "candidates share a band" contract as the batch operator, at any
  * scale. A doc is a near-dup iff ANY of its bands finds an earlier
  * signature with agreement ≥ τ (the unbiased MinHash Jaccard
  * estimator), which is exactly the batch pair predicate, so stream and
  * batch verdicts agree row for row (StreamingDedupSpec pins this).
  *
  * State: every signature lands in its bucket's state (dropped docs
  * included — batch semantics compare against ALL earlier docs).
  * `maxPerBucket` bounds per-bucket memory FIFO-style for adversarial
  * buckets; production deployments additionally bound state age with an
  * event-time timeout (the reference's retry-dedup state is similarly
  * bounded, internal/event/request_handler.go).
  */
object DocStream {

  /** Map-side MinHash signature: k seeded murmur3 minima over the doc's
    * distinct word n-gram shingles. Identical values to the batch
    * formulation (min over the exploded posting list) because both
    * reduce min(hash(seed_j, shingle)) over the same shingle set —
    * here as one native kernel per row (r22,
    * [[graft.functions.MinHashSig]] — the former k-fold
    * array_min∘transform HOF stack evaluated k·|shingles| interpreted
    * lambda frames per document, the dominant map-side cost of the
    * streaming near-dup sink; MinHashSigSpec pins the kernel
    * bit-identical to it), no shuffle, streaming-safe. */
  def withSignature(docs: DataFrame, n: Int = 3, k: Int = 16): DataFrame =
    docs.withColumn("sig", signature(split(col("text"), " "), n, k))

  private def signature(words: Column, n: Int, k: Int): Column =
    graft.functions.MinHashSig.column(
      graft.functions.ShingleNGrams.column(words, n), k)

  /** `band_idx` of a doc too short to have a signature: its one row
    * judges nothing and writes no state. */
  private final val ShortBand = -1

  /** Explode each doc into its `bands` LSH bucket rows — the band
    * structs come from TextDedup.bandStructs, the ONE definition of the
    * band-hash family, so stream and batch verdicts cannot drift.
    * Column `tsCol` becomes each row's [[BandDoc]] `ts`, keeping its
    * watermark metadata, so the watermark reaches the stateful op.
    *
    * A NULL `sig` marks a doc too short to shingle: it becomes ONE row
    * in bucket ([[ShortBand]], hash(doc_id)) with an empty signature
    * and a NULL `ts` — the stateful op drops input rows behind the
    * watermark, and a short doc keeps its verdict however late. */
  def bandRows(sigs: DataFrame, k: Int, bands: Int,
      tsCol: Option[String] = None): DataFrame = {
    val signed = col("sig").isNotNull
    val ts = tsCol.fold(lit(null).cast("timestamp").as("ts"))(c =>
      when(signed, col(c)).as("ts", sigs.schema(c).metadata))
    val short = struct(lit(ShortBand).as("band_idx"),
      hash(col("doc_id")).as("band_hash"))
    sigs
      .select(col("doc_id"),
        coalesce(col("sig"), typedLit(Array.emptyIntArray)).as("sig"), ts,
        explode(when(signed, array(
          graft.operators.TextDedup.bandStructs(k, bands): _*))
          .otherwise(array(short))).as("bs"))
      .select(col("bs.band_idx").as("band_idx"),
        col("bs.band_hash").as("band_hash"), col("doc_id"), col("sig"),
        col("ts"))
  }

  /** Per-band verdicts via one flatMapGroupsWithState keyed on the band
    * bucket. "Earlier" means FIRST-SEEN in arrival order — the only
    * dedup semantic an append-mode stream can honor (a later-arriving
    * smaller id cannot retract an already-emitted verdict); within one
    * micro-batch, where arrival order is unobservable, docs are
    * processed in doc_id order so checkpoint replays are deterministic.
    * When ids arrive in order (the batch-parity case) this is exactly
    * the batch miner's smaller-id-wins rule.
    *
    * Docs shorter than the shingle size (or with NULL text) have NO
    * signature: they take one [[ShortBand]] row through the same op,
    * which gives it a not-a-dup verdict (band_idx -1) and writes no
    * state — a doc with no shingles cannot near-duplicate anything
    * under this similarity. One scan of the source per trigger, and
    * one `split` per doc, shared by the signature and the length test.
    *
    * `ttl` bounds state AGE by event time, the production memory
    * backstop alongside the per-bucket size cap (VERDICT r7 #8). The
    * bound is driven by the DATA clock, so (a) checkpoint replays make
    * identical keep/drop decisions, (b) `processAllAvailable()`
    * terminates (the engine runs at most one no-data batch per
    * watermark advance), and (c) it has batch-explainable semantics:
    * "dedup against everything within the last TTL of event time".
    * Without it state is bounded by `maxPerBucket` alone. */
  def nearDupVerdicts(docs: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4, tau: Double = 0.5,
      maxPerBucket: Int = 10000,
      ttl: Option[EventTimeTtl] = None): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    val marked = ttl.fold(docs)(t => docs.withWatermark(t.tsCol, t.delay))
    val words = marked.select(Seq(col("doc_id"),
      split(col("text"), " ").as("words")) ++ ttl.map(t => col(t.tsCol)): _*)
    // coalesce: a NULL text is short, its signature NULL
    val hasSig = coalesce(size(col("words")) >= n, lit(false))
    val signed = words.withColumn("sig",
      when(hasSig, signature(col("words"), n, k)))
    val rows = bandRows(signed, k, bands, ttl.map(_.tsCol)).as[BandDoc]
    val timeout = if (ttl.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows
      .groupByKey(r => (r.band_idx, r.band_hash))
      .flatMapGroupsWithState[BucketState, BandVerdict](
        OutputMode.Append, timeout) {
        (key, batch: Iterator[BandDoc], state: GroupState[BucketState]) =>
          if (key._1 == ShortBand)
            batch.map(r => BandVerdict(r.doc_id, ShortBand, None, 0.0))
          else if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption
            val rs = batch.toArray.sortBy(_.doc_id)
            // RUNNING max across micro-batches, not per-batch: an
            // out-of-order batch (within the watermark delay) whose max
            // ts is older than a prior batch's must not re-arm the
            // timeout EARLIER — that would evict state prematurely and
            // miss duplicates still inside the TTL.
            val maxTs = rs.foldLeft(st.map(_.maxTs).getOrElse(0L))(
              (m, r) => r.ts.fold(m)(t => math.max(m, t.getTime)))
            val (verdicts, ids, sigs) = judgeBucket(
              st.map(_.ids).getOrElse(Array.emptyLongArray),
              st.map(_.sigs).getOrElse(Array.emptyIntArray),
              rs, tau, maxPerBucket)
            state.update(BucketState(ids, sigs, maxTs))
            // Arm expiry at (newest event this bucket has EVER seen) +
            // TTL. The timestamp must exceed the current watermark or
            // Spark throws; rows below the watermark were already
            // dropped upstream, but guard anyway for the ttl=0 edge.
            ttl.foreach(t => state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1) + t.ttlMs))
            verdicts.iterator
          }
      }
  }

  /** Per-bucket judge of [[nearDupVerdicts]] (r22 — the flat-array
    * state core). Semantics are EXACTLY the r21 list fold's, row for
    * row: "earlier" = FIRST-SEEN arrival order — everything stored
    * before this doc (prior micro-batches, newest-first, plus earlier
    * rows of this batch; an id-order filter would silently miss real
    * dups on out-of-order arrival, and append mode cannot retract the
    * earlier verdict); within a batch docs are processed in doc_id
    * order so checkpoint replays are deterministic; the verdict hit is
    * the SMALLEST-id stored entry whose signature agreement clears tau
    * (with that entry's agreement as est_jaccard); entries are stored
    * regardless of verdict; and the FIFO cap applies after EVERY
    * append, so a bucket at cap drops its oldest entry before the next
    * row is judged. Returns (verdicts, ids, sigs) with ids
    * newest-first and sigs flattened k-per-doc. A signature width that
    * differs from the stored one (k changed across a restart) fails
    * fast: stored and new signatures are not comparable. */
  private[graft] def judgeBucket(oldIds: Array[Long], oldSigs: Array[Int],
      rows: Array[BandDoc], tau: Double, maxPerBucket: Int)
      : (List[BandVerdict], Array[Long], Array[Int]) = {
    val out = List.newBuilder[BandVerdict]
    val newIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val newSigs = scala.collection.mutable.ArrayBuffer.empty[Int]
    // stored signature width (uniform per bucket: one k per pipeline)
    val ko = if (oldIds.length > 0) oldSigs.length / oldIds.length else 0
    val w = if (rows.nonEmpty) rows(0).sig.length else ko
    if (oldIds.length > 0 && w != ko) throw new IllegalStateException(
      s"near-dup state holds $ko-wide signatures but this batch carries " +
        s"$w-wide ones: the signature width changed, so the checkpoint " +
        "path needs a bump (stored state cannot be judged against it)")
    // live window under the per-row FIFO cap: batch-local entries
    // [newStart, newIds.length) + persisted entries [0, oldLive)
    var oldLive = oldIds.length
    var newStart = 0
    rows.foreach { r =>
      val sig = r.sig
      var bestId = Long.MaxValue
      var bestAgree = 0.0
      val kn = if (newIds.nonEmpty) newSigs.length / newIds.length else 0
      var i = newStart
      while (i < newIds.length) {
        if (newIds(i) < bestId) {
          var eq = 0
          var j = 0
          val n = math.min(kn, sig.length)
          while (j < n) {
            if (newSigs(i * kn + j) == sig(j)) eq += 1
            j += 1
          }
          val ag = eq.toDouble / math.max(kn, 1)
          if (ag >= tau) { bestId = newIds(i); bestAgree = ag }
        }
        i += 1
      }
      i = 0
      while (i < oldLive) {
        if (oldIds(i) < bestId) {
          var eq = 0
          var j = 0
          val n = math.min(ko, sig.length)
          while (j < n) {
            if (oldSigs(i * ko + j) == sig(j)) eq += 1
            j += 1
          }
          val ag = eq.toDouble / math.max(ko, 1)
          if (ag >= tau) { bestId = oldIds(i); bestAgree = ag }
        }
        i += 1
      }
      val found = bestId != Long.MaxValue
      out += BandVerdict(r.doc_id, r.band_idx,
        if (found) Some(bestId) else None, if (found) bestAgree else 0.0)
      newIds += r.doc_id
      newSigs ++= sig
      if ((newIds.length - newStart) + oldLive > maxPerBucket) {
        if (oldLive > 0) oldLive -= 1 else newStart += 1
      }
    }
    val nNew = newIds.length - newStart
    val total = nNew + oldLive
    val ids = new Array[Long](total)
    val sigs = new Array[Int](total * w)
    var idx = 0
    var i = newIds.length - 1
    while (i >= newStart) {
      ids(idx) = newIds(i)
      var j = 0
      while (j < w) { sigs(idx * w + j) = newSigs(i * w + j); j += 1 }
      idx += 1
      i -= 1
    }
    i = 0
    while (i < oldLive) {
      ids(idx) = oldIds(i)
      var j = 0
      while (j < ko) { sigs(idx * w + j) = oldSigs(i * ko + j); j += 1 }
      idx += 1
      i += 1
    }
    (out.result(), ids, sigs)
  }

  /** Streaming SPAN-level decontamination — the on-arrival twin of
    * `doc_decontaminate_spans` (SURVEY §2c #56d): the DISTINCT bench
    * span set is built once ([[graft.operators.Curation.benchSpanSet]],
    * broadcast-sized for real eval suites) and frozen for the query
    * lifetime; each arriving train batch excises every occurrence of a
    * bench span from its own text
    * ([[graft.operators.Curation.decontaminateSpansAgainst]]). A doc's
    * excision depends on nothing but its own words and the frozen span
    * set, so the union of per-batch outputs IS the batch sweep —
    * parity by construction, pinned in DecontaminateSpec. Idempotent
    * batch_id=N subtrees. */
  def decontaminateSpansSink(train: DataFrame, bench: DataFrame,
      outDir: String, checkpointDir: String, n: Int = 8): StreamingQuery = {
    val benchSpans = graft.operators.Curation.benchSpanSet(bench, n)
    // the excision plan scans its input three times (occurrence
    // postings, word rows, and the reassembly tail) — pin the batch so
    // a real source is read once per trigger, not three
    Delivery.pinnedFor(benchSpans)(
      Delivery.sink(train, outDir, checkpointDir, pinBatch = true)(
        graft.operators.Curation.decontaminateSpansAgainst(_, benchSpans, n)))
  }

  /** Streaming benchmark decontamination (the incremental twin of
    * `doc_decontaminate`, SURVEY §2c #56): incoming training documents
    * are checked against the benchmark suites ON ARRIVAL, so a
    * contaminated doc never reaches the training set — instead of a
    * nightly cross-corpus sweep.
    *
    * Shape: the bench posting list (eval suites — broadcast-sized at
    * any real scale) is shingled ONCE and persisted for the query's
    * lifetime; each micro-batch runs the BATCH operator's posting-list
    * equi join against it. Train docs are judged independently of each
    * other, so the union of per-batch outputs IS the batch operator's
    * result over the full stream — parity by construction (pinned by
    * DecontaminateSpec). Output is idempotent under micro-batch replay:
    * each batch overwrites its own [[Delivery]] batch-dir subtree. */
  def decontaminateSink(train: DataFrame, bench: DataFrame, outDir: String,
      checkpointDir: String, n: Int = 5, minShared: Long = 5L): StreamingQuery = {
    val benchGrams = graft.operators.TextDedup
      .gramPostings(bench, n, "bench_id")
    Delivery.pinnedFor(benchGrams)(
      Delivery.sink(train, outDir, checkpointDir)(batch =>
        graft.operators.TextDedup.gramPostings(batch, n, "train_id")
          .join(benchGrams, "shingle")
          .groupBy("train_id", "bench_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= minShared)))
  }

  /** Streaming FUZZY decontamination — the on-arrival twin of
    * `doc_decontaminate_fuzzy` (SURVEY §2c #56c): the bench side is
    * MinHash-signed once ([[graft.operators.TextDedup.fuzzySigs]])
    * and frozen for the query lifetime; each arriving train batch
    * signs itself and runs the cross-corpus band join + agree/k
    * estimate against the frozen table. A verdict depends only on
    * the doc's own shingles and the frozen bench signatures, so the
    * union of per-batch outputs IS the batch sweep (parity by
    * construction, DecontaminateSpec-pinned). Same cache lifecycle
    * discipline as [[decontaminateSink]]. */
  def decontaminateFuzzySink(train: DataFrame, bench: DataFrame,
      outDir: String, checkpointDir: String, n: Int = 3, k: Int = 16,
      bands: Int = 4, tau: Double = 0.5,
      md5Hash: Boolean = false): StreamingQuery = {
    val benchSigs = graft.operators.TextDedup.fuzzySigs(bench, n, k, md5Hash)
    Delivery.pinnedFor(benchSigs)(
      Delivery.foreachBatch(train, checkpointDir) { (batch, batchId) =>
        // per-batch lifecycle: the batch signature table feeds both
        // the band join and the verification join, so cache it for
        // exactly this batch (a CacheScope persist would accumulate
        // for the lifetime of the stream)
        val sigs = graft.operators.TextDedup
          .fuzzySigs(batch, n, k, md5Hash)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try Delivery.write(graft.operators.TextDedup
          .crossCorpusFuzzySigsJoin(sigs, benchSigs, k, bands, tau),
          outDir, batchId)
        finally sigs.unpersist(blocking = false)
      })
  }

  /** Streaming per-domain admission cap (the incremental twin of
    * `doc_domain_cap`, SURVEY §2c #61): at most `cap` documents per
    * source are ADMITTED over the stream's lifetime; later arrivals
    * from a saturated domain are rejected on arrival. This is what a
    * live ingest gate actually enforces — arrival-order admission —
    * where the batch query, which can see the whole corpus, prefers
    * the longest docs. The parity contract is therefore against the
    * batch ARRIVAL-ORDER rank (row_number over (source, doc_id) ≤ cap
    * when docs arrive in id order), pinned by DomainCapStreamSpec.
    *
    * Shape: ONE stateful op keyed on source, state = a single running
    * counter per domain (bounded by #domains, not #docs — state_rows
    * in a STREAMBENCH probe stay flat); within a micro-batch the
    * group's rows are doc_id-sorted so checkpoint replays make
    * identical admit/reject decisions where raw iterator order is not
    * observable. `seq` is the 1-based arrival rank within the source —
    * admitted iff seq ≤ cap. */
  def domainCapVerdicts(docs: DataFrame, cap: Int): Dataset[DomainAdmit] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[DomainCount, DomainAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source, batch: Iterator[(Long, String)],
            state: GroupState[DomainCount]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = batch.map(_._1).toSeq.sorted.map { id =>
            n += 1
            DomainAdmit(id, source, n <= cap, n)
          }
          state.update(DomainCount(n))
          out.iterator
      }
  }

  /** Streaming LM quality scoring (the incremental twin of
    * `doc_lm_score`'s scoring stage): every micro-batch is scored
    * against a FROZEN [[graft.queries.Scoring.LmModel]] — the
    * train-once / score-forever production contract, same pattern as
    * [[decontaminateSink]]'s persisted bench index. Docs are scored
    * independently of each other (the model is fixed), so the union
    * of per-batch outputs IS the batch `scoreWithLm` over the full
    * stream — parity by construction, pinned by DomainCapStreamSpec.
    * Idempotent under micro-batch replay: each batch overwrites its
    * own [[Delivery]] batch-dir subtree. */
  def lmScoreSink(docs: DataFrame, lm: graft.queries.Scoring.LmModel,
      outDir: String, checkpointDir: String): StreamingQuery =
    Delivery.sink(docs, outDir, checkpointDir)(
      graft.queries.Scoring.scoreWithLm(_, lm))

  /** Streaming LM count MAINTENANCE — the TRAIN side of the
    * train/score split ([[lmScoreSink]] is the score side): each
    * micro-batch writes its own count DELTA under batch_id=N
    * (idempotent under replay; no read-modify-write of shared state),
    * and [[graft.queries.Scoring.lmCountsFromDeltas]] folds the
    * deltas into [[graft.queries.Scoring.LmCounts]] on demand with
    * the lmMerge expression. Counts are exact longs and the merge is
    * associative/commutative, so the derived model is BIT-equal to
    * `lmTrain` over every doc the stream has seen — continuous LM
    * refresh without ever re-reading an old batch's text
    * (LmStreamDomainCapSpec pins stream-absorbed == one-shot). */
  def lmCountsSink(docs: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    Delivery.foreachBatch(docs, checkpointDir) { (batch, batchId) =>
      val c = graft.queries.Scoring.lmCounts(batch)
      Delivery.write(c.pairs, s"$outDir/pairs", batchId)
      Delivery.write(c.words, s"$outDir/words", batchId)
    }

  /** Streaming quality-model count MAINTENANCE — the TRAIN side of
    * [[qualityScoreSink]]'s split. Quality counts are ORDERED float
    * folds (see [[graft.queries.Scoring.qcAppend]]), so unlike
    * [[lmCountsSink]] the absorb cannot be delta-only: each batch
    * folds onto the accumulated state. Crash safety comes from
    * immutable VERSIONS instead of read-modify-write: batch N writes
    * `v{N}` derived from `v{M}` (the newest version below N — never
    * touched again), so a replayed batch deterministically rewrites
    * its own version from intact inputs. Every version is ≤256 rows
    * + 1 row regardless of corpus size; `v{latest}` derives a model
    * bit-equal to a retrain over everything absorbed
    * (QualityModelSpec pins it). Batches must arrive in doc_id order
    * (qcAppend's watermark gate enforces it fail-fast) — the natural
    * shape of an append-only document stream. */
  def qcCountsSink(docs: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    Delivery.foreachBatch(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val base = new org.apache.hadoop.fs.Path(stateDir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val prev =
        if (fs.exists(base))
          fs.listStatus(base).map(_.getPath.getName)
            .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
            .filter(_ < batchId).sorted.lastOption
        else None
      val counts = prev match {
        case Some(p) => graft.queries.Scoring.qcAppend(
          graft.queries.Scoring.loadQualityCounts(spark, s"$stateDir/v$p"),
          batch)
        case None => graft.queries.Scoring.qcCounts(batch)
      }
      graft.queries.Scoring.saveQualityCounts(counts, s"$stateDir/v$batchId")
    }

  /** Streaming learned-quality scoring (the incremental twin of
    * `doc_quality_classifier`'s scoring stage): every micro-batch is
    * scored against a FROZEN [[graft.queries.Scoring.QualityModel]] —
    * the [[lmScoreSink]] train-once contract with a Rocchio model
    * instead of a bigram LM. Docs score independently (the ≤256-row
    * model is fixed and broadcast per batch), so the union of
    * per-batch outputs IS the batch `scoreWithQualityModel` over the
    * full stream — parity by construction, pinned by
    * QualityModelSpec. Idempotent batch_id=N sink. */
  def qualityScoreSink(docs: DataFrame,
      model: graft.queries.Scoring.QualityModel,
      outDir: String, checkpointDir: String): StreamingQuery =
    Delivery.sink(docs, outDir, checkpointDir)(
      graft.queries.Scoring.scoreWithQualityModel(_, model))

  /** Streaming BPE token counting (the incremental twin of
    * `doc_bpe_tokens`' encode stage): every micro-batch is encoded
    * against a FROZEN [[graft.operators.BpeTokenizer.BpeModel]] — the
    * [[lmScoreSink]] train-once contract with a learned merge table
    * instead of a bigram LM. The frozen table folds into one broadcast
    * array row and the codegen'd kernel runs map-side per batch (the
    * dictionary path: each batch's distinct words encode once, its
    * instances join back), so docs encode independently and the union
    * of per-batch outputs IS the batch `encodeCounts` over the full
    * stream — parity by construction, pinned by BpeSpec. Idempotent
    * batch_id=N sink. */
  def bpeCountSink(docs: DataFrame,
      model: graft.operators.BpeTokenizer.BpeModel,
      outDir: String, checkpointDir: String): StreamingQuery =
    Delivery.sink(docs, outDir, checkpointDir)(
      graft.operators.BpeTokenizer.encodeCounts(_, model))

  /** Doc-level keep/drop decisions from per-band verdicts: a doc is a
    * dup iff ANY band flagged it; dup_of = the smallest flagged
    * predecessor. Runs per micro-batch (e.g. inside foreachBatch on the
    * verdict stream) — a doc's band verdicts always land in the same
    * batch, so the batch-local aggregate is exact. */
  def decisions(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("doc_id")
      .agg(min(col("dup_of")).as("dup_of"),
        max(col("est_jaccard")).as("est_jaccard"))
      .withColumn("keep", col("dup_of").isNull)

  /** Ingest-time semantic admission for RAW TEXT (r20 — the
    * [[graft.streaming.EmbStream.semanticAdmitSink]] composition with
    * the text → embedding bridge, so a text stream is semantically
    * gated from bytes: no pre-computed vectors anywhere): each
    * arriving micro-batch of (doc_id, text) rows is featurized by
    * [[graft.operators.TextFeatures.unigramBucketVec]] and judged
    * against the FROZEN reference index (fit over the curated
    * corpus's bucket vectors) with the SHARED verdict core — a doc is
    * admitted iff its nearest curated neighbor scores below `tau`.
    * Frozen-reference contract and idempotent `batch_id=N` subtrees
    * exactly as the vector sink (union of batches ≡ the batch filter,
    * parity by construction — the verdict is per-row). Output per
    * doc: (doc_id, admit, nn_id, nn_qcos). */
  def textSemanticAdmitSink(docs: DataFrame,
      index: graft.operators.Similarity.IvfPqIndex, tau: Double,
      nprobe: Int, outDir: String, checkpointDir: String,
      refineWith: Option[(DataFrame, Int)] = None): StreamingQuery =
    // pin the frozen index for the query lifetime (r21, the
    // semanticAdmitSink discipline): per-trigger parquet re-reads of
    // the artifact frames were pure fixed cost. The feature build +
    // verdict join scan the batch more than once; pin it too so a real
    // source is read once per trigger
    Delivery.pinnedFor(index.coarse, index.codebooks, index.codes)(
      Delivery.sink(docs, outDir, checkpointDir, pinBatch = true) { b =>
        val vecs = graft.operators.TextFeatures.unigramBucketVec(b)
          .select(col("doc_id").as("vec_id"), col("e"))
        EmbStream.admitVerdicts(vecs, index, tau, nprobe, refineWith)
          .withColumnRenamed("vec_id", "doc_id")
      })

  /** Signature agreement = matching minhash positions / k. */
  def agreement(a: Seq[Int], b: Seq[Int]): Double = {
    var eq = 0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / math.max(a.length, 1)
  }
}
