package graft

import graft.streaming.{DocStream, EventTimeTtl}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming near-dup suppression vs the batch LSH miner: the streaming
  * verdicts over a micro-batched replay of the corpus must flag exactly
  * the docs that appear as the LATER side of a batch near-dup pair. */
class StreamingDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("stream/batch parity on the real corpus, split across micro-batches") {
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

    val in = MemoryStream[(Long, String)]
    val verdicts = DocStream.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"), n = 3, k = 16, bands = 4, tau = 0.5)
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("dedup_verdicts").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    val flagged = spark.table("dedup_verdicts")
      .filter(col("dup_of").isNotNull)
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet

    val batchVictims = graft.operators.TextDedup.minhashLshPairs(
      Tables.documents(spark, d), n = 3, k = 16, bands = 4, tau = 0.5)
      .select("doc_b").distinct()
      .collect().map(_.getLong(0)).toSet
    CacheScope.releaseAll()

    assert(flagged == batchVictims,
      s"stream-only: ${flagged -- batchVictims}, batch-only: ${batchVictims -- flagged}")
    assert(batchVictims.nonEmpty, "corpus has no near-dups; test is vacuous")
  }

  test("cross-batch duplicates are caught and first-seen wins") {
    implicit val sql = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val in = MemoryStream[(Long, String)]
    val verdicts = DocStream.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"), n = 3, k = 16, bands = 4, tau = 0.5)
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("dedup_x").start()
    try {
      in.addData(Seq((1L, base), (2L, "totally different words here now")))
      q.processAllAvailable()
      // near-identical redelivery arrives two micro-batches later
      in.addData(Seq((3L, base + "tail")))
      q.processAllAvailable()
    } finally q.stop()

    val v = spark.table("dedup_x")
      .filter(col("dup_of").isNotNull)
      .select("doc_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v.contains((3L, 1L)), s"expected (3 dup-of 1), got $v")
    assert(!v.exists(_._1 == 1L), "first occurrence must not be flagged")
    assert(!v.exists(_._1 == 2L), "unrelated doc must not be flagged")
  }

  test("out-of-order ids across batches: first-SEEN wins, dup still caught") {
    implicit val sql = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val in = MemoryStream[(Long, String)]
    val verdicts = DocStream.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"), n = 3, k = 16, bands = 4, tau = 0.5)
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("dedup_ooo").start()
    try {
      in.addData(Seq((9L, base))) // larger id arrives FIRST
      q.processAllAvailable()
      in.addData(Seq((5L, base + "tail"))) // smaller id arrives later
      q.processAllAvailable()
    } finally q.stop()
    val v = spark.table("dedup_ooo")
      .filter(col("dup_of").isNotNull)
      .select("doc_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // arrival semantics: 9 was emitted first and cannot be retracted;
    // the later near-identical 5 must be flagged against it
    assert(v.contains((5L, 9L)), s"expected (5 dup-of 9), got $v")
    assert(!v.exists(_._1 == 9L), "first-seen doc must not be flagged")
  }

  test("docs shorter than the shingle size pass through as not-dup (no crash)") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val verdicts = DocStream.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"), n = 3, k = 16, bands = 4, tau = 0.5)
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("dedup_short").start()
    try {
      in.addData(Seq(
        (1L, "two words"),            // < n tokens: no shingles
        (2L, ""),                     // empty text
        (3L, "one two three four five six seven eight nine ten")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_short")
      .select("doc_id", "band_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.filter(_._1 == 1L).map(_._2).toSeq == Seq(-1))
    assert(rows.filter(_._1 == 2L).map(_._2).toSeq == Seq(-1))
    // the long doc went through the stateful path: one verdict per band
    assert(rows.filter(_._1 == 3L).map(_._2).sorted.toSeq == Seq(0, 1, 2, 3))
    assert(spark.table("dedup_short").filter(col("dup_of").isNotNull).count() == 0)
  }

  test("decisions: doc-level keep/drop from band verdicts") {
    implicit val sql = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val in = MemoryStream[(Long, String)]
    val verdicts = DocStream.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text"), n = 3, k = 16, bands = 4, tau = 0.5)
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("dedup_decisions").start()
    try {
      in.addData(Seq((1L, base), (2L, "unrelated text entirely here"),
        (3L, base + "tail")))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_decisions").count() == 12,
      "expected 12 band verdicts (3 docs x 4 bands)")
    val dec = DocStream.decisions(spark.table("dedup_decisions"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(3))).toSet
    assert(dec.contains((1L, None, true)))
    assert(dec.contains((2L, None, true)))
    assert(dec.contains((3L, Some(1L), false)), s"got $dec")
  }

  test("event-time TTL: dup within TTL caught, state expires after watermark passes") {
    implicit val sql = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    // TTL = 100s of EVENT time, zero out-of-orderness: expiry is driven
    // by the data clock, so processAllAvailable() terminates (at most
    // one no-data batch per watermark advance) and a checkpoint replay
    // would reproduce the same verdicts — unlike ProcessingTimeTimeout.
    val verdicts = DocStream.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text", "ts"), n = 3, k = 16, bands = 4,
      tau = 0.5, ttl = Some(EventTimeTtl(tsCol = "ts",
        delay = "0 seconds", ttlMs = 100000L)))
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("dedup_et").start()
    try {
      in.addData(Seq((1L, base, ts(100)))); q.processAllAvailable()
      // 150s is within doc1's (100+100)s timeout: must be flagged
      in.addData(Seq((2L, base + "tail", ts(150)))); q.processAllAvailable()
      // unrelated doc at 600s pushes the watermark far past the
      // bucket's 250s timeout → base bucket state expires
      in.addData(Seq((3L, "totally different words here now", ts(600))))
      q.processAllAvailable()
      // near-dup of doc1 arrives AFTER expiry: must NOT be flagged
      in.addData(Seq((4L, base + "extra", ts(700)))); q.processAllAvailable()
    } finally q.stop()

    val flagged = spark.table("dedup_et")
      .filter(col("dup_of").isNotNull)
      .select("doc_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == Set((2L, 1L)),
      s"expected exactly (2 dup-of 1): within-TTL dup caught, " +
        s"post-expiry dup 4 forgotten; got $flagged")
  }

  test("event-time TTL: an out-of-order batch must not re-arm the timeout earlier (running max, not batch max)") {
    implicit val sql = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    // delay 500s admits heavily out-of-order events; TTL 100s of event
    // time. The bucket sees ts=400 then an OLDER ts=300 in the next
    // micro-batch: expiry must stay armed at 400+100, not drop to
    // 300+100 — per-batch max would evict at watermark 450 and forget
    // doc 1 while it is still inside its TTL.
    val verdicts = DocStream.nearDupVerdicts(
      in.toDF().toDF("doc_id", "text", "ts"), n = 3, k = 16, bands = 4,
      tau = 0.5, ttl = Some(EventTimeTtl(tsCol = "ts",
        delay = "500 seconds", ttlMs = 100000L)))
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName("dedup_ooo_et").start()
    try {
      in.addData(Seq((1L, base, ts(400)))); q.processAllAvailable()
      // older IDENTICAL doc: hits every band bucket doc 1 occupies, so
      // a per-batch-max arm re-arms ALL of them at 300+100
      in.addData(Seq((2L, base, ts(300)))); q.processAllAvailable()
      // unrelated doc drives the watermark to 950-500 = 450s: past a
      // per-batch-max arm (300+100) but short of the running max (400+100)
      in.addData(Seq((3L, "totally different words here now indeed", ts(950))))
      q.processAllAvailable()
      // above the 450s watermark and within doc 1's true TTL window:
      // state must still be there and flag the dup
      in.addData(Seq((4L, base + "tail", ts(460)))); q.processAllAvailable()
    } finally q.stop()

    val flagged = spark.table("dedup_ooo_et")
      .filter(col("dup_of").isNotNull)
      .select("doc_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == Set((2L, 1L), (4L, 1L)),
      s"expected (2,1) and (4,1) — premature eviction loses (4,1); got $flagged")
  }

  test("signature parity: streaming map-side sigs equal the batch groupBy sigs") {
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val streamSide = DocStream.withSignature(docs, n = 3, k = 16)
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // batch formulation: explode distinct shingles, min per seed
    val sh = graft.operators.TextDedup.shingleArrays(docs, 3)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val sigCols = (0 until 16).map(j => min(hash(lit(j), col("shingle"))).as(s"h$j"))
    val batchSide = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .withColumn("sig", array((0 until 16).map(j => col(s"h$j")): _*))
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(streamSide == batchSide)
  }

  test("judgeBucket: stored signatures keep their own width; a changed " +
    "width fails fast instead of mis-copying state") {
    import graft.streaming.BandDoc
    val old = Array(7L, 3L)
    val oldSigs = Array(1, 2, 3, 4, 5, 6, 7, 8)         // two 4-wide sigs
    // same width: old entries survive verbatim behind the new one
    val (v, ids, sigs) = DocStream.judgeBucket(old, oldSigs,
      Array(BandDoc(0, 0, 9L, Array(5, 6, 7, 0))), tau = 0.5, maxPerBucket = 10)
    assert(v.map(_.dup_of) == List(Some(3L)))
    assert(ids.toSeq == Seq(9L, 7L, 3L))
    assert(sigs.toSeq == Seq(5, 6, 7, 0, 1, 2, 3, 4, 5, 6, 7, 8))
    // k changed across a restart: narrower and wider batches both refuse
    Seq(Array(1, 2), Array(1, 2, 3, 4, 5, 6)).foreach { sig =>
      val e = intercept[IllegalStateException](DocStream.judgeBucket(
        old, oldSigs, Array(BandDoc(0, 0, 9L, sig)), 0.5, 10))
      assert(e.getMessage.contains("signature width changed"), e.getMessage)
      assert(e.getMessage.contains("checkpoint"), e.getMessage)
    }
  }
}
