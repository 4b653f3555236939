package graft

import graft.operators.TextDedup
import org.scalatest.funsuite.AnyFunSuite

/** crossCorpusOverlap (benchmark decontamination): planted leaks are
  * found with exact collision counts, clean docs are not flagged, and
  * the threshold is monotone. */
class DecontaminateSpec extends AnyFunSuite {

  lazy val spark = SparkTest.spark

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // 30 distinct words -> 26 distinct 5-grams
  private val benchText = (0 until 30).map(i => s"b$i").mkString(" ")

  test("a train doc containing a verbatim benchmark span is flagged with the exact collision count") {
    // train doc 1 embeds bench words 0..14 (15 words -> 11 leaked
    // 5-grams, none spanning the prefix/suffix seams because the
    // surrounding vocab is disjoint); train doc 2 is clean.
    val leaked = ((0 until 5).map(i => s"t$i") ++
      (0 until 15).map(i => s"b$i") ++
      (0 until 5).map(i => s"u$i")).mkString(" ")
    val clean = (0 until 40).map(i => s"c$i").mkString(" ")
    val got = TextDedup.crossCorpusOverlap(
      df(Seq(1L -> leaked, 2L -> clean)), df(Seq(100L -> benchText)),
      n = 5, minShared = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 100L, 11L)), s"got $got")
  }

  test("shared grams below minShared are not reported; lower thresholds are supersets") {
    // 8 shared words -> 4 shared 5-grams: invisible at minShared=5,
    // reported at minShared=4
    val partial = ((0 until 8).map(i => s"b$i") ++
      (0 until 22).map(i => s"v$i")).mkString(" ")
    val train = df(Seq(1L -> partial))
    val bench = df(Seq(100L -> benchText))
    assert(TextDedup.crossCorpusOverlap(train, bench, 5, 5L).count() == 0L)
    val at4 = TextDedup.crossCorpusOverlap(train, bench, 5, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(at4 == Set((1L, 100L, 4L)), s"got $at4")
  }

  test("repeated occurrences of one gram count once (distinct-shingle semantics)") {
    // the train doc repeats the same 5-word window many times; the
    // collision evidence counts DISTINCT leaked grams, not occurrences
    val window = (0 until 5).map(i => s"b$i").mkString(" ")
    val repeated = Seq.fill(10)(window).mkString(" ")
    val got = TextDedup.crossCorpusOverlap(
      df(Seq(1L -> repeated)), df(Seq(100L -> benchText)), 5, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // repeating "b0..b4" ten times yields windows like "b3 b4 b0 b1 b2"
    // too — exactly the 5 rotations of the window, each a bench 5-gram
    // only if present in benchText; benchText is b0..b29 consecutive, so
    // only "b0 b1 b2 b3 b4" matches
    assert(got == Set((1L, 100L, 1L)), s"got $got")
  }

  test("streaming decontamination: on-arrival verdicts equal the batch sweep (parity by construction)") {
    // train docs stream in across micro-batches against the static
    // bench corpus; the union of per-batch outputs must equal the batch
    // operator over the full train set
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val bench = docs.filter(org.apache.spark.sql.functions
      .pmod($"doc_id", org.apache.spark.sql.functions.lit(10)) === 0)
    val train = docs.filter(org.apache.spark.sql.functions
      .pmod($"doc_id", org.apache.spark.sql.functions.lit(10)) =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val out = java.nio.file.Files.createTempDirectory("decon_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("decon_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.decontaminateSink(
      in.toDF().toDF("doc_id", "text"), bench, out, ckpt,
      n = 5, minShared = 5L)
    try {
      val (b1, b2) = train.splitAt(train.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(out)
      .select("train_id", "bench_id", "n_shared")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.queries.Docs
      .docDecontaminate(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}, batch-only: ${batch -- streamed}")
    assert(batch.nonEmpty, "corpus has no planted contamination; vacuous")
  }

  test("streaming SPAN decontamination: per-batch excisions equal the " +
    "batch sweep (parity by construction)") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val bench = docs.filter(org.apache.spark.sql.functions
      .pmod($"doc_id", org.apache.spark.sql.functions.lit(10)) === 0)
    val train = docs.filter(org.apache.spark.sql.functions
      .pmod($"doc_id", org.apache.spark.sql.functions.lit(10)) =!= 0)
    val rows = train.collect().map(r => (r.getLong(0), r.getString(1)))

    val out = java.nio.file.Files.createTempDirectory("dspan_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dspan_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.DocStream.decontaminateSpansSink(
      in.toDF().toDF("doc_id", "text"), bench, out, ckpt, n = 8)
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_words", "n_kept", "n_removed", "text_clean")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    val streamed = key(spark.read.parquet(out))
    val batch = key(graft.operators.Curation
      .decontaminateSpans(train, bench, 8))
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}, " +
        s"batch-only: ${(batch -- streamed).take(3)}")
    // non-vacuous: the corpus carries planted contamination to excise
    assert(streamed.exists(_._4 > 0L), "no spans excised; vacuous")
  }

  test("streaming FUZZY decontamination: on-arrival verdicts equal the " +
    "batch sweep (parity by construction)") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val bench = docs.filter(org.apache.spark.sql.functions
      .pmod($"doc_id", org.apache.spark.sql.functions.lit(10)) === 0)
    val train = docs.filter(org.apache.spark.sql.functions
      .pmod($"doc_id", org.apache.spark.sql.functions.lit(10)) =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val out = java.nio.file.Files.createTempDirectory("dfuzzy_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dfuzzy_ckpt").toString
    val in = MemoryStream[(Long, String)]
    // the batch query's parameters: md5 family, k = 16, 4 bands, τ 0.5
    val q = graft.streaming.DocStream.decontaminateFuzzySink(
      in.toDF().toDF("doc_id", "text"), bench, out, ckpt,
      n = 3, k = 16, bands = 4, tau = 0.5, md5Hash = true)
    try {
      val (b1, b2) = train.splitAt(train.length / 2)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "bench_id", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = key(spark.read.parquet(out))
    val batch = key(graft.queries.Docs.docDecontaminateFuzzy(spark, d))
    CacheScope.releaseAll()
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}, batch-only: ${batch -- streamed}")
    assert(batch.nonEmpty, "corpus has no fuzzy contamination; vacuous")
  }

  test("decontaminateSink: bench pins are counted — stopping one of two " +
    "queries over the same bench keeps the other's postings cached") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val bench = df(Seq(100L -> benchText))
    // the frame the sink pins, rebuilt: the cache is keyed by plan
    def cached: Boolean = TextDedup.gramPostings(bench, 5, "bench_id")
      .storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val terminated = new java.util.concurrent.LinkedBlockingQueue[java.util.UUID]()
    // registered AFTER both sinks' release listeners, so it hears each
    // termination only once those listeners have run
    val probe = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.put(e.id)
    }
    def start(): org.apache.spark.sql.streaming.StreamingQuery =
      graft.streaming.DocStream.decontaminateSink(
        MemoryStream[(Long, String)].toDF().toDF("doc_id", "text"), bench,
        java.nio.file.Files.createTempDirectory("dpin_out").toString,
        java.nio.file.Files.createTempDirectory("dpin_ck").toString)
    val q1 = start()
    val q2 = start()
    spark.streams.addListener(probe)
    try {
      assert(cached)
      q1.stop()
      assert(terminated.poll(60, java.util.concurrent.TimeUnit.SECONDS) == q1.id)
      assert(cached, "stopping q1 released bench postings q2 still joins")
      q2.stop()
      assert(terminated.poll(60, java.util.concurrent.TimeUnit.SECONDS) == q2.id)
      assert(!cached, "the last query's stop must release the pin")
    } finally {
      q1.stop(); q2.stop()
      spark.streams.removeListener(probe)
    }
  }

  test("crossCorpusFuzzy: a light paraphrase of a bench doc is flagged " +
    "with a high estimate, unrelated docs are not, pairs are strictly " +
    "cross-corpus, and md5/murmur3 families agree on the verdicts") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // doc 100 (bench) = 30 words; doc 1 (train) appends two words — a
    // light paraphrase: 28 of 30 3-shingles survive. doc 2 shares
    // nothing. doc 110 (bench) is a verbatim copy of bench doc 100:
    // bench×bench must NOT pair even though est would be 1.0.
    val para = ((0 until 30).map(i => s"b$i") ++ Seq("x0", "x1")).mkString(" ")
    val clean = (0 until 40).map(i => s"c$i").mkString(" ")
    val docs = df(Seq(1L -> para, 2L -> clean,
      100L -> benchText, 110L -> benchText))
    val isBench = pmod(col("doc_id"), lit(10)) === 0
    for (md5 <- Seq(true, false)) {
      val got = TextDedup.crossCorpusFuzzy(docs, isBench,
        n = 3, k = 16, bands = 4, tau = 0.5, md5Hash = md5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val flaggedTrain = got.map(_._1).toSet
      assert(flaggedTrain == Set(1L), s"md5=$md5: $got")
      // doc 1 pairs with BOTH bench copies; every estimate is high
      assert(got.map(t => (t._1, t._2)).toSet == Set(1L -> 100L, 1L -> 110L),
        s"md5=$md5: $got")
      got.foreach { case (_, _, est) =>
        assert(est >= 0.5 && est <= 1.0, s"md5=$md5: $got") }
      // strictly cross-corpus: no bench id ever appears on the train
      // side (the 100/110 verbatim pair is invisible by design)
      assert(got.forall(t => t._1 % 10 != 0 && t._2 % 10 == 0))
    }
  }

  test("crossCorpusFuzzy rejects a non-power-of-two k only for the " +
    "md5 (oracle-exact) family") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val docs = df(Seq(1L -> "a b c d e", 10L -> "a b c d e"))
    val isBench = pmod(col("doc_id"), lit(10)) === 0
    val e = intercept[IllegalArgumentException] {
      TextDedup.crossCorpusFuzzy(docs, isBench, k = 12, bands = 4,
        md5Hash = true)
    }
    assert(e.getMessage.contains("power of two"), e.getMessage)
    // murmur3 production family has no such constraint
    TextDedup.crossCorpusFuzzy(docs, isBench, k = 12, bands = 4,
      md5Hash = false).collect()
    CacheScope.releaseAll()
  }
}
