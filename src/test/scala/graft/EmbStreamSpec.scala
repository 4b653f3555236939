package graft

import graft.operators.Similarity
import graft.streaming.EmbStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frozen-index streaming ANN: the union of per-micro-batch searches
  * equals the one-shot batch search over the same queries (parity by
  * construction — no cross-batch state to diverge), and at the
  * PQ-exact exhaustive setting both equal brute force. */
class EmbStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  private def vecs: DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  test("stream/batch parity across micro-batches; exact at the " +
    "exhaustive endpoint") {
    implicit val sql = spark.sqlContext
    val tmps = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tmp(prefix: String): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      tmps += p; p
    }
    try {
      val v = vecs
      val idx = Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 500,
        kCoarse = 4, iters = 2)
      // freeze through the artifact: stream scoring must work from a
      // reloaded index, not the in-session plans
      val idxDir = tmp("annstream_idx")
      Similarity.saveIvfPqIndex(idx, idxDir.toString)
      CacheScope.releaseAll()
      val frozen = Similarity.loadIvfPqIndex(spark, idxDir.toString)

      val qrows = v.filter(col("vec_id") < 6)
        .withColumn("qnorm",
          sqrt(graft.functions.DotProduct.column(col("e"), col("e"))))
        .select(col("vec_id").as("query_id"), col("e").as("qe"), col("qnorm"))
      val collected = qrows
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)

      val outDir = tmp("annstream_out")
      val ckDir = tmp("annstream_ck")
      val in = MemoryStream[(Long, Seq[Double], Double)]
      val q = EmbStream.annScoreSink(
        in.toDF().toDF("query_id", "qe", "qnorm"),
        frozen, k = 5, nprobe = 4, outDir.toString, ckDir.toString)
      try {
        val (b1, b2) = collected.splitAt(3)
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()

      val streamed = spark.read.parquet(outDir.toString)
        .select("query_id", "neighbor_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batch = Similarity.ivfPqSearch(frozen,
          broadcast(qrows), k = 5, nprobe = 4)
        .select("query_id", "neighbor_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batch,
        s"stream-only: ${streamed -- batch}, batch-only: ${batch -- streamed}")
      assert(streamed.size == 30, s"expected 6 queries x 5 ranks: $streamed")

      // refine twin: a LOSSY frozen index (kc=8) + exact re-rank from
      // the frozen raw vectors — per-batch refine outputs must union
      // to the one-shot batch refine, and (kShort covering the corpus)
      // to brute-force exact top-k
      val lossyDir = tmp("annstream_lossy")
      Similarity.saveIvfPqIndex(
        Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 8,
          kCoarse = 4, iters = 2), lossyDir.toString)
      CacheScope.releaseAll()
      val lossy = Similarity.loadIvfPqIndex(spark, lossyDir.toString)
      val outDir2 = tmp("annstream_out2")
      val ckDir2 = tmp("annstream_ck2")
      val in2 = MemoryStream[(Long, Seq[Double], Double)]
      val q2 = EmbStream.annScoreSink(
        in2.toDF().toDF("query_id", "qe", "qnorm"),
        lossy, k = 5, nprobe = 4, outDir2.toString, ckDir2.toString,
        refineRaw = Some(v), kShort = 50)
      try {
        val (b1, b2) = collected.splitAt(3)
        in2.addData(b1.toSeq); q2.processAllAvailable()
        in2.addData(b2.toSeq); q2.processAllAvailable()
      } finally q2.stop()
      val streamedRef = spark.read.parquet(outDir2.toString)
        .select("query_id", "neighbor_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batchRef = Similarity.ivfPqSearchRefine(lossy,
          broadcast(qrows), v, k = 5, kShort = 50, nprobe = 4)
        .select("query_id", "neighbor_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamedRef == batchRef,
        s"stream-only: ${streamedRef -- batchRef}, " +
          s"batch-only: ${batchRef -- streamedRef}")
    } finally {
      CacheScope.releaseAll()
      tmps.foreach { p =>
        val walk = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } finally walk.close()
      }
    }
  }

  test("semanticAdmitSink: per-batch admission verdicts equal the " +
    "batch filter against the frozen reference, and near-dups of " +
    "reference vectors are rejected") {
    implicit val sql = spark.sqlContext
    val tmps = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tmp(prefix: String): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      tmps += p; p
    }
    try {
      val v = vecs
      // reference index over the corpus at the exact endpoint, so the
      // nn_qcos of a VERBATIM copy is exactly 1.0
      val idxDir = tmp("admit_idx")
      Similarity.saveIvfPqIndex(
        Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 500,
          kCoarse = 4, iters = 2),
        idxDir.toString)
      CacheScope.releaseAll()
      val frozen = Similarity.loadIvfPqIndex(spark, idxDir.toString)

      // arrivals: 10 verbatim copies of reference vectors (must be
      // REJECTED at any tau < 1) + 10 fresh vectors (admitted unless
      // the corpus happens to carry a near-dup — judged per-row)
      val copies = v.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 5000)
      val fresh = v.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 6000)
        .withColumn("e", transform(col("e"), x => -x))
      val arrivals = copies.unionByName(fresh)
      val rows = arrivals.select("vec_id", "e")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)

      val outDir = tmp("admit_out")
      val ckDir = tmp("admit_ck")
      val in = MemoryStream[(Long, Seq[Double])]
      val tau = 0.99
      val q = EmbStream.semanticAdmitSink(
        in.toDF().toDF("vec_id", "e"),
        frozen, tau = tau, nprobe = 4, outDir.toString, ckDir.toString)
      try {
        val (b1, b2) = rows.splitAt(10)
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()

      val streamed = spark.read.parquet(outDir.toString)
        .select("vec_id", "admit")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
      assert(streamed.size == 20)
      // every verbatim copy is rejected; its nearest neighbor is its
      // original at qcos 1.0 >= tau
      (5000L until 5010L).foreach(id =>
        assert(!streamed(id), s"copy $id admitted"))
      // batch parity: the same verdict from a one-shot batch filter
      val qside = arrivals.select(col("vec_id").as("query_id"),
          col("e").as("qe"))
        .withColumn("qnorm", sqrt(
          graft.functions.DotProduct.column(col("qe"), col("qe"))))
      val batchVerdicts = Similarity.ivfPqSearch(frozen,
          broadcast(qside), k = 1, nprobe = 4, excludeSelf = false)
        .select(col("query_id"), col("qcos"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1) < tau)).toMap
      val batch = streamed.keys.map(id =>
        id -> batchVerdicts.getOrElse(id, true)).toMap
      assert(streamed == batch,
        s"diff: ${streamed.toSet -- batch.toSet}")
      // non-vacuous both ways
      assert(streamed.values.exists(identity))
      assert(streamed.values.exists(!_))
    } finally {
      CacheScope.releaseAll()
      tmps.foreach { p =>
        val walk = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } finally walk.close()
      }
    }
  }

  test("ivfPqAppendSink: stream-appended deltas fold to the batch " +
    "ivfPqAppend, and at the exact endpoint to brute-force exact " +
    "search (refit equivalence)") {
    implicit val sql = spark.sqlContext
    val tmps = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tmp(prefix: String): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      tmps += p; p
    }
    try {
      val v = vecs
      // streamed batch = copies of vectors 0..99 under fresh ids (the
      // IvfPqSpec exact-endpoint construction: a copy lands in its
      // original's cell with the same residual, whose exact code the
      // kc >= |corpus| codebook already carries) — so the folded index
      // is exact over the grown corpus and all three must agree hard
      val dup = v.filter(col("vec_id") < 100)
        .withColumn("vec_id", col("vec_id") + 1000)
      val v2 = v.unionByName(dup)
      val idxDir = tmp("appsink_idx")
      Similarity.saveIvfPqIndex(
        Similarity.ivfPqFit(v, dim = 64, m = 8, kc = 500,
          kCoarse = 4, iters = 2),
        idxDir.toString)
      CacheScope.releaseAll()
      val frozen = Similarity.loadIvfPqIndex(spark, idxDir.toString)

      val deltaDir = tmp("appsink_delta")
      val ckDir = tmp("appsink_ck")
      val in = MemoryStream[(Long, Seq[Double])]
      val q = EmbStream.ivfPqAppendSink(
        in.toDF().toDF("vec_id", "e"),
        frozen, deltaDir.toString, ckDir.toString)
      val rows = dup.select("vec_id", "e")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      try {
        val (b1, b2) = rows.splitAt(50)
        in.addData(b1.toSeq); q.processAllAvailable()
        in.addData(b2.toSeq); q.processAllAvailable()
      } finally q.stop()

      val folded = Similarity.loadIvfPqIndexWithDeltas(
        spark, idxDir.toString, deltaDir.toString)
      // staleness accounting: every streamed row is counted
      assert(folded.meta.select("n_appended").collect()(0).getLong(0) ==
        100L)
      assert(folded.codes.count() == 600L)

      val qrows = v2.filter(col("vec_id") < 6)
        .withColumn("qnorm",
          sqrt(graft.functions.DotProduct.column(col("e"), col("e"))))
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("qnorm"))
      def pairs(idx: Similarity.IvfPqIndex): Set[(Long, Long, Int)] =
        Similarity.ivfPqSearch(idx, broadcast(qrows), k = 5, nprobe = 4)
          .select("query_id", "neighbor_id", "rnk")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .toSet
      val streamed = pairs(folded)
      // batch-append twin on the same frozen base
      assert(streamed == pairs(Similarity.ivfPqAppend(frozen, dup)))
      // exact endpoint: kc >= grown corpus + exhaustive nprobe ⇒ the
      // stream-folded index searches like a full refit
      assert(streamed == pairs(Similarity.ivfPqFit(v2, dim = 64, m = 8,
        kc = 600, kCoarse = 4, iters = 2)))
      // the appended copies rank as their originals' top neighbors:
      // every query (a dup'd original) must see its +1000 twin first
      assert((0L until 6L).forall(qid =>
        streamed.contains((qid, qid + 1000L, 1))))
    } finally {
      CacheScope.releaseAll()
      tmps.foreach { p =>
        val walk = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } finally walk.close()
      }
    }
  }

  test("semanticAdmitSink: index pins are counted — stopping one of two " +
    "admission queries over the same index keeps the other's frames cached") {
    implicit val sql = spark.sqlContext
    val tmps = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tmp(prefix: String): String = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      tmps += p; p.toString
    }
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
    try {
      val idxDir = tmp("pin_idx")
      Similarity.saveIvfPqIndex(Similarity.ivfPqFit(vecs, dim = 64, m = 8,
        kc = 16, kCoarse = 2, iters = 1), idxDir)
      CacheScope.releaseAll()
      val frozen = Similarity.loadIvfPqIndex(spark, idxDir)
      def cached: Seq[Boolean] = Seq(frozen.coarse, frozen.codebooks,
        frozen.codes).map(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      def start(): org.apache.spark.sql.streaming.StreamingQuery =
        EmbStream.semanticAdmitSink(
          MemoryStream[(Long, Seq[Double])].toDF().toDF("vec_id", "e"),
          frozen, tau = 0.9, nprobe = 2, tmp("pin_out"), tmp("pin_ck"))
      val q1 = start()
      val q2 = start()
      spark.streams.addListener(probe)
      try {
        assert(cached == Seq(true, true, true))
        q1.stop()
        assert(terminated.poll(60, java.util.concurrent.TimeUnit.SECONDS) == q1.id)
        assert(cached == Seq(true, true, true),
          "stopping q1 released index frames q2 still serves")
        q2.stop()
        assert(terminated.poll(60, java.util.concurrent.TimeUnit.SECONDS) == q2.id)
        assert(cached == Seq(false, false, false),
          "the last admission query's stop must release the pin")
      } finally { q1.stop(); q2.stop() }
    } finally {
      spark.streams.removeListener(probe)
      CacheScope.releaseAll()
      tmps.foreach { p =>
        val walk = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } finally walk.close()
      }
    }
  }
}
