package graft

import graft.operators.{KnnGraph, Similarity}
import graft.streaming.EmbStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs under Spark's default ANSI mode: an all-zero
  * vector (as a query, as a corpus member, or as a coarse cell) has no
  * defined cosine. Every similarity operator must then emit no row for
  * it and keep running — never raise DIVIDE_BY_ZERO, which would stop
  * a live streaming query on one bad arrival. Nonzero rows around it
  * keep their normal results. */
class ZeroNormSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  private val d = "/root/testdata/sf0.001"
  private val dotc = graft.functions.DotProduct.column _

  /** The sf0.001 corpus (500 × 64) with the given ids replaced by the
    * all-zero vector; carries (vec_id, label, e, norm). */
  private def vecs(zeroIds: Long*): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("e", when(col("vec_id").isin(zeroIds: _*),
        array_repeat(lit(0.0), 64)).otherwise(col("e")))
      .withColumn("norm", sqrt(dotc(col("e"), col("e"))))

  private def queries(v: DataFrame, ids: Long*): DataFrame =
    v.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("norm").as("qnorm"))

  /** (query_id, neighbor_id) pairs of a search/refine result. */
  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def assertNoZeroRows(got: Seq[(Long, Long)], k: Int,
      live: Seq[Long], what: String): Unit = {
    assert(!got.exists(p => p._1 == 0L || p._2 == 0L),
      s"$what: zero-norm vector 0 appears in ${got.filter(p => p._1 == 0L || p._2 == 0L)}")
    live.foreach(q => assert(got.count(_._1 == q) == k, s"$what: query $q"))
  }

  test("ivfPqSearch (broadcast and bulk) and ivfPqSearchRefine: a zero " +
    "query or corpus vector emits no row and never divides") {
    try {
      val v = vecs(0L)
      val raw = v.select("vec_id", "e")
      // kc = 500 >= corpus: the zero vector decodes to the zero vector
      // (dnorm 0) on the one-cell index, so it is a zero-norm neighbor
      // too; on the 4-cell index only its query side is exactly zero
      val flat = Similarity.pqFit(raw, dim = 64, m = 8, kc = 500, iters = 1)
      val ivf = Similarity.ivfPqFit(raw, dim = 64, m = 8, kc = 500,
        kCoarse = 4, iters = 2)
      val q = queries(v, 0L, 1L, 2L)
      for ((name, idx, np) <- Seq(("pqFit", flat, 1), ("ivfPqFit", ivf, 4));
           bulk <- Seq(false, true)) {
        assertNoZeroRows(
          pairs(Similarity.ivfPqSearch(idx, q, k = 5, nprobe = np, bulk = bulk)),
          5, Seq(1L, 2L), s"$name search bulk=$bulk")
        assertNoZeroRows(
          pairs(Similarity.ivfPqSearchRefine(idx, q, raw, k = 5, kShort = 20,
            nprobe = np, bulk = bulk)),
          5, Seq(1L, 2L), s"$name refine bulk=$bulk")
      }
    } finally CacheScope.releaseAll()
  }

  test("a zero-norm coarse cell (scc = 0) ranks after every nonzero " +
    "cell, and probing it scores nothing by division") {
    import spark.implicits._
    try {
      val v = vecs()
      val raw = v.select("vec_id", "e")
      val es = raw.collect().map(_.getSeq[Double](1).toArray)
      val mean = Array.tabulate(64)(j => es.map(_(j)).sum / es.length)
      // cell 0 is the origin, cell 1 the corpus mean: the lower id
      // would win any tie, so a probe that picks cell 1 first shows the
      // zero cell ranked last rather than first
      val coarse = Seq((0, Array.fill(64)(0.0), 0.0),
          (1, mean, mean.map(x => x * x).sum))
        .toDF("cluster", "ce", "scc")
      val idx = Similarity.ivfPqFitWithCoarse(raw, coarse, dim = 64, m = 8,
        kc = 500, kCoarse = 2, iters = 1)
      val cells = idx.codes.select("cluster").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(cells == Set(0, 1), s"fixture needs both cells populated: $cells")
      val q = queries(v, 1L, 2L, 3L)
      val one = Similarity.ivfPqSearch(idx, q, k = 5, nprobe = 1)
        .select("query_id", "cluster").collect()
      assert(one.length == 15)
      assert(one.forall(_.getInt(1) == 1), one.mkString(","))
      // both cells probed: every query gets its full top-k
      val both = pairs(Similarity.ivfPqSearch(idx, q, k = 5, nprobe = 2))
      Seq(1L, 2L, 3L).foreach(qid => assert(both.count(_._1 == qid) == 5))
    } finally CacheScope.releaseAll()
  }

  test("ivfSearch, sq8Search, semDedupWithin and lshNearDupPairs: " +
    "zero-norm rows are never scored, matched or divided by") {
    try {
      // vec 0 is zero AND alone in its label group, so its IVF cell
      // centroid is the origin (cnorm 0) as well
      val v = vecs(0L).withColumn("cluster_by",
        when(col("vec_id") === 0L, lit(999)).otherwise(col("label")))
      val ivf = pairs(Similarity.ivfSearch(v, Similarity.ivfIndex(v),
        col("vec_id") < 3, k = 5, nprobe = 2))
      assertNoZeroRows(ivf, 5, Seq(1L, 2L), "ivfSearch")

      val sq8 = pairs(Similarity.sq8Search(
        Similarity.sq8Index(v.select("vec_id", "e")),
        queries(v, 0L, 1L, 2L), k = 5))
      assertNoZeroRows(sq8, 5, Seq(1L, 2L), "sq8Search")

      // the zero vector has the lowest id in its label group, so a
      // scored pair (0, x) would make x a victim; it scores nothing,
      // so its group keeps every member it keeps without vec 0
      val withLabel = vecs(0L)
      def dedup(df: DataFrame): Map[Int, (Long, Long)] =
        Similarity.semDedupWithin(df, "label", tau = 0.4).collect()
          .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val got = dedup(withLabel)
      val without = dedup(withLabel.filter(col("vec_id") =!= 0L))
      val l0 = withLabel.filter(col("vec_id") === 0L).select("label")
        .collect()(0).getInt(0)
      assert(got == without.updated(l0,
        (without(l0)._1 + 1, without(l0)._2 + 1)))

      // two zero vectors share every band key, so (0, 1) is always an
      // LSH candidate
      val two = vecs(0L, 1L)
      def lsh(df: DataFrame): Set[(Long, Long)] =
        Similarity.lshNearDupPairs(df, dim = 64, bands = 4,
          bitsPerBand = 4, tau = 0.4)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh(two) == lsh(two.filter(col("vec_id") > 1L)))
    } finally CacheScope.releaseAll()
  }

  test("KnnGraph.forwardEdges over a corpus whose vec_id 0 is the zero " +
    "vector") {
    try {
      val raw = vecs(0L).select("vec_id", "e")
      val idx = Similarity.ivfPqFit(raw, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 2)
      // every cell probed: the zero vector seeds one of the four cells,
      // which may hold few members, and the top-k must not depend on it
      val edges = KnnGraph.forwardEdges(idx, raw.filter(col("vec_id") < 5),
        k = 3, nprobe = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(!edges.exists(_._1 == 0L))
      (1L until 5L).foreach(q => assert(edges.count(_._1 == q) == 3))
    } finally CacheScope.releaseAll()
  }

  test("semanticAdmitSink: an all-zero arrival leaves the query active " +
    "and gets no neighbor row") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("zero_admit_out")
    val ck = java.nio.file.Files.createTempDirectory("zero_admit_ck")
    try {
      val raw = vecs().select("vec_id", "e")
      val frozen = Similarity.ivfPqFit(raw, dim = 64, m = 8, kc = 16,
        kCoarse = 4, iters = 2)
      val in = MemoryStream[(Long, Seq[Double])]
      val q = EmbStream.semanticAdmitSink(in.toDF().toDF("vec_id", "e"),
        frozen, tau = 0.99, nprobe = 2, out.toString, ck.toString)
      try {
        val copy = raw.filter(col("vec_id") === 7L).collect()(0).getSeq[Double](1)
        in.addData(Seq((9000L, Seq.fill(64)(0.0)), (9001L, copy)))
        q.processAllAvailable()
        assert(q.isActive && q.exception.isEmpty, q.exception)
      } finally q.stop()
      val rows = spark.read.parquet(out.toString)
        .select("vec_id", "nn_id", "nn_qcos").collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(rows(9000L).isNullAt(1) && rows(9000L).isNullAt(2),
        s"zero arrival got a neighbor: ${rows(9000L)}")
      assert(!rows(9001L).isNullAt(1))
    } finally {
      CacheScope.releaseAll()
      Seq(out, ck).foreach { p =>
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(p)
        try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }
  }
}
