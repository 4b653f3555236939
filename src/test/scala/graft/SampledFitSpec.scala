package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sampled codebook training (`trainN`) — the 100 TB fit path: Lloyd's
  * rounds iterate a deterministic hash-sample while the full corpus is
  * assigned/encoded in exactly one final map-side pass.
  *
  * Pins: (1) trainN >= n reproduces the full fit's assignments/codes
  * (the sample IS the corpus — only plan shape differs); (2) the
  * sample selection is deterministic (no RNG — two fits, identical
  * codes); (3) the provably-exact endpoint survives sampling whenever
  * the sample covers the distinct subvector values (kc >= #distinct +
  * duplicated corpus => ADC == brute force, the PqSpec endpoint); and
  * (4) on clustered data a quarter-sample fit loses almost nothing
  * vs the full fit — recall measured, not assumed. */
class SampledFitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  private val d = "/root/testdata/sf0.001"

  private def vecs: DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  private def queries(v: DataFrame, nQ: Int): DataFrame =
    broadcast(v.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
      .withColumn("qnorm",
        sqrt(graft.functions.DotProduct.column(col("qe"), col("qe")))))

  private def exactTopK(v: DataFrame, nQ: Int, k: Int): Set[(Long, Long)] = {
    val dotc = graft.functions.DotProduct.column _
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    v.select(col("vec_id").as("neighbor_id"), col("e"),
        sqrt(dotc(col("e"), col("e"))).as("norm"))
      .crossJoin(queries(v, nQ))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dotc(col("e"), col("qe")) / (col("norm") * col("qnorm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def codesOf(idx: Similarity.IvfPqIndex): Map[Long, Seq[Int]] =
    idx.codes.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  test("kmeans: trainN >= n reproduces the full fit's assignments") {
    try {
      val full = Similarity.kmeans(vecs, k = 4, iters = 3)
        .select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val sampled = Similarity.kmeans(vecs, k = 4, iters = 3, trainN = 100000)
        .select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(sampled.size == full.size)
      assert(sampled == full)
    } finally CacheScope.releaseAll()
  }

  test("pqFit: trainN >= n reproduces the full fit's codes") {
    try {
      val full = codesOf(Similarity.pqFit(vecs, dim = 64, m = 8, kc = 16,
        iters = 2))
      val sampled = codesOf(Similarity.pqFit(vecs, dim = 64, m = 8, kc = 16,
        iters = 2, trainN = 100000))
      assert(sampled == full)
    } finally CacheScope.releaseAll()
  }

  test("pqFit: sampled fit is deterministic — no RNG in the plan") {
    try {
      val a = codesOf(Similarity.pqFit(vecs, dim = 64, m = 8, kc = 8,
        iters = 2, trainN = 200))
      val b = codesOf(Similarity.pqFit(vecs, dim = 64, m = 8, kc = 8,
        iters = 2, trainN = 200))
      assert(a == b)
      assert(a.size == 500) // the FULL corpus is encoded, not the sample
    } finally CacheScope.releaseAll()
  }

  test("sampled exact endpoint: duplicated corpus + kc >= #distinct " +
      "subvectors => ADC == brute force even from a half-sample") {
    import spark.implicits._
    try {
      // 120 vectors cycling over 4 distinct 8-dim patterns: any
      // 60-id hash-sample contains every pattern, so the sampled
      // codebook reconstructs exactly and search must equal brute
      // force (the PqSpec endpoint, now through the sampled path).
      val pats = Seq(
        Seq(1.0, 0.0, 2.0, 0.0, 1.0, 3.0, 0.0, 1.0),
        Seq(0.0, 2.0, 0.0, 1.0, 0.0, 1.0, 2.0, 0.0),
        Seq(3.0, 1.0, 0.0, 0.0, 2.0, 0.0, 1.0, 1.0),
        Seq(0.0, 0.0, 1.0, 2.0, 1.0, 0.0, 0.0, 3.0))
      val v = (0 until 120)
        .map(i => (i.toLong, pats(i % 4).map(x => x + (i % 4) * 0.001)))
        .toDF("vec_id", "e")
      // kc >= the sample size, so EVERY sampled vector seeds — the
      // PqSpec "kc >= corpus size" endpoint with the corpus replaced
      // by the sample; duplicate seeds collapse via the (d2, cluster)
      // tie-break and the survivors converge to the exact patterns
      val idx = Similarity.pqFit(v, dim = 8, m = 4, kc = 64, iters = 2,
        trainN = 60)
      val got = Similarity.ivfPqSearch(idx, queries(v, 6), k = 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exactTopK(v, 6, 5))
    } finally CacheScope.releaseAll()
  }

  test("pqFit: quarter-sample recall on the real corpus is close to " +
      "the full fit's") {
    try {
      val v = vecs
      val exact = exactTopK(v, 10, 10)
      def recall(idx: Similarity.IvfPqIndex): Double = {
        val got = Similarity.ivfPqSearch(idx, queries(v, 10), k = 10)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(exact).size.toDouble / exact.size
      }
      val rFull = recall(Similarity.pqFit(v, 64, 8, 32, 2))
      val rSamp = recall(Similarity.pqFit(v, 64, 8, 32, 2, trainN = 125))
      // measured, not assumed: a quarter-sample codebook may lose a
      // little recall but not collapse (full and sampled both quantize
      // the same distribution; the codebook only needs coverage)
      assert(rSamp >= rFull - 0.15, s"sampled $rSamp vs full $rFull")
    } finally CacheScope.releaseAll()
  }

  test("ivfPqFit: trainN >= n reproduces the full fit's cells and codes") {
    try {
      def cellsAndCodes(idx: Similarity.IvfPqIndex): Map[Long, (Int, Seq[Int])] =
        idx.codes.select("vec_id", "cluster", "codes").collect()
          .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Int](2))).toMap
      val full = cellsAndCodes(
        Similarity.ivfPqFit(vecs, dim = 64, m = 8, kc = 16, kCoarse = 4,
          iters = 2))
      val sampled = cellsAndCodes(
        Similarity.ivfPqFit(vecs, dim = 64, m = 8, kc = 16, kCoarse = 4,
          iters = 2, trainN = 100000))
      assert(sampled == full)
    } finally CacheScope.releaseAll()
  }
}
