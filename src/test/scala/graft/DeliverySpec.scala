package graft

import graft.operators.{KnnGraph, Similarity}
import graft.streaming.Delivery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one delivery path: every streaming sink's batch-dir layout lives
  * in [[Delivery]], and the delta reader both loaders share skips
  * subtrees with nothing readable in them. */
class DeliverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark

  test("foreachBatch and batch_id= paths appear under src/main only in " +
    "the delivery module") {
    val sources = SourceScan.mainSources()
    assert(sources.exists(_._1.endsWith("graft/streaming/Delivery.scala")))
    // code only (scaladocs may describe the layout they deliver into);
    // Spark's foreachBatch, not calls to Delivery's own primitive
    val tokens = Seq("Spark foreachBatch" -> "(?<!Delivery)\\.foreachBatch\\b".r,
      "a batch_id= path" -> "batch_id=".r)
    val strays = for {
      (p, src) <- sources if !p.endsWith("graft/streaming/Delivery.scala")
      (what, re) <- tokens if re.findFirstIn(src).isDefined
    } yield s"$p uses $what"
    assert(strays.isEmpty, strays.mkString("; "))
  }

  test("delta reader: batch_id subtrees holding only _SUCCESS or " +
    "_temporary are skipped, and both loaders load the base unchanged") {
    val tmps = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tmp(prefix: String): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      tmps += p; p
    }
    try {
      val v: DataFrame = spark.range(30).select(col("id").as("vec_id"),
        array((1 to 64).map(j => sin((col("id") + 1) * j)): _*).as("e"))
      val idxDir = tmp("dr_idx").toString
      Similarity.saveIvfPqIndex(Similarity.ivfPqFit(v, dim = 64, m = 8,
        kc = 16, kCoarse = 2, iters = 1), idxDir)
      CacheScope.releaseAll()
      val idx = Similarity.loadIvfPqIndex(spark, idxDir)
      val gDir = tmp("dr_graph").toString
      KnnGraph.save(KnnGraph.forwardEdges(idx, v, k = 3, nprobe = 2),
        k = 3, nprobe = 2, gDir)

      // an empty committed batch (marker only) and an aborted first
      // write (data files, but only under _temporary)
      val deltas = tmp("dr_deltas")
      val done = java.nio.file.Files.createDirectories(deltas.resolve("batch_id=0"))
      java.nio.file.Files.createFile(done.resolve("_SUCCESS"))
      KnnGraph.forwardEdges(idx, v, k = 3, nprobe = 2).write
        .parquet(deltas.resolve("batch_id=1/_temporary/0").toString)

      assert(Delivery.readDeltas(spark, deltas.toString).isEmpty)
      val withIdx = Similarity.loadIvfPqIndexWithDeltas(spark, idxDir,
        deltas.toString)
      assert(withIdx.codes.count() == idx.codes.count())
      assert(withIdx.meta.collect().toSeq == idx.meta.collect().toSeq)
      def edges(g: KnnGraph.KnnGraphArtifact) =
        g.edges.select("query_id", "neighbor_id", "rnk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val base = KnnGraph.load(spark, gDir)
      val withGraph = KnnGraph.loadWithDeltas(spark, gDir, deltas.toString)
      assert(edges(withGraph) == edges(base))
      assert(withGraph.meta.collect()(0).getAs[Long]("n_appended") == 0L)
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
}
