package graft

import graft.operators.{GraphDedup, KnnGraph, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph-based semantic dedup (operators/GraphDedup): mutual-kNN
  * semantics, hub containment, and the end-to-end pin — dedup over the
  * ivfPqKnnJoin exact-endpoint graph equals dedup over the brute-force
  * exact cosine graph, because at kc ≥ corpus with one coarse cell the
  * residual ADC scores ARE the exact scores. */
class GraphDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._
  private val d = "/root/testdata/sf0.001"

  private def graphDf(rows: Seq[(Long, Long, Double)]): DataFrame =
    rows.toDF("query_id", "neighbor_id", "qcos")

  test("mutualKnnEdges keeps only reciprocated pairs with BOTH " +
    "directed scores over tau") {
    val g = graphDf(Seq(
      (1L, 2L, 0.9), (2L, 1L, 0.9),   // mutual, both pass
      (3L, 4L, 0.9),                   // one-directional (4 never lists 3)
      (5L, 6L, 0.9), (6L, 5L, 0.3),   // mutual but one side under tau
      (7L, 8L, 0.3), (8L, 7L, 0.3)))  // mutual, both under tau
    val got = GraphDedup.mutualKnnEdges(g, tau = 0.5)
      .select("u", "v").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("a hub in many top-k lists cannot glue regions it does not " +
    "reciprocate: components stay separate") {
    // hub 0 appears in everyone's list; hub's own list only holds 1, 2
    val g = graphDf(Seq(
      (1L, 0L, 0.9), (2L, 0L, 0.9), (3L, 0L, 0.9), (4L, 0L, 0.9),
      (0L, 1L, 0.9), (0L, 2L, 0.9),
      (3L, 4L, 0.8), (4L, 3L, 0.8)))
    val nodes = (0L to 4L).toDF("id")
    val got = GraphDedup.knnGraphDedup(g, nodes, tau = 0.5)
      .select("id", "component").as[(Long, Long)].collect().toMap
    // {0,1,2} via the reciprocated hub edges; {3,4} separate
    assert(got(0L) == 0L && got(1L) == 0L && got(2L) == 0L)
    assert(got(3L) == 3L && got(4L) == 3L)
  }

  test("keep = smallest id per component; isolated nodes are " +
    "singletons and kept; n_members counts the whole group") {
    val g = graphDf(Seq(
      (10L, 11L, 0.9), (11L, 10L, 0.9),
      (11L, 12L, 0.9), (12L, 11L, 0.9)))
    val nodes = Seq(10L, 11L, 12L, 99L).toDF("id")
    val got = GraphDedup.knnGraphDedup(g, nodes, tau = 0.5)
      .select("id", "component", "n_members", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((10L, 3L, true)))
    assert(got(11L) == ((10L, 3L, false)))
    assert(got(12L) == ((10L, 3L, false)))
    assert(got(99L) == ((99L, 1L, true)))
  }

  test("skew-safe membership counts (groupBy+join opt-in) produce " +
    "exactly the default window shape's rows") {
    val g = graphDf(Seq(
      (10L, 11L, 0.9), (11L, 10L, 0.9),
      (11L, 12L, 0.9), (12L, 11L, 0.9),
      (20L, 21L, 0.7), (21L, 20L, 0.7)))
    val nodes = Seq(10L, 11L, 12L, 20L, 21L, 99L).toDF("id")
    def run(): Set[(Long, Long, Long, Boolean)] =
      GraphDedup.knnGraphDedup(g, nodes, tau = 0.5)
        .select("id", "component", "n_members", "keep")
        .as[(Long, Long, Long, Boolean)].collect().toSet
    val byWindow = run()
    spark.conf.set("spark.graft.dedup.skewSafeCounts", "true")
    try assert(run() == byWindow)
    finally spark.conf.unset("spark.graft.dedup.skewSafeCounts")
  }

  test("dedup over the exact-endpoint ivfPqKnnJoin graph == dedup " +
    "over the brute-force exact cosine graph") {
    try {
      val dotc = graft.functions.DotProduct.column _
      val v = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("norm", sqrt(dotc(col("e"), col("e"))))
      val k = 4
      // brute-force exact graph
      val w = Window.partitionBy("query_id")
        .orderBy(col("qcos").desc, col("neighbor_id").asc)
      val exact = v.select(col("vec_id").as("neighbor_id"),
          col("e").as("ne"), col("norm").as("nn"))
        .crossJoin(broadcast(v.select(col("vec_id").as("query_id"),
          col("e").as("qe"), col("norm").as("qnorm"))))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("qcos",
          dotc(col("ne"), col("qe")) / (col("nn") * col("qnorm")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select("query_id", "neighbor_id", "qcos")
      // exact-endpoint bulk graph: kc >= corpus, one coarse cell
      val idx = Similarity.ivfPqFit(v.select("vec_id", "e"),
        dim = 64, m = 8, kc = 500, kCoarse = 1, iters = 1)
      val bulk = Similarity.ivfPqSearch(idx,
        v.select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("norm").as("qnorm")), k = k, nprobe = 1, bulk = true)
      val nodes = v.select(col("vec_id").as("id"))
      val tau = 0.35
      def verdicts(g: DataFrame): Map[Long, (Long, Long, Boolean)] =
        GraphDedup.knnGraphDedup(g, nodes, tau)
          .select("id", "component", "n_members", "keep")
          .as[(Long, Long, Long, Boolean)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val ve = verdicts(exact)
      val vb = verdicts(bulk)
      assert(ve == vb)
      // and the fixture is non-trivial: some group has > 1 member
      assert(ve.values.exists(_._2 > 1L))
    } finally CacheScope.releaseAll()
  }

  test("diversityPrototypes: reps are closed-neighborhood minima, " +
    "the selected set DOMINATES the tau-graph, chains keep " +
    "intermediate prototypes (unlike dedup), isolated nodes are " +
    "their own prototype") {
    // two dense neighborhoods {1,2,3} and {10,11}, a chain 20-21-22
    // (21 bridges but 20/22 are not mutual neighbors), isolate 99
    def sym(a: Long, b: Long) = Seq((a, b, 0.9), (b, a, 0.9))
    val g = graphDf(
      sym(1L, 2L) ++ sym(1L, 3L) ++ sym(2L, 3L) ++
        sym(10L, 11L) ++ sym(20L, 21L) ++ sym(21L, 22L))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 99L).toDF("id")
    val got = GraphDedup.diversityPrototypes(g, nodes, tau = 0.5)
      .select("id", "rep", "selected")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1L, true)) && got(2L) == ((1L, false)) &&
      got(3L) == ((1L, false)))
    assert(got(10L) == ((10L, true)) && got(11L) == ((10L, false)))
    // chain: 20's neighborhood is {20,21} -> rep 20; 21 sees 20;
    // 22 sees {21,22} -> rep 21, which IS selected (as its own and
    // 21's? no — 21's rep is 20) — selected because 22 names it
    assert(got(20L) == ((20L, true)))
    assert(got(21L) == ((20L, true))) // rep'd by 20, selected FOR 22
    assert(got(22L) == ((21L, false)))
    // 21 is selected purely as 22's prototype: coverage over sparsity
    val selected = got.filter(_._2._2).keySet
    assert(selected == Set(1L, 10L, 20L, 21L, 99L))
    assert(got(99L) == ((99L, true)))
    // domination: every node's rep is itself or a tau-neighbor
    val edges = GraphDedup.mutualKnnEdges(g, 0.5).select("u", "v")
      .as[(Long, Long)].collect()
      .flatMap(e => Seq(e, e.swap)).toSet
    got.foreach { case (id, (rep, _)) =>
      assert(id == rep || edges((id, rep)), s"node $id not dominated")
      assert(got(rep)._2, s"rep $rep of $id not selected")
    }
    // determinism: a second evaluation is identical
    val again = GraphDedup.diversityPrototypes(g, nodes, tau = 0.5)
      .select("id", "rep", "selected")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again == got)
  }

  test("diversityPrototypes vs knnGraphDedup on the same graph: " +
    "diversity never keeps fewer nodes, and both keep full coverage " +
    "classes they promise") {
    // one 5-chain: dedup collapses it to ONE canonical; diversity
    // keeps a dominating set of it
    def sym(a: Long, b: Long) = Seq((a, b, 0.9), (b, a, 0.9))
    val g = graphDf(sym(1L, 2L) ++ sym(2L, 3L) ++ sym(3L, 4L) ++
      sym(4L, 5L))
    val nodes = (1L to 5L).toDF("id")
    val dedupKept = GraphDedup.knnGraphDedup(g, nodes, tau = 0.5)
      .filter(col("keep")).select("id").as[Long].collect().toSet
    val divKept = GraphDedup.diversityPrototypes(g, nodes, tau = 0.5)
      .filter(col("selected")).select("id").as[Long].collect().toSet
    assert(dedupKept == Set(1L)) // whole chain is one component
    // diversity: reps are 1 (for 1,2), 2 (for 3), 3 (for 4), 4 (for 5)
    assert(divKept == Set(1L, 2L, 3L, 4L))
    assert(dedupKept.subsetOf(divKept))
  }

  test("saveVerdicts/loadVerdicts round trip is consumer-invisible; " +
    "needsRecompute fires exactly on graph-stamp drift") {
    val tmps = scala.collection.mutable.ArrayBuffer
      .empty[java.nio.file.Path]
    def tmp(p: String) = {
      val t = java.nio.file.Files.createTempDirectory(p); tmps += t; t
    }
    try {
      val gDir = tmp("gd_graph"); val vDir = tmp("gd_verdicts")
      val edges = Seq(
        (1L, 2L, 1, 0.9), (2L, 1L, 1, 0.9),
        (3L, 4L, 1, 0.2), (4L, 3L, 1, 0.2))
        .toDF("query_id", "neighbor_id", "rnk", "qcos")
      KnnGraph.save(edges, k = 1, nprobe = 2, gDir.toString)
      val g = KnnGraph.load(spark, gDir.toString)
      val nodes = (1L to 5L).toDF("id")
      val verdicts = GraphDedup.knnGraphDedup(g.edges, nodes, tau = 0.5)
      GraphDedup.saveVerdicts(verdicts, tau = 0.5, g.meta, vDir.toString)
      val loaded = GraphDedup.loadVerdicts(spark, vDir.toString)
      assert(loaded.tau == 0.5)
      def vset(df: DataFrame) =
        df.select("id", "component", "n_members", "keep")
          .as[(Long, Long, Long, Boolean)].collect().toSet
      assert(vset(loaded.verdicts) == vset(verdicts))
      // honest meta counts from the materialized verdicts
      val m = loaded.meta.collect()(0)
      assert(m.getAs[Long]("n_ids") == 5L &&
        m.getAs[Long]("n_components") == 4L)
      // same graph: current; any stamp drift (a delta fold bumps
      // n_appended and n_edges) => recompute
      assert(!GraphDedup.needsRecompute(loaded, g))
      val drifted = g.copy(meta = g.meta
        .withColumn("n_appended", lit(3L)))
      assert(GraphDedup.needsRecompute(loaded, drifted))
      // malformed frames hit the fail-fast messages, not an opaque
      // analysis exception
      val e1 = intercept[IllegalArgumentException] {
        GraphDedup.saveVerdicts(verdicts.drop("keep"), 0.5, g.meta,
          vDir.toString)
      }
      assert(e1.getMessage.contains("verdict frame"))
      val e2 = intercept[IllegalArgumentException] {
        GraphDedup.saveVerdicts(verdicts, 0.5,
          g.meta.drop("n_appended"), vDir.toString)
      }
      assert(e2.getMessage.contains("graph meta"))
    } finally {
      tmps.foreach { p =>
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }
  }
}
