package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The large-star/small-star component assignment against a driver-side
  * union-find ground truth: fixed topologies that stress the algorithm
  * (long chains need the most rounds; stars and cliques collapse in
  * one), a seeded random graph, and the convergence/lifecycle
  * contracts. */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark

  private def assign(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = ConnectedComponents.assign(edges.toDF("u", "v"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheScope.releaseAll()
    m
  }

  /** Driver-side union-find oracle: component = min member id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("long chain collapses to its minimum (worst-case round count)") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = assign(chain)
    assert(got.size == 64)
    assert(got.values.toSet == Set(0L), s"chain split: ${got.values.toSet}")
  }

  test("disjoint cliques, stars, and a bridge keep exact membership") {
    val clique = for { a <- 10L to 14L; b <- 10L to 14L if a < b } yield (a, b)
    val star = (31L to 35L).map(x => (30L, x))
    val bridged = Seq((50L, 51L), (52L, 53L), (51L, 52L))
    val got = assign(clique ++ star ++ bridged)
    assert((10L to 14L).forall(got(_) == 10L))
    assert((30L to 35L).forall(got(_) == 30L))
    assert((50L to 53L).forall(got(_) == 50L))
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val got = assign(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L), (1L, 2L), (7L, 7L)))
    assert(got(1L) == 1L && got(2L) == 1L)
    // 7 appears only in a self-loop: its own component
    assert(got(7L) == 7L)
  }

  test("seeded random graph matches a driver-side union-find") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val got = assign(edges)
    val want = unionFind(edges)
    assert(got == want,
      s"mismatch: ${got.toSet.diff(want.toSet).take(5)} vs ${want.toSet.diff(got.toSet).take(5)}")
  }

  test("empty edge list yields an empty assignment") {
    import spark.implicits._
    val df = ConnectedComponents.assign(
      Seq.empty[(Long, Long)].toDF("u", "v"))
    assert(df.count() == 0)
    CacheScope.releaseAll()
  }

  test("result stays readable after releaseAll, and a fresh run works") {
    import spark.implicits._
    val df = ConnectedComponents.assign(
      (0L until 20L).map(i => (i, i + 1)).toDF("u", "v"))
    df.count()
    CacheScope.releaseAll()
    // release is non-blocking; the LogicalRDD leaf recomputes nothing
    // upstream, so a fresh run must still be correct afterwards
    val again = ConnectedComponents.assign(
      (0L until 20L).map(i => (i, i + 1)).toDF("u", "v"))
    assert(again.count() == 21)
    CacheScope.releaseAll()
  }

  test("the loop never changes the caller's session conf: every job " +
    "started during assign sees the caller's AQE setting") {
    import spark.implicits._
    val aqe = "spark.sql.adaptive.enabled"
    val shp = spark.conf.get("spark.sql.shuffle.partitions")
    assert(spark.conf.get(aqe) == "true")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(spark.conf.get(aqe))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val chain = (0L until 63L).map(i => (i, i + 1))
      val got = ConnectedComponents.assign(chain.toDF("u", "v")).collect()
      assert(got.length == 64)
      org.apache.spark.sql.graft.Shims.drainListenerBus(spark)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      CacheScope.releaseAll()
    }
    import scala.jdk.CollectionConverters._
    // a 64-node chain needs several star rounds: the loop's jobs were seen
    assert(seen.size > 5, s"only ${seen.size} jobs observed")
    assert(seen.asScala.forall(_ == "true"), s"caller saw ${seen.asScala.toSeq}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shp)
  }
}
