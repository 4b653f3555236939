package graft

import org.scalatest.funsuite.AnyFunSuite

/** The consumer entry point: GraftSession.local must yield a session
  * where the library's SQL functions and scale defaults are live even
  * when an earlier session already exists (the getOrCreate-ignores-
  * extensions trap). */
class GraftSessionSpec extends AnyFunSuite {

  test("local() registers SQL functions on a pre-existing session") {
    SparkTest.spark // force the shared session to exist first
    val s = GraftSession.local(4)
    val r = s.sql(
      "SELECT repetition_stats(array('a','a','b'), 1).top_count AS t")
      .collect()(0).getInt(0)
    assert(r == 2)
    val sh = s.sql("SELECT simhash64(array('x','y')) AS h").collect()(0)
    assert(!sh.isNullAt(0))
  }

  test("scale defaults are applied") {
    val s = GraftSession.local(4)
    // every GraftSession.builder setting, incl. the 64k AQE coalescing
    // floor the bench is timed under: one session shape for all tools
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.hadoop.fs.file.impl" -> "graft.ForkFreeLocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.ForkFreeLocalFs"
    ).foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }

  test("GraftSession is the only session builder under src/main, and " +
    "the removed tuning knobs have no reader") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"expected to run from the repository root, cwd=${sys.props("user.dir")}")
    val walk = Files.walk(root)
    val sources: Seq[(Path, String)] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p -> Files.readString(p)).toList
      finally walk.close()
    assert(sources.exists(_._1.endsWith("graft/GraftSession.scala")))
    val builders = sources.collect {
      case (p, src) if !p.endsWith("graft/GraftSession.scala") &&
        src.contains("SparkSession.builder(") => p
    }
    assert(builders.isEmpty, s"second session builder in $builders")
    val removed = Seq("SPARK_GRAFT_MIN_PART", "SPARK_GRAFT_SPREAD_BPT",
      "spark.graft.spread.bytesPerTask", "spark.graft.cc.adaptive")
    val readers = for ((p, src) <- sources; k <- removed if src.contains(k))
      yield s"$p reads $k"
    assert(readers.isEmpty, readers.mkString("; "))
  }

  test("register leaves functions an extensions-built session already " +
    "has in place instead of replacing each with itself") {
    val s = SparkTest.extSpark
    val registry = s.sessionState.functionRegistry
    // every graft function GraftExtensions injected, by its registry entry
    def graftInfos = registry.listFunction()
      .flatMap(id => registry.lookupFunction(id).map(id.funcName -> _))
      .filter(_._2.getClassName.startsWith("graft.functions.")).toMap
    val before = graftInfos
    assert(before.contains("simhash64"), before.keys.toString)
    graft.functions.GraftFunctions.register(s)
    val after = graftInfos
    val replaced = before.keys.filterNot(n => after.get(n).exists(_ eq before(n)))
    assert(replaced.isEmpty, s"re-registered: $replaced")
  }

  test("as-of planner strategy survives a pre-existing session (ensure path)") {
    SparkTest.spark // extensions-less session exists first
    val s = GraftSession.local(4)
    import s.implicits._
    // a plan that only AsOfJoinStrategy can execute
    val left = Seq((1L, 10L), (1L, 20L)).toDF("k", "t")
    val right = Seq((1L, 5L, "a"), (1L, 15L, "b")).toDF("k", "rt", "v")
    val joined = graft.plans.AsOfJoin.join(left, right,
      leftKey = "k", leftTime = "t", rightKey = "k", rightTime = "rt")
    val got = joined.select("t", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "a"), (20L, "b")))
  }

  test("repetition_stats SQL misuse fails with a clear message") {
    val s = GraftSession.local(4)
    val e1 = intercept[Exception](
      s.sql("SELECT repetition_stats(array('a'))").collect())
    assert(e1.getMessage.contains("exactly 2 arguments"), e1.getMessage)
    val e2 = intercept[Exception](s.sql(
      "SELECT repetition_stats(array('a'), id) FROM range(3)").collect())
    assert(e2.getMessage.contains("literal"), e2.getMessage)
  }
}
