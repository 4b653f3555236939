package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object SparkTest {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(GraftSession.localFs)
    .getOrCreate()

  /** Session with GraftExtensions installed (optimizer rule + planner
    * strategy), sharing the SparkContext. getOrCreate would silently
    * return the default session and ignore withExtensions, so the
    * default is cleared around construction. */
  lazy val extSpark: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }
}

class SimHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  import graft.functions.GraftFunctions.simhash64

  lazy val spark: SparkSession = SparkTest.spark

  test("identical token arrays get identical signatures") {
    import spark.implicits._
    val df = Seq("a b c d e f", "a b c d e f", "x y z w q r")
      .toDF("text")
      .select(simhash64(split(col("text"), " ")).as("sig"))
    val sigs = df.collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("near-identical docs land within small hamming distance") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "changed" else s"tok$i").mkString(" ")
    val far = (100 to 160).map(i => s"other$i").mkString(" ")
    val sigs = Seq(base, nearDup, far).toDF("text")
      .select(simhash64(split(col("text"), " ")).as("sig"))
      .collect().map(_.getLong(0))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(0), sigs(1)) <= 12,
      s"near-dup hamming was ${hamming(sigs(0), sigs(1))}")
    assert(hamming(sigs(0), sigs(2)) > 12,
      s"far-doc hamming was ${hamming(sigs(0), sigs(2))}")
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val df = Seq.tabulate(50)(i => (1 to 20).map(j => s"w${i}_$j").mkString(" "))
      .toDF("text")
    val tokens = split(col("text"), " ")
    val viaCodegen = df.select(simhash64(tokens).as("sig")).collect().map(_.getLong(0))
    // interpreted path: evaluate the expression directly per row
    val viaEval = df.select(col("text")).collect().map { r =>
      val toks = r.getString(0).split(" ")
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString))
      graft.functions.SimHash64.compute(arr)
    }
    assert(viaCodegen.toSeq == viaEval.toSeq)
  }

  test("SQL registration via GraftFunctions.register and extensions") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("SELECT simhash64(array('a','b','c')) AS s").collect()
    assert(r.length == 1)
  }
}
