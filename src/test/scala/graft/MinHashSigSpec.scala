package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the native MinHashSig kernel bit-identical to the composable
  * formulation it replaced on the streaming near-dup hot path:
  * sig[j] = array_min(transform(shingles, s => hash(lit(j), s))) —
  * Spark's Murmur3Hash with the int-literal seed chained into the
  * string hash. Any divergence would silently break stream≡batch
  * verdict parity (StreamingDedupSpec), so the pin is element-level
  * over adversarial inputs: unicode, empty strings, duplicates, a
  * one-element array, and the k-NULL contract for an empty or NULL
  * shingle array. */
class MinHashSigSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._

  private val k = 16

  private def hofSig = array((0 until k).map(j =>
    array_min(transform(col("shingles"), s => hash(lit(j), s)))): _*)

  test("kernel == array_min(transform(hash)) HOF, element for element, " +
    "on adversarial shingle arrays") {
    val rows = Seq(
      Seq("a b c", "b c d", "c d e"),
      Seq("solo"),
      Seq("", " ", "  "),                     // empty/whitespace strings
      Seq("héllo wörld ünïcode", "日本語 テスト 文字", "emoji 🎉 x"),
      Seq("dup", "dup", "dup"),               // duplicates cannot change min
      (1 to 200).map(i => s"w$i w${i + 1} w${i + 2}"), // long array
      Seq.empty[String],                       // k-NULL contract
      null)                                    // NULL input: k-NULL too
    val df = rows.toDF("shingles")
    val got = df.select(
      graft.functions.MinHashSig.column(col("shingles"), k).as("kernel"),
      hofSig.as("hof")).collect()
    assert(got.last.getSeq[Any](1) == Seq.fill(k)(null))
    got.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"kernel ${r.getSeq[Any](0)} != hof ${r.getSeq[Any](1)}")
    }
  }

  test("kernel is usable from SQL (extensions registration)") {
    val one = SparkTest.extSpark.sql(
      "SELECT minhash_sig(array('x y z', 'y z w'), 4) AS sig")
      .collect()(0).getSeq[Int](0)
    assert(one.length == 4)
  }
}
