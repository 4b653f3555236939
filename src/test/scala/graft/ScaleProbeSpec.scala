package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The ScaleProbe harness end to end on sf0.001, in the shared test
  * session: the six PQ spellings behind one body, the ANN probes that
  * reuse its recall and sweep helpers, one sink probe through the one
  * stream runner, and the skew probe on its cloned session. Records go
  * to a temp records dir only. */
class ScaleProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  private val d = "/root/testdata/sf0.001"

  // each probe's record keys as the pre-refactor harness wrote them
  private val pqKeys = Set("build_secs", "dir", "kc", "m", "n_queries",
    "rows", "topk", "wall_s")
  private val refineKeys = Set("adc_secs", "k_short", "recall_adc",
    "recall_refined", "refine_secs", "train_n")
  private val bytesKeys = Set("bytes_ratio", "codes_bytes", "raw32_bytes")
  private val expectedKeys: Seq[(String, Set[String])] = Seq(
    "pq:8:16:10" -> (pqKeys ++ bytesKeys ++ Set("recall", "search_secs")),
    "pqs:8:16:200:10" -> (pqKeys ++ Set("recall", "search_secs", "train_n")),
    "pqr:8:16:200:10:50" -> (pqKeys ++ refineKeys),
    "ivfpq:8:16:4:10" -> (pqKeys ++ bytesKeys ++ Set("curve", "k_coarse")),
    "ivfpqs:8:16:4:200:10" ->
      (pqKeys ++ Set("curve", "k_coarse", "train_n")),
    "ivfpqr:8:16:4:200:10:50" ->
      (pqKeys ++ refineKeys ++ Set("k_coarse", "nprobe")),
    "knn:8:16:4:200:10:2:100" -> (pqKeys ++ Set("graph_rows_per_s",
      "join_secs", "k_coarse", "nprobe", "sampled_recall", "train_n")),
    "sq8:5" -> Set("build_secs", "bytes_ratio", "dir", "index_bytes", "k",
      "n_queries", "raw32_bytes", "recall", "rows", "search_secs", "wall_s"),
    "ivfcurve:10:4" -> Set("build_secs", "curve", "dir", "k", "n_cells",
      "n_queries", "rows", "wall_s"),
    "qcstream:40000" -> Set("batch_ms_first", "batch_ms_max", "batch_ms_p50",
      "batch_ms_p99", "build_secs", "dir", "docs_per_s", "n_batches", "rows",
      "secs", "state_rows", "train_docs", "wall_s"),
    "skewjoin:on" -> Set("dir", "rows", "skew_join_enabled",
      "skew_split_fired", "wall_s"))

  private val skewConfs = Seq("spark.sql.adaptive.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.forceOptimizeSkewedJoin",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.autoBroadcastJoinThreshold")

  private def probeTempDirs(): Set[String] = {
    val s = Files.list(Paths.get(sys.props("java.io.tmpdir")))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("probe_")).toSet
    finally s.close()
  }

  private def committed(): Seq[Seq[Byte]] =
    Seq("PROBES.json", "STREAMBENCH.json")
      .map(f => Files.readAllBytes(Paths.get(f)).toSeq)

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.deleteIfExists(_))
    finally s.close()
  }

  private final case class Outcome(
      records: Seq[(String, Map[String, Any])], written: Set[String],
      secs: Double, committedBefore: Seq[Seq[Byte]],
      tempBefore: Set[String], confsBefore: Seq[Option[String]])

  private lazy val outcome: Outcome = {
    val committedBefore = committed()
    val tempBefore = probeTempDirs()
    val confsBefore = skewConfs.map(spark.conf.getOption)
    val recordsDir = Files.createTempDirectory("graft_probe_records")
    try {
      val t0 = System.nanoTime()
      val records = ScaleProbe.run(spark, d, expectedKeys.map(_._1),
        recordsDir.toString)
      val secs = (System.nanoTime() - t0) / 1e9
      val written = org.json4s.jackson.JsonMethods
        .parse(Files.readString(recordsDir.resolve("PROBES.json")))
        .values.asInstanceOf[Map[String, Any]].keySet
      Outcome(records, written, secs, committedBefore, tempBefore, confsBefore)
    } finally deleteTree(recordsDir)
  }

  test("every probe record has the key set of its spelling") {
    info(f"ScaleProbe.run wall time: ${outcome.secs}%.1f s")
    assert(outcome.records.map(_._1) == expectedKeys.map(_._1))
    for (((name, rec), (_, keys)) <- outcome.records.zip(expectedKeys))
      assert(rec.keySet == keys, s"$name")
    assert(outcome.written == expectedKeys.map(_._1).toSet)
    for ((name, rec) <- outcome.records; c <- rec.get("curve"))
      assert(c.asInstanceOf[Seq[Map[String, Any]]].forall(
        _.keySet == Set("nprobe", "recall", "secs")), s"$name curve")
  }

  test("every recall lies in [0, 1]") {
    val recalls = for {
      (name, rec) <- outcome.records
      (k, v) <- rec.toSeq ++ rec.get("curve").toSeq
        .flatMap(_.asInstanceOf[Seq[Map[String, Any]]]).flatMap(_.toSeq)
      if k.contains("recall")
    } yield name -> v.asInstanceOf[Double]
    // the nine ANN probes each report at least one recall
    assert(recalls.map(_._1).toSet == expectedKeys.map(_._1).take(9).toSet)
    assert(recalls.forall { case (_, r) => r >= 0.0 && r <= 1.0 },
      recalls.mkString(", "))
  }

  test("the committed records stay byte-identical and no probe temp dir " +
    "is left") {
    assert(committed() == outcome.committedBefore)
    val left = probeTempDirs() -- outcome.tempBefore
    assert(left.isEmpty, left.mkString(", "))
  }

  test("the caller's session keeps its confs and stays usable") {
    assert(skewConfs.map(spark.conf.getOption) == outcome.confsBefore)
    assert(spark.range(1000).selectExpr("sum(id)").collect()(0).getLong(0) ==
      499500L)
  }
}
