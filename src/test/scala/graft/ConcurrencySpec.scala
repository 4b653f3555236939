package graft

import graft.operators.GraphDedup
import graft.streaming.EventStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** One session, two workloads at once: a streaming ingest sink and a
  * batch graph dedup must each give their solo answer, and neither may
  * leave the session's SQL conf changed (ConnectedComponents tunes its
  * loop on a cloned session, never the caller's). */
class ConcurrencySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.spark
  import spark.implicits._

  private def wrpJson(id: Long): String = {
    val evt = Seq("click", "purchase", "error", "view")((id % 4).toInt)
    s"""{"msg_type":4,"source":"mac:${id % 7}","dest":"event:$evt/$id",""" +
      s""""event_id":$id,"user_id":${id % 7},"ts":"2024-01-01 00:00:01","value":1.0}"""
  }

  test("a streaming batchedSink and a batch knnGraphDedup on one session " +
    "each equal their solo run and leave spark.sql.* conf unchanged") {
    implicit val sql = spark.sqlContext
    def sqlConf(): Map[String, String] =
      spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
    val before = sqlConf()

    val rng = new scala.util.Random(5)
    val graph = (0L until 300L).flatMap(q =>
        Seq.fill(4)((q, rng.nextInt(300).toLong, 0.3 + 0.7 * rng.nextDouble())))
      .filter(r => r._1 != r._2).toDF("query_id", "neighbor_id", "qcos")
    val nodes = (0L until 300L).toDF("id")
    def dedup(): Set[(Long, Long, Long, Boolean)] =
      GraphDedup.knnGraphDedup(graph, nodes, tau = 0.5)
        .select("id", "component", "n_members", "keep")
        .as[(Long, Long, Long, Boolean)].collect().toSet

    val batches = (0 until 4).map(b => (b * 50L until b * 50L + 50L).map(wrpJson))
    /** Feeds every batch through a fresh sink, one trigger each;
      * returns the shipped rows. */
    def ingest(): Seq[(String, Long)] = {
      val in = MemoryStream[String]
      val out = java.nio.file.Files.createTempDirectory("cc_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
      val q = EventStream.batchedSink(EventStream.route(
        EventStream.validate(EventStream.parse(in.toDF())), spark), out, ckpt)
      try batches.foreach { b =>
        in.addData(b); q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(out).select("stream", "event_id")
        .as[(String, Long)].collect().toSeq.sorted
    }

    try {
      val soloDedup = dedup()
      val soloSink = ingest()
      assert(soloSink.nonEmpty && soloDedup.exists(!_._4))

      // the dedup loops on its own thread until the sink has shipped
      // every batch, so every trigger overlaps a dedup run
      val shipped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val runs = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Long, Long, Boolean)]]()
      val worker = new Thread(() => {
        do runs.add(dedup()) while (!shipped.get)
      })
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      worker.setUncaughtExceptionHandler((_, e) => failure.set(e))
      worker.start()
      val concurrentSink =
        try ingest() finally shipped.set(true)
      worker.join(600000)
      assert(failure.get == null, s"dedup thread failed: ${failure.get}")
      assert(!worker.isAlive, "dedup thread did not finish")

      assert(concurrentSink == soloSink)
      assert(!runs.isEmpty)
      runs.forEach(r => assert(r == soloDedup))
      assert(sqlConf() == before)
    } finally CacheScope.releaseAll()
  }
}
