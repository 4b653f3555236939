package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import graft.GraftSession

/** One benchmark run in this JVM: set up, measure, check, and write the
  * raw observations (and, traced, the spans) for run.py to reduce.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE [--spans FILE] */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val tracer = if (opt.getOrElse("trace", "0") == "1") Some(new Tracer) else None
    val work = new File(opt("work"))
    work.mkdirs()

    val nproc = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(nproc)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val result = try {
      val body = workload match {
        case "wrp_route" => new WrpRoute(spark, work, seed, seconds, tracer).run()
        case "doc_neardup" => new DocNearDup(spark, work, seed, seconds, tracer).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val header = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "nproc" -> nproc, "master" -> spark.sparkContext.master,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "rates" -> Map("wrp_route_eps" -> Load.WrpRate, "doc_neardup_dps" -> Load.DocRate,
          "wrp_drain_chunk" -> Load.WrpChunk, "doc_drain_chunk" -> Load.DocChunk),
        "spark_sql_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")))
      body ++ Map("header" -> header, "session_s" -> sessionS,
        "heap_peak_mb" -> LiveHeap.peakMb)
    } finally spark.stop()

    write(new File(opt("out")), Json.write(result))
    for (t <- tracer; f <- opt.get("spans"))
      write(new File(f), Json.write(t.result.map(_.toMap)))
  }

  private def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }
}
