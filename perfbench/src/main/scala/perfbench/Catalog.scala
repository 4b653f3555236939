package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{CacheScope, QueryMemo, SparkEntry}

object CatalogQueries {
  /** Events table size: the catalog's sf0.1 corpus holds 100k events. */
  val EventRows = 100000
  /** The catalog's queries over the events table. */
  val Events = Seq("wrp_parse", "wrp_validate", "wrp_fix", "evt_type_counts",
    "evt_route_meta", "evt_sessionize", "evt_session_merge", "evt_batch_time",
    "evt_queue_latency")
}

/** Catalog queries from `SparkEntry.queries`, each timed around an
  * action that reads every output column — a row count plus an
  * order-insensitive checksum — never `count()`, which lets column
  * pruning skip work. Each query runs under its own job group so the
  * listener can charge jobs, tasks and bytes to it. */
final class CatalogQueries(spark: SparkSession, dataDir: String, names: Seq[String]) {

  /** count, sum of xxhash64 mod 2^31-1 and xor of xxhash64 over all
    * columns (maps hashed through their JSON form). */
  def checksum(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
  }

  private def runQuery(name: String, group: String): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    try {
      val cs = checksum(SparkEntry.queries(name)(spark, dataDir))
      val r = cs.collect().head
      val t1 = Clock.nowMs
      val phases = cs.queryExecution.tracker.phases.map { case (k, p) =>
        k -> Seq(p.startTimeMs, p.endTimeMs)
      }
      Map("name" -> name, "group" -> group, "start_ms" -> t0, "end_ms" -> t1,
        "rows" -> r.getLong(0), "checksum" -> s"${r.getLong(1)}:${r.getLong(2)}",
        "phases" -> phases)
    } finally {
      CacheScope.releaseAll()
      sc.clearJobGroup()
    }
  }

  /** One untimed warm pass, then one timed pass recorded as spans
    * (query → planning phases and jobs) with per-query counters. */
  def timedPass(t: Tracer, counters: Counters): Seq[Map[String, Any]] = {
    names.foreach(n => runQuery(n, s"$n@warm"))
    QueryMemo.clear()
    val timed = names.map(n => runQuery(n, n))
    QueryMemo.clear()
    Thread.sleep(500) // let the listener bus deliver the last task ends
    val pid = t.add(-1, "catalog", timed.head("start_ms").asInstanceOf[Double],
      timed.last("end_ms").asInstanceOf[Double])
    timed.map { q =>
      val name = q("name").toString
      val qid = t.add(pid, s"query:$name", q("start_ms").asInstanceOf[Double],
        q("end_ms").asInstanceOf[Double], Map("rows" -> q("rows"), "checksum" -> q("checksum")))
      q("phases").asInstanceOf[Map[String, Seq[Long]]].foreach { case (ph, se) =>
        t.add(qid, s"phase:$ph", se(0).toDouble, se(1).toDouble)
      }
      counters.jobsOf(name).foreach { case (id, j0, j1) =>
        t.add(qid, "job", j0.toDouble, j1.toDouble, Map("job" -> id))
      }
      q ++ Map("counters" -> counters.group(name))
    }
  }
}
