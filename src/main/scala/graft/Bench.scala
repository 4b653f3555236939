package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
object Bench {
  /** Per-query job/stage/task counts (ROADMAP O1; Drizzle, SOSP'17: with
    * small tasks the per-job coordination cost dominates, so job counts
    * belong in the standing record). Jobs are attributed through the job
    * group the bench sets around each query; untagged jobs (warm-up,
    * scale classification, earlier passes) are not counted. Events
    * arrive on the single listener-bus thread; read [[counts]] only
    * after draining the bus. */
  private final class Profile extends SparkListener {
    private val stageGroup = scala.collection.mutable.HashMap.empty[Int, String]
    private val acc = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    private def bump(group: String, i: Int): Unit =
      acc.getOrElseUpdate(group, new Array[Long](3))(i) += 1
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          bump(g, 0)
          j.stageInfos.foreach(si => stageGroup(si.stageId) = g)
        }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stageGroup.get(s.stageInfo.stageId).foreach(bump(_, 1)) }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      synchronized { stageGroup.get(t.stageId).foreach(bump(_, 2)) }
    /** (jobs, stages, tasks) of one job group, zeros if it ran none. */
    def counts(group: String): (Long, Long, Long) = synchronized {
      val c = acc.getOrElse(group, new Array[Long](3))
      (c(0), c(1), c(2))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session shape (incl. the 64k AQE coalescing floor) and core count
    // both come from GraftSession — the one the oracle gate runs under
    val spark = GraftSession.local(GraftSession.cores)
    // ERROR, not WARN (r22): the driver keeps only a bounded tail of the
    // bench output, and the localCheckpoint-unpersist WARN lines (one per
    // released CC round) were crowding the per-query JSON lines out of
    // it. Nothing is timed differently; log volume is the only change.
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the JVM/codegen/scheduler once so the first timed query does
    // not absorb session startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // deterministic execution order → comparable per-round JSON.
    // The host is noisy (±50% run-to-run documented in SURVEY §5, with
    // occasional 10x+ co-tenant spikes on single queries): each query
    // runs SPARK_GRAFT_RUNS times (default 3 — the median of 3 rejects
    // one full spike, where a mean or n=2 average absorbs it) and
    // reports the per-query median. Clamped ≥ 1.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    def median(xs: Seq[Double]): Double = {
      val s0 = xs.sorted
      if (s0.size % 2 == 1) s0(s0.size / 2)
      else (s0(s0.size / 2 - 1) + s0(s0.size / 2)) / 2.0
    }
    // SPARK_GRAFT_ONLY (comma-separated names): bench a subset — scale
    // runs time just the heavy family (e.g. BENCH_sf3.json) without
    // paying the full suite at 30x data. Driver calls without it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Declarative scale classes (ScaleClasses): above the demo-corpus
    // threshold the demo-pinned configs are auto-excluded (documented
    // Spark-side walls) and listed in the record; an explicit
    // SPARK_GRAFT_ONLY naming always wins. Checked once, untimed.
    val excluded: Seq[String] =
      if (only.isEmpty) ScaleClasses.exclusions(spark, sfDir).keys.toSeq.sorted
      else Nil
    excluded.foreach(n =>
      System.err.println(s"[bench] excluding scale-classed $n above its threshold"))
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .filterNot { case (n, _) => excluded.contains(n) }
    // PASS-MAJOR with a QueryMemo clear per pass: each pass prices the
    // full suite including every shared artifact's one-time build
    // exactly once, charged to its first consumer — deterministically
    // the same query every pass, so per-query medians are stable and
    // the total is an honest pipeline cost. (Query-major order would
    // let the median-of-3 silently discard the build cost: only run 1
    // pays it, runs 2-3 read the memo.)
    var charges = Map.empty[String, String]
    // the LAST pass is profiled (warm, like every timed pass after the
    // first): its queries run under a job group named after the query.
    // Tagging sits outside the timed region.
    val profile = new Profile
    spark.sparkContext.addSparkListener(profile)
    val samples = (1 to runs).map { pass =>
      QueryMemo.clear()
      val timed = names.map { case (name, fn) =>
        if (pass == runs) spark.sparkContext.setJobGroup(name, name)
        val t0 = System.nanoTime()
        QueryMemo.setLabel(name)
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            if (!failed.contains(name)) failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        } finally { QueryMemo.setLabel(null); CacheScope.releaseAll() }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        name -> sec
      }.toMap
      // identical every pass (deterministic order + clear-per-pass)
      charges = QueryMemo.buildCharges
      timed
    }
    org.apache.spark.sql.graft.Shims.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(profile)
    val profileJson = names.map { case (name, _) =>
      val (j, st, t) = profile.counts(name)
      s""""$name":{"jobs":$j,"stages":$st,"tasks":$t}"""
    }.mkString("{", ",", "}")
    val results = names.map { case (name, _) =>
      name -> median(samples.map(_.apply(name)))
    }
    QueryMemo.clear()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // a broken query must not read as a fast one: failures are listed
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // which query's timing carries each shared memo artifact's one-time
    // build (pass-major accounting): readers comparing per-query numbers
    // across rounds must not misattribute the mining cost
    val chargedJson = charges.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val excludedJson = excluded.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Mechanical round-over-round gate (VERDICT r15 item 6 / r16 item
    // 3): locate the previous round's committed PER-QUERY record and
    // emit the CURRENT run's subtotal over the SHARED query set next
    // to the previous record's subtotal over the same set — so "did
    // the standing suite regress" is one JSON field, not subset
    // arithmetic nobody re-derives. New queries never pollute the
    // comparison. Source of truth: the committed BENCH_full.json from
    // the previous round (read HERE, before this run overwrites it —
    // the driver's BENCH_r{N}.json wrappers carry only the truncated
    // stdout summary, no query map); override with SPARK_GRAFT_PREV.
    val sharedJson: String = {
      val prevPath = sys.env.get("SPARK_GRAFT_PREV").orElse(
        Some("BENCH_full.json").filter(p => new java.io.File(p).isFile))
      prevPath.flatMap { p =>
        try {
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val prev = JsonMethods.parse(
            new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(p)), "UTF-8"))
          val prevQ = (prev \ "queries") match {
            case JObject(fs) => fs.collect {
              case (k, JDouble(v)) => k -> v
              case (k, JInt(v)) => k -> v.toDouble
            }.toMap
            case _ => Map.empty[String, Double]
          }
          // comparable only at the same corpus: a scale run picking up
          // the committed sf0.1 record would report a phantom N× shift
          val prevSf = (prev \ "sf") match {
            case JString(v) => Some(v)
            case _ => None
          }
          // a crashed query's fast-fail timing must not read as a
          // speedup (nor a prev-round crash as a regression now):
          // exclude failures on EITHER side from the shared set
          val prevFailed = (prev \ "failed") match {
            case JArray(vs) => vs.collect { case JString(v) => v }.toSet
            case _ => Set.empty[String]
          }
          val shared = results.filter { case (k, _) =>
            prevQ.contains(k) && !failed.contains(k) && !prevFailed(k) }
          if (shared.isEmpty || !prevSf.contains(sfDir)) None
          else {
            val cur = shared.map(_._2).sum
            val old = shared.map { case (k, _) => prevQ(k) }.sum
            Some(s"""{"file":"$p","n":${shared.size},""" +
              s""""total":${math.rint(cur * 1000) / 1000},""" +
              s""""prev_total":${math.rint(old * 1000) / 1000}}""")
          }
        } catch {
          // NonFatal only: an OOM/interrupt during the bench must not
          // be silently converted into shared_prev=null
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"shared_prev: failed to parse $p: $e")
            None
        }
      }.getOrElse("null")
    }
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"excluded":$excludedJson,"build_charged_to":$chargedJson,"shared_prev":$sharedJson,"runs":$runs,"sf":"$sfDir","profile":$profileJson}"""
    // The driver captures only the last ~2 KB of stdout; the per-query map
    // alone is ~2.4 KB. Persist the full record to a committed file and keep
    // the final stdout line under 200 bytes so it always parses. The path
    // is cwd-relative (the driver runs sbt from the repo root); override
    // with SPARK_GRAFT_BENCH_OUT when launching from elsewhere.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val totalR = math.round(total * 1000.0) / 1000.0
    // Per-query JSON lines (r22, additions-only): the driver's
    // round-over-round PERF comparison had no per-query signal (the full
    // map lives only in BENCH_full.json, overwritten each run), so every
    // median is also emitted as one compact stdout line. The total line
    // stays LAST and unchanged — parsers of the final line see exactly
    // the old contract.
    results.foreach { case (k, v) =>
      val vr = math.rint(v * 1000) / 1000
      println(s"""{"metric":"query","name":"$k","sec":$vr}""")
    }
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","n":${results.size},"failed":$failedJson,"runs":$runs,"full":"$outPath"}""")
    spark.stop()
  }
}
