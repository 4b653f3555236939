package graft

/** Plan-inspection diagnostic: prints the formatted physical plan for the
  * named queries (or a default headline set) so scan pushdown
  * (PushedFilters / ReadSchema), broadcast joins, and whole-stage
  * codegen spans can be audited. Usage:
  *   runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q2_filter_project", "q3_join_agg", "q9_multi_join",
        "evt_route", "evt_route_meta", "evt_sessionize", "doc_minhash_lsh",
        "emb_cosine_topk", "emb_neardup",
        // r8/r10 additions: the metric-gauge family + curation ops
        "wrp_modified", "evt_queue_depth", "evt_slow_consumer",
        "evt_kinesis_batches", "evt_counters", "evt_merge_errors",
        "doc_decontaminate", "doc_pack", "doc_mixture")
    // the bench's session shape, so plan dumps (e.g. the byte-capped
    // spreadScan repartition target) show the plans the bench runs
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        // memoization off: a memoized LogicalRDD leaf would hide the
        // mining subplan this tool exists to audit (and materialize the
        // most expensive jobs in the repo just to print a plan)
        case Some(q) => QueryMemo.disabled(q(spark, sfDir).explain("formatted"))
        case None => println(s"unknown query '$n'; available: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      }
    }
    spark.stop()
  }
}
