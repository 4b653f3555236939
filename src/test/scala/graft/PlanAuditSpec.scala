package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression net: the properties that make these queries
  * scale (scan pushdown, column pruning, broadcast dims, no cartesian
  * blowups) must survive refactors — a correct-but-full-scan plan is a
  * silent failure at 100 TB. */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.extSpark
  private val d = "/root/testdata/sf0.001"

  // memoization off: the audits must see the full mining/CC subplans,
  // not a memoized LogicalRDD leaf (which would also both hide a
  // reintroduced Cartesian and execute the miner just to print a plan)
  private def planOf(q: String): String = QueryMemo.disabled(
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString)

  test("q2_filter_project: predicate pushdown + column pruning reach the scan") {
    val p = planOf("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // pruned read schema: only the filter + projection columns
    assert(p.contains("l_orderkey") && !p.contains("l_extendedprice"), p)
  }

  test("q9_multi_join: all dims broadcast, no sort-merge of dims") {
    val p = planOf("q9_multi_join")
    assert(p.split("BroadcastHashJoin").length >= 4, p)
  }

  test("evt_route: route table broadcast, event side never shuffles for the join") {
    val p = planOf("evt_route")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("evt_asof: interval dim broadcast (no shuffle of events)") {
    val p = planOf("evt_asof")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("emb_cosine_topk: query side broadcast") {
    val p = planOf("emb_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("doc queries stay free of cartesian products") {
    Seq("doc_ngram_jaccard", "doc_minhash_lsh", "doc_simhash").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("doc_pipeline_scale: banded candidates, text never enters the pair join") {
    // the scale pipeline's near-dup stage must stay an equi join on
    // (band_idx, band_key) — a cartesian or an unconditioned BNLJ here
    // is exactly the blowup the variant exists to avoid — and no join
    // side may carry the document text (only ids, signatures, band keys
    // shuffle; the text is read again only by the final gate/rollup)
    val lp = QueryMemo.disabled(
      SparkEntry.queries("doc_pipeline_scale")(spark, d)
        .queryExecution.optimizedPlan)
    val joins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    val bandJoins = joins.filter(
      _.condition.exists(_.toString.contains("band_key")))
    assert(bandJoins.nonEmpty, "no band-key equi join in the plan")
    bandJoins.foreach { j =>
      assert(j.condition.isDefined && j.condition.get.toString.contains("band_idx"))
      Seq(j.left, j.right).foreach(side =>
        assert(!side.output.exists(_.name == "text"),
          s"text on a pair-join side: ${side.output.map(_.name)}"))
    }
    val p = planOf("doc_pipeline_scale")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("emb_neardup (bucketed) has no cartesian / unconditioned BNLJ") {
    val p = planOf("emb_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("doc_minhash_lsh carries no forced broadcast of the candidate set") {
    // the candidate-pair cardinality is data-dependent (quadratic in
    // bucket skew): a broadcast HINT would pin it onto every executor
    // regardless of size — strategy choice must stay with AQE
    val df = SparkEntry.queries("doc_minhash_lsh")(spark, d)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(!logical.contains("strategy=broadcast"), logical)
  }

  test("whole-stage codegen covers the scan->filter->project paths") {
    // "*(n)" prefixes mark whole-stage-codegen stages in plan toString
    val p = planOf("q2_filter_project")
    assert(p.contains("*(1)"), p)
  }

  private def occurrences(p: String, needle: String): Int =
    p.sliding(needle.length).count(_ == needle)

  test("metric queries read the events table exactly once") {
    // the r8/r10 gauge family: each is a window/agg pipeline over ONE
    // scan — a second FileScan means someone re-introduced the
    // union-of-passes shape evt_counters used to have
    Seq("wrp_modified", "evt_queue_depth", "evt_slow_consumer",
      "evt_kinesis_batches", "evt_counters", "evt_merge_errors").foreach { q =>
      val p = planOf(q)
      assert(occurrences(p, "FileScan") == 1,
        s"$q must read the fact table exactly once:\n$p")
    }
  }

  test("wrp_modified prunes the scan to the single classifying column") {
    val p = planOf("wrp_modified")
    assert(p.contains("ReadSchema: struct<event_id:bigint>"), p)
  }

  test("evt_counters is one grouping-sets pass — Expand, no Window sorts, no Union") {
    val p = planOf("evt_counters")
    assert(occurrences(p, "Expand") == 1, p)
    assert(occurrences(p, "Window") == 0,
      s"rank sorts crept back into a counts-only aggregation:\n$p")
    assert(!p.contains("Union"), p)
  }

  test("doc_pack: pruned scan, one window shuffle, explode after the window") {
    val p = planOf("doc_pack")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"), p)
    assert(occurrences(p, "Window") == 1, p)
  }

  test("doc_mixture: weight joins broadcast; only the single-row t_max crosses") {
    val p = planOf("doc_mixture")
    assert(occurrences(p, "BroadcastHashJoin") >= 2, p)
    // exactly one BNLJ: the broadcast cross join of the 1-row t_max
    assert(occurrences(p, "BroadcastNestedLoopJoin") == 1, p)
  }

  test("doc_decontaminate: bench side broadcast, posting-list equi join") {
    val p = planOf("doc_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(occurrences(p, "FileScan") == 2, p) // train + bench slices
  }

  test("evt_session_merge: only the parsed session id rides the window state") {
    // the payload JSON parse (get_json_object $.session_id) must happen
    // map-side BELOW the window's exchange: the window input carries the
    // extracted id (__sid), never the payload string — at 100x with real
    // payloads the window sort would otherwise move payload bytes per row
    val lp = QueryMemo.disabled(
      SparkEntry.queries("evt_session_merge")(spark, d)
        .queryExecution.optimizedPlan)
    val wins = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, lp.toString)
    wins.foreach { w =>
      val names = w.child.output.map(_.name)
      assert(names.contains("__sid"),
        s"window input lacks the pre-parsed session id: $names")
      assert(!names.exists(_.contains("__pl")),
        s"payload column crosses the window exchange: $names")
      // every string column entering a window must be the parsed id (or
      // its windowed alias _w*/__on_sid) — never a payload-width string
      val strings = w.child.output
        .filter(_.dataType == org.apache.spark.sql.types.StringType)
        .map(_.name)
      assert(strings.forall(n =>
        n == "__sid" || n == "__on_sid" || n.startsWith("_w")),
        s"unexpected string column in window input: $strings")
      // and the parse itself must not be a window-side expression
      assert(!w.windowExpressions.mkString.contains("get_json_object"),
        w.windowExpressions.mkString)
    }
  }

  test("evt_batch_time: one exchange feeds the whole window cascade") {
    // gap-lag, session cumsum, in-session row_number and batch dense_rank
    // all run off ONE hash exchange: (stream, day) partitioning satisfies
    // the (stream, day, __sess) clustering (subset rule), so the refined
    // windows re-sort but never re-shuffle. 2 = that one + the rollup's.
    val p = planOf("evt_batch_time")
    assert(occurrences(p, "Exchange") == 2,
      s"window cascade re-shuffles (expected 2 exchanges):\n$p")
    assert(occurrences(p, "FileScan") == 1, p)
  }

  test("evt_batch_periodic: one exchange feeds the ticker-window cascade") {
    // unordered per-partition min (t0), tick-refined row_number and the
    // batch dense_rank all run off ONE hash exchange: (stream, day)
    // partitioning satisfies the (stream, day, __tick) clustering
    // (subset rule). 2 = that one + the rollup's.
    val p = planOf("evt_batch_periodic")
    assert(occurrences(p, "Exchange") == 2,
      s"ticker cascade re-shuffles (expected 2 exchanges):\n$p")
    assert(occurrences(p, "FileScan") == 1, p)
  }

  test("evt_queue_latency: the close-time window rides the same cascade exchange") {
    // five windows (gap-lag, session cumsum, in-session row_number,
    // batch dense_rank, per-batch close-time max) off ONE hash
    // exchange; 2 = that one + the per-stream histogram rollup's.
    val p = planOf("evt_queue_latency")
    assert(occurrences(p, "Exchange") == 2,
      s"latency window re-shuffles (expected 2 exchanges):\n$p")
    assert(occurrences(p, "FileScan") == 1, p)
  }

  test("evt_queue_latency_periodic: count/max/close windows ride the ticker exchange") {
    // t0 min, tick row_number, batch dense_rank, per-batch count and
    // max all share the (stream, day)-rooted exchange; 2 = that one +
    // the histogram rollup's.
    val p = planOf("evt_queue_latency_periodic")
    assert(occurrences(p, "Exchange") == 2,
      s"periodic latency window re-shuffles (expected 2 exchanges):\n$p")
    assert(occurrences(p, "FileScan") == 1, p)
  }

  test("q21_null_safe_join joins pre-aggregated sides (no pair materialization)") {
    // the r12 rewrite: each side folds to <=5 rows BEFORE the null-safe
    // join. A Join whose input is a raw relation would re-introduce the
    // quadratic |customer|x|supplier|/5 intermediate (12.9 s at sf1).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val lp = QueryMemo.disabled(
      SparkEntry.queries("q21_null_safe_join")(spark, d).queryExecution.optimizedPlan)
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty, lp.toString)
    joins.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        assert(side.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"join side is not pre-aggregated:\n$side")
      }
    }
  }

  test("emb_quantize / doc_gopher: map-side scans — zero exchanges, pruned read schema") {
    val pq = planOf("emb_quantize")
    assert(occurrences(pq, "Exchange") == 0, pq)
    assert(occurrences(pq, "FileScan") == 1, pq)
    assert(pq.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), pq)
    val pg = planOf("doc_gopher")
    assert(occurrences(pg, "Exchange") == 0, pg)
    assert(occurrences(pg, "FileScan") == 1, pg)
    assert(pg.contains("ReadSchema: struct<doc_id:bigint,text:string>"), pg)
  }

  test("ivfAssign: nearest-cell assignment is map-side — zero shuffle " +
    "exchanges in the assignment subplan (VERDICT r15 item 3)") {
    import org.apache.spark.sql.functions._
    val v = Tables.embeddings(spark, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("norm",
        sqrt(graft.functions.DotProduct.column(col("e"), col("e"))))
    // a PREBUILT centroid table (the persisted-artifact search path) —
    // the audit isolates the assignment subplan from the one-time
    // index build, which legitimately shuffles
    import spark.implicits._
    val cent = Seq(
      (0, Array.fill(64)(0.1)), (1, Array.fill(64)(-0.1)))
      .toDF("cluster", "ce")
      .withColumn("cnorm",
        sqrt(graft.functions.DotProduct.column(col("ce"), col("ce"))))
    val p = graft.operators.Similarity.ivfAssign(v, cent)
      .queryExecution.executedPlan.toString
    // the corpus side must cross ZERO hash shuffles — the
    // crossJoin+groupBy(max_by) formulation this replaced re-shuffled
    // every vector per call. The shuffle node prints as "Exchange
    // hashpartitioning"/"Exchange SinglePartition", never the class
    // name (ADVICE r16: the old 'ShuffleExchange' literal matched
    // nothing). The centroid-fold side legitimately carries its ONE
    // BroadcastExchange plus the single-partition collect_list fold of
    // the (index-sized, here 2-row) centroid table — pin exactly that.
    assert(occurrences(p, "Exchange hashpartitioning") == 0, p)
    assert(occurrences(p, "Exchange SinglePartition") == 1, p)
    assert(occurrences(p, "BroadcastExchange") == 1, p)
  }

  test("emb_ann_sq: broadcast query side + top-k pushed below the window exchange") {
    val p = planOf("emb_ann_sq")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(occurrences(p, "FileScan") == 2, p) // corpus + query slice
  }

  test("doc_bm25: no corpus-wide token shuffle — dl map-side, tf filtered " +
    "to query terms BEFORE its aggregate (r21)") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    try {
      val lp = QueryMemo.disabled(
        SparkEntry.queries("doc_bm25")(spark, d).queryExecution.optimizedPlan)
      // two narrow caches: dl (id+long rows, feeds corpus stats AND the
      // scoring join) and tf (query-term rows only, feeds df AND scoring)
      val caches = lp.collect { case c: InMemoryRelation => c }
      assert(caches.size >= 3,
        s"dl/tf caches must feed every branch, found ${caches.size}:\n$lp")
      val rawScans = lp.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      assert(rawScans.isEmpty,
        s"every corpus read must go through the cached dl/tf frames:\n$lp")
      val cachedStrs = caches.map(_.cachedPlan.toString).distinct
      // the tf cache: tokenizer explode with the query-term isin filter
      // BELOW its aggregate — the only token rows that ever shuffle
      val tfCache = cachedStrs.find(_.contains("Generate")).getOrElse(
        fail(s"no tokenizer-explode cache found:\n${cachedStrs.mkString}"))
      assert(tfCache.contains("term#") && tfCache.contains(" IN (") ,
        s"tf cache must filter to the query terms before aggregating:\n$tfCache")
      // the dl cache: pure map-side size(split(text)) — no Generate, no
      // aggregate, no exchange other than the spread repartition
      val dlCache = cachedStrs.find(c =>
        !c.contains("Generate") && c.contains("size(split(")).getOrElse(
        fail(s"no map-side dl cache found:\n${cachedStrs.mkString}"))
      assert(occurrences(dlCache, "HashAggregate") == 0,
        s"dl must be map-side (no corpus-wide aggregate):\n$dlCache")
    } finally CacheScope.releaseAll()
  }

  test("doc_bpe: training is ONE corpus pass + ONE aggregate reduce (r21)") {
    // the one-aggregate trainer: a word-count partial-agg exchange and
    // the single-partition bpe_train_merges reduce — no per-round
    // materialization, no checkpoint leaves, no driver collect
    val p = planOf("doc_bpe")
    assert(p.contains("bpe_train_merges"), p)
    assert(occurrences(p, "Exchange") <= 3,
      s"bpe training re-grew a per-round shuffle chain:\n$p")
    assert(!p.contains("ExistingRDD"),
      s"bpe training plan carries checkpoint leaves:\n$p")
  }

  test("doc_domain_cap: one source exchange feeds window AND rollup; text never read") {
    val p = planOf("doc_domain_cap")
    assert(occurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"), p)
  }

  test("doc_dsir: token index built once, lambda broadcast, top-k via TakeOrdered") {
    try {
      val qe = QueryMemo.disabled(
        SparkEntry.queries("doc_dsir")(spark, d).queryExecution)
      val lp = qe.optimizedPlan
      val raw = lp.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      assert(raw.isEmpty,
        s"every corpus read must go through the cached (doc,bucket,tf) index:\n$lp")
      val p = qe.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), p)
      // the per-doc scoring join against the <=256-row lambda table
      assert(p.contains("BroadcastHashJoin"), p)
    } finally CacheScope.releaseAll()
  }

  test("doc_lm_score: bigram index cached for all model branches; vocab is the " +
    "only direct corpus read") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    try {
      val lp = QueryMemo.disabled(
        SparkEntry.queries("doc_lm_score")(spark, d).queryExecution.optimizedPlan)
      // outer level: the per-doc scored cache feeds both the cutoff agg
      // and the final bucket projection; no direct corpus scan up here
      val caches = lp.collect { case c: InMemoryRelation => c }
      assert(caches.size >= 2, s"scored cache must feed cuts AND output:\n$lp")
      assert(lp.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty, s"no direct corpus scan above the scored cache:\n$lp")
      // inside the scored cache: the (doc,bigram,tf) index is read by
      // the c12/c1 model branches AND the per-doc scoring branch
      val inner = caches.head.cachedPlan.toString
      assert(occurrences(inner, "InMemoryTableScan") >= 3, inner)
    } finally CacheScope.releaseAll()
  }

  test("emb_kmeans: one centroid broadcast per round; corpus read once into " +
    "the persisted working set") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    try {
      val qe = QueryMemo.disabled(
        SparkEntry.queries("emb_kmeans")(spark, d).queryExecution)
      val lp = qe.optimizedPlan
      assert(lp.collect { case c: InMemoryRelation => c }.nonEmpty, lp.toString)
      assert(lp.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty, s"all vector reads must hit the persisted working set:\n$lp")
      val p = qe.executedPlan.toString
      assert(occurrences(p, "BroadcastNestedLoopJoin") == 3, p)
    } finally CacheScope.releaseAll()
  }

  test("emb_ann_pq: map-side ADC — dense lookup table broadcast against the " +
    "codes (never the reverse), scoring is the native adc_fold kernel (no " +
    "per-subspace explode of the corpus), rank pruned map-side before the " +
    "window exchange") {
    try {
      val p = planOf("emb_ann_pq")
      assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
      // the one-cell index scores through the IVF joins: the per-query
      // table is the broadcast (build) side of the query_id join, the
      // codes stream through it
      assert("BroadcastHashJoin \\[query_id#\\d+L\\], \\[query_id#\\d+L\\], Inner, BuildRight"
        .r.findFirstIn(p).isDefined, p)
      // late r17: the interpreted zip_with fold became the codegen'd
      // AdcFold kernel (bit-identical; AdcFoldSpec) — pin the kernel
      // and the absence of the HOF it replaced
      assert(p.contains("adc_fold"), p)
      assert(!p.contains("zip_with"), p)
      // WindowGroupLimit twice: partial (map-side, pre-exchange) + final —
      // only ≤ k·nQ candidate rows cross the rank shuffle
      assert(occurrences(p, "WindowGroupLimit") == 2, p)
    } finally CacheScope.releaseAll()
  }

  test("no query plans a CartesianProduct (all-pairs baselines are bounded BNLJ crosses)") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    CacheScope.releaseAll()
  }
}
