package graft

import org.apache.spark.sql.SparkSession

/** The library's one-call session setup — what a consumer switching
  * from the reference service configures to run these operators at
  * cluster scale — and the ONLY place under src/main that builds a
  * SparkSession: Bench, Verify, Explain and ScaleProbe all run on
  * [[local]] at [[cores]], so the oracle gate, the timings and the
  * probes share one session shape (GraftSessionSpec fails on a second
  * builder). Each tool still picks its own log level — a diagnostic
  * choice, not part of the shape.
  *
  * Everything here is a tuning default, not a correctness requirement:
  * every operator runs under a stock session too (the test harness
  * does). The settings encode the 100 TB playbook the operators assume:
  *
  * - AQE on (runtime re-plan: skew-join splitting, partition
  *   coalescing, dynamic join strategy) — the knob that makes
  *   "shuffle partitions" a ceiling, not a guess.
  * - Runtime bloom-filter join pruning: a selective dim-side filter
  *   becomes a row-level filter on the fact scan BEFORE the shuffle —
  *   at 100 TB this is the difference between shuffling the full fact
  *   table and shuffling the ~1% that can join (BloomFilterJoinSpec
  *   audits the plan shape).
  * - Dynamic partition overwrite: a partitioned overwrite replaces only
  *   the partitions it writes, so replaying one leaves its siblings.
  * - Nanosecond parquet timestamps surfaced as LONG, for corpus
  *   generations whose events table is TIMESTAMP(NANOS) — the loader
  *   adapts to whatever `ts` physical type the footer carries (see
  *   Tables.events).
  */
object GraftSession {

  /** Apply graft's scale defaults + extensions to a builder. */
  def builder(base: SparkSession.Builder): SparkSession.Builder = base
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // coalescing floor: stop AQE collapsing compute-dense small-byte
    // shuffle stages (pair verification, signature folds) to one task
    // — bytes/row vastly understates work/row there. Never binds at
    // production partition sizes (hundreds of MB), so scale-neutral.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .withExtensions(new graft.functions.GraftExtensions)

  /** Local core count for the entry points: SPARK_GRAFT_CPUS when set,
    * else every processor the JVM sees. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local development/test session at the given parallelism. */
  def local(cores: Int): SparkSession = {
    val s = builder(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    ensure(s)
    s
  }

  /** getOrCreate on a pre-existing session silently ignores
    * withExtensions (Spark keeps the first session's state): restore
    * the WHOLE library surface on the session at hand — SQL functions
    * via the registry, and the as-of planner strategy + dot-product
    * rewrite through the experimental escape hatches (idempotent, so
    * calling on a fresh extensions-built session is harmless). */
  def ensure(s: SparkSession): Unit = {
    graft.functions.GraftFunctions.register(s)
    if (!s.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!s.experimental.extraOptimizations.contains(graft.plans.DotProductRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.DotProductRewrite
  }
}
