package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers (SURVEY.md §5): salting for hot keys where
  * AQE's skew-join split is unavailable (e.g. aggregations, or joins
  * below AQE's skew thresholds).
  *
  * Two-phase aggregation: groupBy(key, salt) partial-aggregates the hot
  * key across `buckets` reducers, then a second (tiny) aggregate merges
  * the per-salt partials. Spark's hash aggregate already does map-side
  * partials, so salting only pays off when a single reducer's merge
  * stream for one key exceeds what one core should own — the 100 TB
  * "one device spams the stream" case (the reference drops-on-overflow
  * per queue; we keep every row, balanced).
  */
object Skew {

  /** Deterministic salt column in [0, buckets): hash of the whole row's
    * natural id spread uniformly; pass an id column for stability. */
  def salt(id: Column, buckets: Int): Column =
    pmod(hash(id), lit(buckets))

  /** Salted count+sum aggregate over one hot key column.
    * Phase 1 shuffles on (key, salt) — the hot key spreads over
    * `buckets` reducers; phase 2 shuffles only `buckets` rows per key. */
  def saltedAgg(df: DataFrame, key: Column, id: Column, value: Column,
      buckets: Int): DataFrame =
    df.groupBy(key.as("key"), salt(id, buckets).as("_salt"))
      .agg(count(lit(1)).as("_n"), sum(value).as("_sum"))
      .groupBy("key")
      .agg(sum("_n").as("n"), sum("_sum").as("sum_value"))

  /** Spread a compute-dense scan whose INPUT under-parallelizes the
    * cluster (optimization-guide §2.5 "input skew": one huge
    * unsplittable file — a single-row-group parquet, a gzip — plans as
    * one task, so every downstream map-side kernel (per-shingle md5
    * families, regex gates, media decode) runs single-threaded no
    * matter how many cores are idle; the guide's fix is "repartition
    * immediately after the read").
    *
    * The round-robin repartition is applied ONLY when (a) the frame is
    * a BARE file-source scan — (Project|Filter)* over one
    * HadoopFsRelation, decided by plan inspection alone (r22: the old
    * `df.rdd.getNumPartitions` probe eagerly materialized every
    * upstream AQE stage at plan-construction time, running upstream
    * work twice on non-scan frames — ADVICE r21) — and (b) the planned
    * scan has fewer partitions than the BYTE-CAPPED target
    * min(defaultParallelism, ceil(onDiskBytes / bytesPerTask)) (r22:
    * uncapped defaultParallelism put 32 micro-tasks on a 100 KB input,
    * so added task fixed costs canceled the parallelism win at high
    * core counts — VERDICT r21). bytesPerTask is 64k of COMPRESSED
    * input ≈ a few hundred KB of text — enough per-shingle/md5/decode
    * work to dwarf a task's fixed cost. At production scale a corpus
    * scan plans thousands of splits and this is a no-op (no exchange
    * is added); on an unsplittable input it costs one exchange of the
    * payload to buy byte-justified map parallelism for the expensive
    * kernels downstream. Row order is deterministic under retries
    * (sort-before-repartition, Spark's default) and every consumer in
    * this repo is value-keyed, so results are partitioning-independent.
    * Streaming frames and non-scan frames pass through untouched. */
  def spreadScan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    org.apache.spark.sql.graft.Shims.bareScanSplits(df) match {
      case None => df
      case Some((planned, bytes)) =>
        val perTask = 64L * 1024
        val cores = df.sparkSession.sparkContext.defaultParallelism.toLong
        val target = math.min(cores,
          math.max(1L, (bytes + perTask - 1) / perTask)).toInt
        if (planned < target) df.repartition(target) else df
    }
  }

  /** Salted broadcast-replicated join for a skewed LEFT side against a
    * small right side: the right side is exploded `buckets`× with every
    * salt value, the left side salts deterministically, and the join key
    * becomes (key, salt) — splitting each hot key's rows across
    * `buckets` tasks. Right side must be broadcast-small (it is
    * replicated). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      bigId: Column, buckets: Int): DataFrame = {
    val saltedBig = big.withColumn("_salt", salt(bigId, buckets))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(broadcast(replicated), Seq(key, "_salt")).drop("_salt")
  }
}
