package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark 4's private[sql] Column ⇄ Expression conversions, so
  * graft's native Catalyst expressions (e.g. SimHash64) get a Column API.
  * Lives under org.apache.spark.sql because the converters are
  * private[sql]; the standard pattern for Spark extension libraries. */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Logical plan of a DataFrame (classic Dataset). */
  def plan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over an arbitrary logical plan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until every event posted so far has reached every
    * SparkListener (LiveListenerBus.waitUntilEmpty is private[spark]):
    * a deterministic drain where a sleep would only usually suffice. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A session that shares `spark`'s SparkContext and cache and starts
    * from a COPY of its SQL conf and function registry (cloneSession is
    * private[sql]): conf set on the clone stays invisible to `spark`
    * and to every query running there. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** (planned scan partitions, on-disk bytes) of a BARE file-source
    * scan — the analyzed plan is (Project|Filter)* over exactly one
    * HadoopFsRelation — or None for any other shape. Pure plan + file-
    * index inspection: the listing was already done when the relation
    * was resolved, so this runs no job and plans no physical stage
    * (unlike `df.rdd`, which materializes every upstream AQE stage —
    * ADVICE r21). The split estimate replays FilePartition.maxSplitBytes'
    * arithmetic (maxPartitionBytes / openCostInBytes / minPartitionNum)
    * and is only used as an under-parallelism trigger, so ±1 precision
    * is fine. */
  def bareScanSplits(df: org.apache.spark.sql.DataFrame): Option[(Long, Long)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def rel(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, c) => rel(c)
      case Filter(_, c) => rel(c)
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      case _ => None
    }
    rel(df.queryExecution.analyzed).map { h =>
      val session = df.sparkSession
      val conf = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf
      val open = conf.filesOpenCostInBytes
      val maxPart = conf.filesMaxPartitionBytes
      val minPartNum = conf.filesMinPartitionNum
        .getOrElse(session.sparkContext.defaultParallelism)
      val sizes = h.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getLen))
      val bytes = sizes.sum
      val padded = bytes + open * sizes.length
      val bytesPerCore = padded / math.max(1, minPartNum)
      val maxSplit = math.min(maxPart, math.max(open, bytesPerCore))
      val fileSplits = sizes.map(s => math.max(1L, (s + maxSplit - 1) / maxSplit)).sum
      // greedy packing can only merge splits, never split further
      val packed = math.max(1L, (padded + maxSplit - 1) / maxSplit)
      (math.min(fileSplits, packed), bytes)
    }
  }
}
