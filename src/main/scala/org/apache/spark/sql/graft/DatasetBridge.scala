package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Bridge to build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
  * package-private in Spark 4). Lives under spark.sql purely for access.
  */
object DatasetBridge {

  /** Float-key normalization (-0.0 -> 0.0, canonical NaN) for grouping
    * expressions — NormalizeFloatingNumbers.normalize is private[sql], so
    * the graft bridge re-exports it for the TopK physical operator.
    */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[Dataset[_]].logicalPlan

  /** The block RDD of `ds`'s entry in its session's cache manager, when
    * `ds` is cached (`persist`). */
  def cachedBlocks(ds: org.apache.spark.sql.Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.sparkSession.asInstanceOf[SparkSession].sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers)
}
