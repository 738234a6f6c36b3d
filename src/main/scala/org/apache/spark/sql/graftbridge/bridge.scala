package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made `Column.expr` private to the
  * `org.apache.spark.sql` namespace (Connect-compatible Column nodes); an
  * extension library that defines custom Catalyst expressions needs this
  * two-way conversion, so we expose it from a subpackage — the same approach
  * other open-source Spark extension libraries take.
  */
object Bridge {
  def toCol(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** The builder `spark.udf.register` installs for a typed aggregator
    * (`ScalaAggregator` is private[sql]).
    */
  def typedAggregator(f: org.apache.spark.sql.expressions.UserDefinedFunction)
      : Seq[Expression] => Expression = {
    val uda = f.asInstanceOf[
      org.apache.spark.sql.expressions.UserDefinedAggregator[Any, Any, Any]]
    children => org.apache.spark.sql.execution.aggregate.ScalaAggregator(uda, children)
  }

  /** DataFrame from a raw logical plan (classic `Dataset.ofRows` is
    * private[sql]) — needed to splice custom LogicalPlan nodes into the
    * public API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Run `body` with `spark` as the ACTIVE session (`SparkSession
    * .withActive` is private[sql]) — a direct `analyzer.executeAndCheck`
    * outside it would read SQLConf from whatever session happens to be
    * active on the thread, losing per-query scoped confs like the cloned
    * session's sqlTimeZone.
    */
  def withActive[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .withActive(body)

  /** Whether the file source strategy pushes `predicate` into the scan of
    * `relation` as a data source filter (`DataSourceStrategy
    * .translateFilter` is protected[sql]).
    */
  def pushableFilter(predicate: Expression,
                     relation: org.apache.spark.sql.sources.BaseRelation): Boolean = {
    import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
    DataSourceStrategy.translateFilter(predicate,
      DataSourceUtils.supportNestedPredicatePushdown(relation)).isDefined
  }

  /** Deterministically release the storage blocks behind a (local)
    * checkpoint'd Dataset. `Dataset.unpersist()` only talks to the
    * CacheManager; a checkpoint's blocks are an RDD-LEVEL persist the
    * CacheManager never sees, so without this they linger until the
    * ContextCleaner notices the RDD is unreachable (driver-GC-timed).
    * Walks the analyzed plan for the LogicalRDD nodes a checkpoint
    * produced and unpersists their RDDs directly; a LogicalRDD over any
    * other RDD (say, a deliberately persisted one) keeps its blocks.
    */
  def unpersistCheckpointBlocks(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.checkpointData.isDefined =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
