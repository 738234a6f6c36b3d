package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/** The reference's APPROXIMATE topN algorithm
  * (`query/topn/TopNQueryEngine.java:63`, `PooledTopNAlgorithm.java:69`) as
  * a custom Catalyst operator: each data partition ("segment") aggregates
  * its rows locally and emits only its top `max(1000, k)` (dim, partial)
  * entries; the final pass merges partials and takes the global top-k. Only
  * localLimit × partitions rows ever shuffle — at 100 TB that is the
  * difference between shuffling thousands of rows and shuffling every
  * distinct dimension value. Same trade as the reference: a dimension value
  * whose partial falls outside some partition's local top-1000 can be
  * under-counted; exact whenever per-partition cardinality ≤ localLimit
  * (which is why the sf0.01 oracle hash-matches the exact query).
  *
  * This is the full custom-plan extension tier: LogicalPlan node →
  * SparkStrategy → SparkPlan, spliced into the public API via
  * `Bridge.ofRows`; the strategy is armed by `GraftSession.attach`.
  */
case class LocalApproxTopN(
    dim: Expression,
    metricValue: Option[Expression],
    localLimit: Int,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  // the metric attribute is minted here, not taken from the child
  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      output.filterNot(child.outputSet.contains))
  override protected def withNewChildInternal(c: LogicalPlan): LocalApproxTopN =
    copy(child = c)
}

object ApproxTopNStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LocalApproxTopN(dim, mv, lim, out, child) =>
      LocalApproxTopNExec(dim, mv, lim, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class LocalApproxTopNExec(
    dim: Expression,
    metricValue: Option[Expression],
    localLimit: Int,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes
      : org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      output.filterNot(child.outputSet.contains))

  override protected def doExecute(): RDD[InternalRow] = {
    val dimBound = BindReferences.bindReference(dim, child.output)
    val valBound = metricValue.map(BindReferences.bindReference(_, child.output))
    val outTypes = output.map(_.dataType).toArray
    val limit = localLimit
    child.execute().mapPartitions { iter =>
      // per-partition hash aggregation (the reference's per-segment pass)
      val sums = new java.util.HashMap[Any, java.lang.Double]()
      while (iter.hasNext) {
        val row = iter.next()
        val k = dimBound.eval(row) match {
          case s: UTF8String => s.copy() // row buffers are reused
          case x => x
        }
        val v = valBound match {
          case Some(e) => e.eval(row) match {
            case null => 0.0
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case n: java.lang.Number => n.doubleValue()
            case other => throw new IllegalArgumentException(
              s"non-numeric metric value: $other")
          }
          case None => 1.0
        }
        val cur = sums.get(k)
        sums.put(k, if (cur == null) v else cur + v)
      }
      import scala.jdk.CollectionConverters._
      val top = sums.entrySet().asScala.toSeq
        .sortBy(e => (-e.getValue.doubleValue(), String.valueOf(e.getKey)))
        .take(limit)
      val proj = UnsafeProjection.create(outTypes)
      top.iterator.map { e =>
        proj(InternalRow(e.getKey, e.getValue.doubleValue()))
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): LocalApproxTopNExec =
    copy(child = c)
}

object ApproxTopN {

  /** Approximate topN: top `k` values of `dimCol` by count (valueCol=None)
    * or by sum(valueCol). Returns (dimCol, metric DOUBLE) ordered metric
    * desc, dim asc.
    */
  def approxTopN(df: DataFrame, dimCol: String, valueCol: Option[String],
                 k: Int, localLimit: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    graft.GraftSession.attach(spark)
    val analyzed = df.queryExecution.analyzed
    val dimAttr = analyzed.output.find(_.name == dimCol)
      .getOrElse(throw new IllegalArgumentException(s"no column $dimCol"))
    val valAttr = valueCol.map(c => analyzed.output.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(s"no column $c")))
    val metricAttr = AttributeReference("partial_metric", DoubleType,
      nullable = false)()
    val node = LocalApproxTopN(dimAttr, valAttr, math.max(localLimit, k),
      Seq(dimAttr, metricAttr), analyzed)
    Bridge.ofRows(spark, node)
      .groupBy(col(dimCol))
      .agg(sum(col("partial_metric")).as("metric"))
      .orderBy(col("metric").desc, col(dimCol).asc)
      .limit(k)
  }
}
