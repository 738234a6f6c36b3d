package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** User-defined typed aggregators — the engine's analog of the reference's
  * `AggregatorFactory` plugin surface (`query/aggregation/AggregatorFactory
  * .java`, and the expression-lambda fold/combine aggregator
  * `ExpressionLambdaAggregatorFactory.java:59`). An `Aggregator[IN, BUF,
  * OUT]` gives exactly the fold (update) / combine (merge) / finalize
  * contract, with a typed buffer Spark serializes between partial and final
  * aggregation.
  */
object TypedAggregators {

  /** Geometric mean via sum-of-logs (fold: logs accumulate; combine: buffers
    * add; finalize: exp(sum/n)). Zero/negative inputs are ignored like nulls.
    */
  object GeometricMean extends Aggregator[Double, (Double, Long), Double] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(b: (Double, Long), a: Double): (Double, Long) =
      if (a > 0) (b._1 + math.log(a), b._2 + 1) else b
    override def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(b: (Double, Long)): Double =
      if (b._2 == 0) 0.0 else math.exp(b._1 / b._2)
    override def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Register SQL-callable UDAFs on a session (via
    * [[graft.GraftSession.attach]]).
    */
  private[graft] def register(spark: SparkSession): Unit = {
    spark.udf.register("geometric_mean", udaf(GeometricMean))
  }
}
