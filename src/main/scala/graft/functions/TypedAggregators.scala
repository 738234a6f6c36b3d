package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftbridge.Bridge

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

  /** SQL GEOMETRIC_MEAN(expr), the builder `spark.udf.register` would
    * install for [[GeometricMean]].
    */
  val function: EngineFunction = EngineFunction.aggregator("geometric_mean",
    "_FUNC_(expr) - geometric mean of the positive values")(
    Bridge.typedAggregator(udaf(GeometricMean).withName("geometric_mean")))
}
