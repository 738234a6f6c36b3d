package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One SQL function of the engine: its name, its usage line (the
  * signature `DESCRIBE FUNCTION` and INFORMATION_SCHEMA.ROUTINES show, with
  * `_FUNC_` standing for the name), whether it aggregates, and the builder
  * the analyzer calls with a call's arguments. Each function family keeps
  * one table of these; [[graft.GraftSession.functions]] is their
  * concatenation and `attach` registers every entry once.
  */
final case class EngineFunction(name: String, usage: String, aggregate: Boolean,
    builder: Seq[Expression] => Expression) {

  /** The registry's description: the usage, and Spark's `agg_funcs` group
    * for an aggregate, which is how the catalog tells aggregates apart.
    */
  def info: ExpressionInfo = new ExpressionInfo(classOf[EngineFunction].getName,
    null, name, usage, "", "", "", if (aggregate) "agg_funcs" else "", "", "",
    "built-in")
}

object EngineFunction {
  def scalar(name: String, usage: String)(
      builder: Seq[Expression] => Expression): EngineFunction =
    EngineFunction(name, usage, aggregate = false, builder)

  def aggregator(name: String, usage: String)(
      builder: Seq[Expression] => Expression): EngineFunction =
    EngineFunction(name, usage, aggregate = true, builder)
}
