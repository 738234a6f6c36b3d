package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{DruidFunctions, EngineFunction, LookupRegistry, TypedAggregators}
import graft.plans.{AggregatePullUpLookupRule, ApproxTopNStrategy, DeterministicWindowOrder, HybridDecimalSumRule, RejectInvertedFrames, ReverseLookupRule, SortDistinctArrayAgg, SpreadExpensiveFilter}

/** Session factory and the one place a session is armed with the engine:
  * the SQL functions of [[functions]], the optimizer rules and the
  * approximate-topN planner strategy. The entry point a user migrating
  * from the reference starts from.
  */
object GraftSession {

  /** Set on a session once [[attach]] has armed it. */
  private val AttachedFlag = "spark.graft.internal.attached"

  /** Every SQL function of the engine, one entry per name: the
    * reference-named scalar, array and SQL-defined functions, the sketch
    * and EARLIEST/LATEST surface, `LOOKUP` and `GEOMETRIC_MEAN`.
    */
  val functions: Seq[EngineFunction] =
    DruidFunctions.functions ++ GraftExtensions.functions ++
      Seq(LookupRegistry.function, TypedAggregators.function)

  /** The engine's optimizer rules, in the order they run. All of them run
    * in Spark's "User Provided Optimizers" fixed-point batch — the one batch
    * reachable on a session the engine did not build. No pushdown rule
    * runs there, so [[SpreadExpensiveFilter]]'s inserted exchange is not
    * pushed back through, and every rule is idempotent.
    */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    ApproxCountDistinctRewrite,
    ReverseLookupRule,
    AggregatePullUpLookupRule,
    RejectInvertedFrames,
    SortDistinctArrayAgg,
    DeterministicWindowOrder,
    SpreadExpensiveFilter,
    HybridDecimalSumRule)

  def create(master: String = "local[*]",
             shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    attach(spark)
    spark
  }

  /** Arm `spark` with every function, rule and strategy of the engine.
    * Registration runs no SQL: each entry of [[functions]] goes into the
    * session's function registry with its usage and group. Idempotent: a
    * repeat call costs one conf read, so every public entry point that is
    * handed a session calls it. Clones of an armed session (`cloneSession`)
    * inherit the flag, the functions and the rules.
    */
  def attach(spark: SparkSession): Unit =
    if (!spark.conf.getOption(AttachedFlag).contains("true")) spark.synchronized {
      val registry = spark.sessionState.functionRegistry
      functions.foreach(f =>
        registry.registerFunction(FunctionIdentifier(f.name), f.info, f.builder))
      // replace rather than append: a session whose conf was RESET keeps
      // its rules, and must not get a second copy
      val x = spark.experimental
      x.extraOptimizations = x.extraOptimizations.filterNot(rules.contains) ++ rules
      x.extraStrategies =
        x.extraStrategies.filterNot(_ == ApproxTopNStrategy) :+ ApproxTopNStrategy
      spark.conf.set(AttachedFlag, "true")
    }
}
