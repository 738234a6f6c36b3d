package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.Bridge

/** Spread an EXPENSIVE filter evaluated over a single-task scan across the
  * cluster (guide §2.5: "one huge unsplittable file … repartition
  * immediately after the read", applied at the PLAN level because the SQL
  * text of the declared query cannot change).
  *
  * The testdata tables are single-row-group parquet files, so any scan is
  * one task no matter the core count; a generated predicate that walks a
  * JSON document or an MV array twenty times per row then runs serially
  * on one core while 31 idle. Inserting a round-robin exchange between
  * the scan and the filter changes the PLAN, not the query: the filter's
  * rows, and everything above it, are identical.
  *
  * Fires only when ALL of:
  *  - the predicate contains at least `spark.graft.spreadFilter.minHeavyCalls`
  *    (default 12) expensive calls — graft JSON/MV walkers (StaticInvoke
  *    into graft.functions), graft custom expressions, regexp engines,
  *    string splits. Cheap per-row predicates LOSE by shuffling raw rows
  *    (r20 probe: spread-on-aggregate measured 2.3× WORSE on TPC-H), so
  *    the bar is high;
  *  - NO conjunct is a pushable scan predicate (one the file source
  *    strategy translates to a data source filter) — the exchange sits
  *    between the scan and the filter, so a pushable conjunct would lose
  *    its PushedFilters slot;
  *  - the scan is SMALL enough to be (near-)single-task: estimated size ≤
  *    2 × spark.sql.files.maxPartitionBytes. At real table sizes the scan
  *    already has thousands of tasks and an extra exchange of payload rows
  *    is pure loss, so the rule self-disables — scale-adaptive by
  *    construction, not tuned to local[32];
  *  - more than one core is available to spread over.
  */
object SpreadExpensiveFilter extends Rule[LogicalPlan] with PredicateHelper {

  private def minHeavyCalls: Int =
    conf.getConfString("spark.graft.spreadFilter.minHeavyCalls", "12").toInt

  private def enabled: Boolean =
    conf.getConfString("spark.graft.spreadFilter.enabled", "true").toBoolean

  /** Count per-row expensive calls in an expression tree. Deliberately
    * NOT counted: plain comparisons, arithmetic, CASE, CONCAT, LIKE —
    * force-firing on the numeric/string tautology batteries measured a
    * LOSS (0.339 → 0.420 / 0.286 → 0.336), so only call classes whose
    * per-row cost was measured to beat the exchange qualify.
    */
  private def heavyCalls(e: Expression): Int = {
    var n = 0
    e.foreach {
      case si: StaticInvoke
          if si.staticObject.getName.startsWith("graft.") => n += 1
      case x if x.getClass.getName.startsWith("graft.") => n += 1
      case _: RegExpExtractBase | _: RegExpReplace | _: RLike => n += 1
      case _: StringSplit => n += 1
      // calendar-interval arithmetic on timestamps (proleptic calendar
      // math per row) and timestamp→string casts (a formatter per row):
      // the datetime tautology battery is ~16 of the former + 2 of the
      // latter and measured 0.840 → 0.572 when spread
      case _: TimestampAddYMInterval | _: TimestampAddInterval => n += 1
      case c: Cast
          if c.child.dataType == org.apache.spark.sql.types.TimestampType &&
            c.dataType == org.apache.spark.sql.types.StringType => n += 1
      case _ => ()
    }
    n
  }

  /** A conjunct the scan of `rel` could have taken as a pushed filter:
    * one the file source strategy translates, as it does when it plans
    * the scan.
    */
  private def pushable(conjunct: Expression, rel: LogicalRelation): Boolean =
    Bridge.pushableFilter(conjunct, rel.relation)

  /** The scan side: a bare relation, or a relation under the Project that
    * column pruning already placed (kept as-is below the new exchange).
    */
  private def smallLeafScan(p: LogicalPlan): Option[LogicalRelation] = {
    val rel = p match {
      case r: LogicalRelation => Some(r)
      case Project(_, r: LogicalRelation) => Some(r)
      case _ => None
    }
    rel.filter(_.stats.sizeInBytes <= BigInt(2L) * BigInt(conf.filesMaxPartitionBytes))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    val parallelism = SparkSession.getActiveSession
      .map(_.sparkContext.defaultParallelism).getOrElse(1)
    if (parallelism <= 1) return plan
    plan.transformUpWithSubqueries {
      case Filter(cond, child) if smallLeafScan(child).exists(rel =>
          heavyCalls(cond) >= minHeavyCalls &&
            !splitConjunctivePredicates(cond).exists(pushable(_, rel))) =>
        Filter(cond, Repartition(parallelism, shuffle = true, child))
    }
  }
}
