package graft.api

import java.util.concurrent.{ConcurrentHashMap, ScheduledThreadPoolExecutor, Semaphore, TimeUnit}
import scala.collection.concurrent.TrieMap

import org.json4s._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query lifecycle every entry point runs through — the engine's
  * analog of the reference's `server/.../server/QueryScheduler.java` with
  * `HiLoQueryLaningStrategy.java` / `ManualQueryLaningStrategy.java`, plus
  * its query id, timeout and `DELETE /druid/v2/{id}` cancellation. A query
  * runs under [[run]]: admission, then a fresh Spark job group registered
  * under its id, its lane's fair-scheduler pool and its timeout; the
  * thread's own group and pool come back when it ends.
  *
  * Admission is a total concurrency capacity plus per-lane capacities,
  * enforced by NON-BLOCKING acquisition. A query that doesn't fit is
  * rejected immediately with [[QueryCapacityExceeded]] (the reference
  * throws `QueryCapacityExceededException`, surfaced as HTTP 429) rather
  * than queued — under overload, shedding beats buffering: a queued query
  * holds its caller's resources while going stale.
  *
  * Unconfigured (capacity 0) means unlimited, like a scheduler with no
  * laning strategy.
  */
object QueryLanes {

  final class QueryCapacityExceeded(msg: String)
    extends RuntimeException(msg)

  /** Thrown when a fetched result exceeds `context.maxSubqueryRows` — the
    * analog of the reference's ResourceLimitExceededException
    * (query/ResourceLimitExceededException.java). Plan-returning entry
    * points have no cap: only materializing to the driver is bounded.
    */
  final class ResourceLimitExceeded(msg: String)
    extends RuntimeException(msg)

  /** Default result-row cap of the buffering entry points, the reference's
    * `QueryContexts.DEFAULT_MAX_SUBQUERY_ROWS` (QueryContexts.java:174).
    */
  val DefaultMaxResultRows = 100000

  @volatile private var total: Option[Semaphore] = None
  private val lanes = TrieMap.empty[String, Semaphore]

  /** Configure total capacity and absolute per-lane capacities (the
    * manual laning strategy). Pass total <= 0 to remove all limits.
    */
  def configure(totalCapacity: Int, laneCapacities: Map[String, Int] = Map.empty): Unit =
    synchronized {
      lanes.clear()
      if (totalCapacity <= 0) { total = None }
      else {
        total = Some(new Semaphore(totalCapacity))
        laneCapacities.foreach { case (name, cap) =>
          require(cap > 0 && cap <= totalCapacity,
            s"lane $name capacity $cap outside (0, $totalCapacity]")
          lanes.put(name, new Semaphore(cap))
        }
      }
    }

  /** The HiLo strategy: one 'low' lane capped at `lowPercent` of the total;
    * unlaned queries compete only for the total.
    */
  def configureHiLo(totalCapacity: Int, lowPercent: Int): Unit = {
    require(lowPercent > 0 && lowPercent <= 100, s"bad percent $lowPercent")
    configure(totalCapacity,
      Map("low" -> math.max(1, totalCapacity * lowPercent / 100)))
  }

  /** Run `body` under admission: acquire the lane permit (if the query
    * names a configured lane) then a total permit; reject immediately if
    * either is exhausted. Permits are always released on exit.
    */
  def withAdmission[T](lane: Option[String])(body: => T): T = {
    val laneSem = lane.flatMap(lanes.get)
    laneSem.foreach { s =>
      if (!s.tryAcquire())
        throw new QueryCapacityExceeded(
          s"too many concurrent queries for lane '${lane.get}' " +
            "(reference QueryCapacityExceededException, HTTP 429)")
    }
    val totalSem = total
    try {
      totalSem.foreach { s =>
        if (!s.tryAcquire()) {
          throw new QueryCapacityExceeded(
            "total query capacity exceeded " +
              "(reference QueryCapacityExceededException, HTTP 429)")
        }
      }
      try body
      finally totalSem.foreach(_.release())
    } finally laneSem.foreach(_.release())
  }

  /** A query context's lifecycle keys, parsed once: the query id, `lane`,
    * `timeout` (millis, 0 = none) and `maxSubqueryRows`.
    */
  final case class QueryContext(id: Option[String], lane: Option[String],
                                timeoutMs: Long, maxRows: Option[Int])

  /** Parse the lifecycle keys from `ctx` (context key → value); `idKey`
    * names the id key (`queryId` natively, `sqlQueryId` for SQL). A 0
    * timeout means none (reference QueryContexts.NO_TIMEOUT); a negative
    * one is a bad query context, rejected like the reference's.
    */
  def context(ctx: String => JValue, idKey: String): QueryContext = {
    def long(k: String): Option[BigInt] = ctx(k) match {
      case JInt(n)  => Some(n)
      case JLong(n) => Some(BigInt(n))
      case _        => None
    }
    def str(k: String): Option[String] = ctx(k) match {
      case JString(s) => Some(s)
      case _          => None
    }
    val timeoutMs = long("timeout").fold(0L)(_.toLong)
    require(timeoutMs >= 0, s"query context timeout must be >= 0, got $timeoutMs")
    QueryContext(str(idKey), str("lane"), timeoutMs,
      long("maxSubqueryRows").map(_.min(Int.MaxValue).toInt))
  }

  /** query id → the job group of its running query. Each run gets a fresh
    * group: a cancelled group stays cancelled (AndFutureJobs) and must not
    * poison a retry that reuses the same id (the reference's retry pattern).
    */
  private val active = new ConcurrentHashMap[String, String]()

  private val timeouts = {
    val t = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val th = new Thread(r, "graft-query-timeout")
      th.setDaemon(true)
      th
    })
    t.setRemoveOnCancelPolicy(true)
    t
  }

  // the thread's local properties a run sets: setJobGroup's three and the
  // fair-scheduler pool
  private val PoolKey = "spark.scheduler.pool"
  private val ThreadKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", PoolKey)

  /** Run `body` (the plan build and the fetch) as query `q`: under
    * admission, in a fresh job group registered under `q.id` (so
    * [[cancel]] reaches it; interruptOnCancel stops running tasks, not just
    * queued ones), in lane `q.lane`'s fair-scheduler pool (reference
    * QueryContexts.getLane: jobs of a lane share that pool's slot allocation
    * under spark.scheduler.mode=FAIR), and with the group cancelled when
    * `q.timeoutMs` passes — the analog of the reference's
    * QueryTimeoutException. The thread's previous group and pool are
    * restored on exit.
    */
  def run[T](spark: SparkSession, q: QueryContext)(body: => T): T =
    withAdmission(q.lane) {
      val sc = spark.sparkContext
      val group = q.id.getOrElse("graft") + "#" + java.util.UUID.randomUUID()
      val saved = ThreadKeys.map(sc.getLocalProperty)
      q.id.foreach(active.put(_, group))
      sc.setJobGroup(group, s"graft query $group", interruptOnCancel = true)
      q.lane.foreach(sc.setLocalProperty(PoolKey, _))
      // AndFutureJobs: the deadline may pass while the query is still
      // planning, before any job is submitted — a plain cancelJobGroup
      // would no-op and the query would run to completion
      val timer = Option.when(q.timeoutMs > 0)(timeouts.schedule(
        (() => sc.cancelJobGroupAndFutureJobs(group)): Runnable,
        q.timeoutMs, TimeUnit.MILLISECONDS))
      try body
      finally {
        timer.foreach(_.cancel(false))
        q.id.foreach(active.remove(_, group))
        ThreadKeys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }

  /** Cancel the running query `id` and any job it submits later (reference
    * `DELETE /druid/v2/{id}`, QueryResource.java:130); a no-op when no
    * query of that id is running.
    */
  def cancel(spark: SparkSession, id: String): Unit =
    Option(active.get(id)).foreach(spark.sparkContext.cancelJobGroupAndFutureJobs)

  /** `df` limited to the rows a fetch capped at `maxRows` needs: cap+1, so
    * cap+1 rows back is the overflow [[checkRows]] raises, and never the
    * unbounded result. A cap of Int.MaxValue (where cap+1 would overflow)
    * is uncapped. Limit-after-sort keeps ordered prefixes, so an in-cap
    * result is the uncapped one.
    */
  def limited(df: DataFrame, maxRows: Option[Int]): DataFrame = maxRows match {
    case Some(m) if m < Int.MaxValue => df.limit(m + 1)
    case _ => df
  }

  /** Raise [[ResourceLimitExceeded]] once `n` fetched rows pass `maxRows`. */
  def checkRows(n: Long, maxRows: Option[Int]): Unit =
    maxRows.foreach { m =>
      if (n > m)
        throw new ResourceLimitExceeded(
          s"query result exceeds maxSubqueryRows=$m " +
            "(reference ResourceLimitExceededException); raise " +
            "context.maxSubqueryRows or add a limit/aggregation")
    }
}
