package graftbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-layer tracing from outside the engine: spans around the calls into
  * each layer, plus Spark's public listeners (`SparkListener`,
  * `QueryExecutionListener`, `StreamingQueryListener`), each executed
  * plan's SQL metrics, its `QueryPlanningTracker` and `CodegenMetrics`.
  * Everything stays in memory until [[finish]]. With tracing off only
  * the set-up spans are kept, and no listener is registered.
  */
class Trace(spark: SparkSession, enabled: Boolean) {
  private val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def add(k: String, v: Double): Unit = synchronized { sums(k) += v }
  private def bump(k: String): Unit = synchronized { counts(k) += 1 }

  def span[T](k: String)(f: => T): T = {
    val t0 = System.nanoTime
    try f finally add(k, (System.nanoTime - t0) / 1e6)
  }

  // current operation, read by the listeners on the listener-bus thread;
  // the bus is drained before an operation ends, so attribution is exact
  @volatile private var current: Op = _
  private var opWall0 = 0L
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private var afterWrite = false
  private var lastCompileMs = 0.0
  private var compiles0 = 0L
  @volatile private var sampling = false
  private var cachedPeak = 0.0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      add("scheduler.jobs", 1); jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      add("scheduler.tasks", 1)
      taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        val ph = qe.tracker.phases
        add("catalyst.analysis_ms", ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
        add("catalyst.optimizer_ms", ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0))
        add("catalyst.planning_ms", ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0))
        qe.tracker.rules.foreach { case (rule, s) =>
          if (rule.startsWith("graft.")) {
            add("plans.rule_ms", s.totalTimeNs / 1e6)
            add("plans.rules_fired", s.numEffectiveInvocations.toDouble)
          }
        }
        nodes(qe.executedPlan).foreach(planMetrics)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        add("streaming.batch_ms",
          Option(e.progress.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
        add("streaming.batches", 1)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private def ms(m: SQLMetric): Double = m.metricType match {
    case "nsTiming" => m.value / 1e6
    case _ => m.value.toDouble
  }

  private def planMetrics(n: SparkPlan): Unit = {
    val cls = n.getClass.getSimpleName
    val m = n.metrics
    if (cls.endsWith("ScanExec") && !cls.startsWith("InMemory")) {
      m.get("numOutputRows").foreach(x => add("exec.rows_read", x.value.toDouble))
      m.get("scanTime").foreach(x => add("exec.scan_ms", ms(x)))
    }
    m.get("aggTime").foreach(x => add("exec.agg_ms", ms(x)))
    m.get("buildTime").foreach(x => add("exec.join_build_ms", ms(x)))
    m.get("sortTime").foreach(x => add("exec.sort_ms", ms(x)))
    if (cls.contains("Join") && current != null) {
      val out = n.output.map(_.name).toSet
      val rows = m.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
      if (current.kind == "dedup" && out("id_a") && out("id_b")) add("pipeline.candidate_pairs", rows)
      if (current.kind == "ann" && out("q_id") && out("n_id")) add("pipeline.ann_scored", rows)
    }
  }

  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // set-up spans belong to set-up; only register_ms is kept from them
    val reg = sums("tables.register_ms")
    sums.clear(); sums("tables.register_ms") = reg
  }

  def begin(op: Op): Unit = if (enabled) {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized { taskSpans.clear(); jobSpans.clear(); current = op }
    lastCompileMs = 0.0
    op.compile.foreach { case (metric, c) =>
      bump(metric)
      val t0 = System.nanoTime
      c()
      lastCompileMs = (System.nanoTime - t0) / 1e6
      add(metric, lastCompileMs)
    }
    if (op.kind == "dedup" || op.kind == "ann") startSampler()
    opWall0 = System.currentTimeMillis
  }

  def end(op: Op, opMs: Double, out: String): Unit = if (enabled) {
    val wall1 = System.currentTimeMillis
    sampling = false
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized {
      bump("op." + op.kind); bump("tpl." + op.template)
      add("tpl_ms." + op.template, opMs)
      val busy = union(taskSpans.toSeq, opWall0, wall1)
      add("scheduler.wait_ms", math.max(0.0, (wall1 - opWall0) - busy))
      if (op.compile.isDefined) {
        // execute time beyond the separately timed compile and the jobs
        val jobs = union(jobSpans.toSeq, opWall0, wall1)
        add("api.fetch_render_ms", math.max(0.0, opMs - jobs - lastCompileMs))
      }
      add("logical_rows", op.rows.toDouble)
      if (op.kind == "ann") add("ann_queries", op.units.toDouble)
      op.kind match {
        case "dedup" =>
          add("pipeline.kept_pairs", JsonMethods.parse(out).children.size.toDouble)
        case "write" => add("write_ms", opMs); afterWrite = true
        case "read" if afterWrite => add("ingest.first_read_ms", opMs); bump("first_read"); afterWrite = false
        case _ =>
      }
      current = null
    }
  }

  /** Length of the union of [a, b) spans clipped to [lo, hi), in ms. */
  private def union(spans: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var end = lo
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total.toDouble
  }

  private def startSampler(): Unit = {
    sampling = true
    val t = new Thread(() => {
      while (sampling) {
        val mb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        Trace.this.synchronized { cachedPeak = math.max(cachedPeak, mb) }
        Thread.sleep(20)
      }
    })
    t.setDaemon(true); t.start()
  }

  /** Per-layer metrics, each per operation of the kind that does the work. */
  def finish(): JObject = {
    if (!enabled) return JObject()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMean = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    val ops = counts.collect { case (k, v) if k.startsWith("op.") => v }.sum.toDouble
    def per(k: String, n: Double): Double = if (n > 0) sums(k) / n else 0.0
    def tpl(t: String): Double = per("tpl_ms." + t, counts("tpl." + t).toDouble)
    val dedupPairs = sums("pipeline.candidate_pairs")
    val layer = Seq(
      "api.sql_compile_ms" -> per("api.sql_compile_ms", counts("api.sql_compile_ms").toDouble),
      "api.native_compile_ms" -> per("api.native_compile_ms", counts("api.native_compile_ms").toDouble),
      "api.fetch_render_ms" -> per("api.fetch_render_ms",
        (counts("api.sql_compile_ms") + counts("api.native_compile_ms")).toDouble),
      "tables.register_ms" -> sums("tables.register_ms"),
      "catalyst.analysis_ms" -> per("catalyst.analysis_ms", ops),
      "catalyst.optimizer_ms" -> per("catalyst.optimizer_ms", ops),
      "catalyst.planning_ms" -> per("catalyst.planning_ms", ops),
      "plans.rule_ms" -> per("plans.rule_ms", ops),
      "plans.rules_fired" -> per("plans.rules_fired", ops),
      "codegen.compile_ms" -> compiles * compileMean / math.max(ops, 1.0),
      "codegen.compiles" -> compiles / math.max(ops, 1.0),
      "scheduler.jobs" -> per("scheduler.jobs", ops),
      "scheduler.stages" -> per("scheduler.stages", ops),
      "scheduler.tasks" -> per("scheduler.tasks", ops),
      "scheduler.wait_ms" -> per("scheduler.wait_ms", ops),
      "exec.task_ms" -> per("exec.task_ms", ops),
      "exec.task_cpu_ms" -> per("exec.task_cpu_ms", ops),
      "exec.scan_ms" -> per("exec.scan_ms", ops),
      "exec.agg_ms" -> per("exec.agg_ms", ops),
      "exec.join_build_ms" -> per("exec.join_build_ms", ops),
      "exec.sort_ms" -> per("exec.sort_ms", ops),
      "exec.rows_read" -> per("exec.rows_read", ops),
      "exec.bytes_read" -> per("exec.bytes_read", ops),
      "exec.read_ratio" -> (if (sums("logical_rows") > 0) sums("exec.rows_read") / sums("logical_rows") else 0.0),
      "exec.shuffle_bytes" -> per("exec.shuffle_bytes", ops),
      "exec.spill_bytes" -> per("exec.spill_bytes", ops),
      "pipeline.minhash_ms" -> tpl("minhash"),
      "pipeline.simhash_ms" -> tpl("simhash"),
      "pipeline.candidate_pairs" -> per("pipeline.candidate_pairs", counts("op.dedup").toDouble),
      "pipeline.pair_yield" -> (if (dedupPairs > 0) sums("pipeline.kept_pairs") / dedupPairs else 0.0),
      "pipeline.cached_mb" -> cachedPeak,
      "pipeline.ann_ms" -> tpl("ann_ivf"),
      "pipeline.ann_scored_per_query" -> per("pipeline.ann_scored", sums("ann_queries")),
      "ingest.write_ms" -> per("write_ms", counts("op.write").toDouble),
      "ingest.retention_ms" -> tpl("retention"),
      "ingest.first_read_ms" -> per("ingest.first_read_ms", counts("first_read").toDouble),
      "streaming.batch_ms" -> per("streaming.batch_ms", sums("streaming.batches")))
    JObject(layer.map { case (k, v) => k -> JDouble(v) }.toList)
  }
}
