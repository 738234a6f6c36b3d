package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{NativeJsonQuery, QueryLanes, SqlApi}

/** The one query lifecycle ([[QueryLanes.run]]) behind every entry point:
  * admission, the job group and lane of a query, its row cap, and what it
  * leaves on the caller's thread and session.
  */
class QueryLifecycleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("the query lifecycle is set up only in QueryLanes") {
    // a second hand-rolled copy of the lifecycle (job group, lane pool,
    // admission) drifts from the first — scan the sources for one
    val markers = Seq("setJobGroup", "cancelJobGroup", "withAdmission(",
      "\"spark.scheduler.pool\"")
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("graft/api/QueryLanes.scala")))
    val strays = for {
      f <- files if !f.endsWith("graft/api/QueryLanes.scala")
      src = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      m <- markers if src.contains(m)
    } yield s"$f: $m"
    assert(strays.isEmpty, s"lifecycle calls outside QueryLanes: $strays")
  }

  test("a native execute in a full lane is rejected with QueryCapacityExceeded") {
    try {
      QueryLanes.configureHiLo(totalCapacity = 2, lowPercent = 50)
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() =>
        QueryLanes.withAdmission(Some("low")) {
          entered.countDown()
          release.await(10, TimeUnit.SECONDS)
        })
      holder.start()
      assert(entered.await(10, TimeUnit.SECONDS))
      val query = """{"queryType": "timeBoundary", "dataSource": "events",
        "context": {"lane": "low"}}"""
      val rejected = intercept[QueryLanes.QueryCapacityExceeded] {
        NativeJsonQuery.execute(spark, dir, query)
      }
      assert(rejected.getMessage.contains("lane 'low'"))
      release.countDown(); holder.join(10000)
      assert(NativeJsonQuery.execute(spark, dir, query).length == 1)
    } finally QueryLanes.configure(0) // restore unlimited for other tests
  }

  test("NativeJsonQuery.run with a queryId leaves no job group or pool on the thread") {
    val sc = spark.sparkContext
    sc.clearJobGroup()
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "events",
       "dimensions": ["event_type"],
       "context": {"queryId": "run-only-1", "lane": "low"},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    df.collect()
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    assert(sc.getLocalProperty("spark.scheduler.pool") == null)
  }

  test("a native execute with maxSubqueryRows at Int.MaxValue returns its rows") {
    val rows = NativeJsonQuery.execute(spark, dir, s"""
      {"queryType": "scan", "dataSource": "nation",
       "columns": ["n_nationkey"],
       "context": {"maxSubqueryRows": ${Int.MaxValue}}}""")
    assert(rows.length == 25)
  }

  test("a sqlReverseLookup opt-out does not outlive its request") {
    graft.functions.LookupRegistry.register("rl_scope", Map("0" -> "AFRICA"))
    def planOf(ctx: String): String = SqlApi.run(spark, dir, s"""{
      "query": "SELECT n_name FROM nation WHERE LOOKUP(CAST(n_nationkey AS VARCHAR(8)), 'rl_scope') = 'AFRICA'"$ctx
    }""").queryExecution.optimizedPlan.toString
    assert(planOf(""", "context": {"sqlReverseLookup": false}""")
      .contains("element_at"), "the opted-out request keeps the lookup")
    assert(!planOf("").contains("element_at"),
      "a later default request still gets the rewrite")
    assert(spark.conf.getOption("spark.graft.sqlReverseLookup").isEmpty)
  }
}

object QueryLifecycleSpec {

  /** Run `body` on this thread under an outer job group and pool, and give
    * back the scheduler pools of the jobs it launched in a job group of
    * query `id`, and the thread's job group and pool after `body`. A marker
    * job flushes the listener bus.
    */
  def lanesOf(spark: SparkSession, id: String)(body: => Unit)
      : (Seq[String], String, String) = {
    val sc = spark.sparkContext
    val marker = "lifecycle-marker-" + java.util.UUID.randomUUID()
    val pools = new ConcurrentLinkedQueue[String]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == marker) flushed.countDown()
        else if (group != null && group.startsWith(id + "#"))
          pools.add(String.valueOf(e.properties.getProperty("spark.scheduler.pool")))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("outer-group", "outer")
      sc.setLocalProperty("spark.scheduler.pool", "outer-pool")
      body
      val group = sc.getLocalProperty("spark.jobGroup.id")
      val pool = sc.getLocalProperty("spark.scheduler.pool")
      sc.setJobGroup(marker, "marker")
      sc.parallelize(1 to 1, 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (pools.asScala.toSeq, group, pool)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
      sc.removeSparkListener(listener)
    }
  }
}
