package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The table layer: the JVM-wide parquet schema memo behind every table
  * open (second sessions open the tables without an inference job, reads
  * are the plain reads, rewrites and schema confs re-infer) and the
  * session's table views (a load is served from its view while the view
  * reads the table's current files, and re-opens it otherwise).
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.attach(s)
    s
  }

  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs `body` launches from this thread: jobs carry the thread's
    * job group, and a marker job after `body` flushes the listener bus.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "tables-spec-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-marker" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      body
      sc.setJobGroup(group + "-marker", "marker")
      sc.parallelize(1 to 1, 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** A session of its own, as a new client gets from `GraftSession.create`. */
  private def freshSession(): SparkSession = {
    spark // the spec's own session first: it is restored as the default
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try GraftSession.create("local[4]", shufflePartitions = 4)
    finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").toString + "/t"

  test("a second session registers the tables without a Spark job") {
    val first = freshSession()
    Tables.registerAll(first, dir)
    val second = freshSession()
    assert(second ne first)
    assert(jobsDuring(Tables.registerAll(second, dir)) == 0)
    Tables.all.foreach(n => assert(second.table(n).count() > 0, n))
  }

  test("memoized reads equal plain reads: schema, nullability, metadata, rows") {
    Tables.registerAll(freshSession(), dir)
    val s = freshSession()
    Tables.all.foreach { n =>
      val path = s"$dir/$n.parquet"
      if (n == "events") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val memo = jobsDuring(Tables.readParquet(s, path))
      assert(memo == 0, s"$n: the memo missed")
      val (a, b) = (Tables.readParquet(s, path), s.read.parquet(path))
      val (ma, pb) =
        if (n == "events") (Tables.normalizeTs(a), Tables.normalizeTs(b)) else (a, b)
      // StructField equality covers nullability and metadata
      assert(ma.schema == pb.schema, n)
      assert(ma.collect().toSeq == pb.collect().toSeq, n)
    }
  }

  test("the memo re-infers when the files or a schema conf change") {
    val s = freshSession()
    import s.implicits._
    val path = tmpTable()
    Seq((1, "a")).toDF("k", "v").write.parquet(path)
    assert(Tables.readParquet(s, path).columns.toSeq == Seq("k", "v"))
    assert(jobsDuring(Tables.readParquet(s, path)) == 0)
    Seq((2, "b", 3.0)).toDF("k", "v", "w").write.mode("overwrite").parquet(path)
    var df = s.emptyDataFrame
    assert(jobsDuring { df = Tables.readParquet(s, path) } > 0)
    assert(df.schema == s.read.parquet(path).schema)
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(df.collect().toSeq == Seq(org.apache.spark.sql.Row(2, "b", 3.0)))
    try {
      s.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(jobsDuring(Tables.readParquet(s, path)) > 0)
      assert(jobsDuring(Tables.readParquet(s, path)) == 0)
    } finally s.conf.unset("spark.sql.parquet.binaryAsString")
    assert(jobsDuring(Tables.readParquet(s, path)) > 0)
  }

  test("rewrites of one path keep one memo entry for it") {
    val s = freshSession()
    import s.implicits._
    val path = tmpTable()
    (1 to 4).foreach { i =>
      (1 to i).map(j => (j, j.toString)).toDF("k", "v")
        .write.mode("overwrite").parquet(path)
      assert(Tables.readParquet(s, path).count() == i)
    }
    assert(Tables.memoizedSchemaPaths.count(_ == path) == 1)
  }

  test("a table's version is what a read lists, taken without a Spark job") {
    val s = freshSession()
    import s.implicits._
    val path = tmpTable()
    // more partition directories than Spark lists without a job (32)
    // (the write's `_SUCCESS` and `.crc` files are hidden from a read)
    (0 until 40).map(i => (i, i.toString)).toDF("k", "p").write.partitionBy("p").parquet(path)
    var v: Option[Seq[Tables.FileVersion]] = None
    assert(jobsDuring { v = Tables.version(s, path) } == 0)
    assert(v.map(_.size).contains(40))
    assert(v == Tables.planVersion(s.read.parquet(path).queryExecution.analyzed))
  }

  test("a session's table views: a load is served from its view, each dir reads its own files") {
    val s = freshSession()
    val first = Tables.load(s, dir, "orders")
    var second = s.emptyDataFrame
    assert(jobsDuring { second = Tables.load(s, dir, "orders") } == 0)
    // a re-open would give the relation new attribute ids
    assert(second.queryExecution.analyzed == first.queryExecution.analyzed)
    val other = dir.replace("sf0.001", "sf0.01")
    val small = Tables.load(s, dir, "lineitem")
    val big = Tables.load(s, other, "lineitem")
    assert(small.inputFiles.toSeq.forall(_.contains("/sf0.001/")))
    assert(big.inputFiles.toSeq.forall(_.contains("/sf0.01/")))
    assert(small.count() == s.read.parquet(s"$dir/lineitem.parquet").count())
    assert(big.count() == s.read.parquet(s"$other/lineitem.parquet").count())
    assert(s.table("lineitem").inputFiles.toSeq == big.inputFiles.toSeq)
    Tables.registerAll(s, dir) // memoizes all ten schemas
    assert(jobsDuring(Tables.registerAll(freshSession(), dir)) == 0)
  }

  test("registerAll re-opens a view that no longer reads its table and drops one whose table is gone") {
    val s = freshSession()
    Tables.registerAll(s, dir)
    s.range(3).toDF("o_orderkey").createOrReplaceTempView("orders")
    Tables.registerAll(s, dir)
    val path = s"$dir/orders.parquet"
    assert(s.table("orders").count() == s.read.parquet(path).count())
    assert(Tables.planVersion(s.table("orders").queryExecution.analyzed) ==
      Tables.version(s, path))
    Tables.registerAll(s, java.nio.file.Files.createTempDirectory("graft_no_tables").toString)
    assert(Tables.all.forall(n => !s.catalog.tableExists(n)))
  }
}
