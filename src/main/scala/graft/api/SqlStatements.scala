package graft.api

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Async SQL statements facade — the reference's `POST /druid/v2/sql/
  * statements/` surface (`multi-stage-query/src/main/java/org/apache/druid/
  * msq/sql/resources/SqlStatementResource.java`): submit returns immediately
  * with a statement id; the client polls status, fetches result pages, or
  * cancels. Statement lifecycle states are the reference's
  * `SqlStatementState.java`: ACCEPTED → RUNNING → SUCCESS | FAILED.
  *
  * Spark-first execution model: the statement body is the same bounded
  * [[SqlApi]] machinery, but the result is written to PARQUET (one directory
  * per statement) instead of being held on the driver — the analog of the
  * reference writing MSQ results to durable storage and serving them page by
  * page. A page is one parquet part file (the reference's pages are likewise
  * the physical result partitions, `PageInformation.java`), so serving any
  * page reads only that file and driver memory stays bounded by one page
  * regardless of result size. Page order follows part-file order, which
  * preserves a global ORDER BY (range-partitioned writes keep file order).
  *
  * The registry is bounded: finished statements beyond [[MaxStatements]] are
  * evicted oldest-first (their result directories deleted); submit fails
  * with [[QueryLanes.ResourceLimitExceeded]] when every slot is still
  * live.
  */
object SqlStatements {

  /** Reference SqlStatementState.java:31-42. */
  val Accepted = "ACCEPTED"
  val Running = "RUNNING"
  val Success = "SUCCESS"
  val Failed = "FAILED"

  /** Max registry entries (live + finished) — the bounded-history analog of
    * the reference keeping a window of task reports.
    */
  val MaxStatements = 100

  private final class Stmt(
      val queryId: String,
      val payload: SqlApi.Payload,
      val createdAtMs: Long,
      /** Pre-planned DataFrame (SELECT statements — planned at submit so
        * invalid SQL fails synchronously like the reference's 400); ingest
        * statements plan AND run inside the worker.
        */
      val planned: Option[org.apache.spark.sql.DataFrame]) {
    @volatile var state: String = Accepted
    @volatile var error: Option[String] = None
    @volatile var schema: Option[StructType] = None
    @volatile var durationMs: Option[Long] = None
    @volatile var resultDir: Option[String] = None
    /** (path, numRows, sizeInBytes) per page, part-file order. */
    @volatile var pages: Seq[(String, Long, Long)] = Nil
    def finished: Boolean = state == Success || state == Failed
  }

  private val registry = new ConcurrentHashMap[String, Stmt]()
  // daemon pool: statements must not block JVM exit; bounded concurrency —
  // more submissions queue, they don't spawn unbounded threads
  private val pool = Executors.newFixedThreadPool(4, new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-sql-statement-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  private def statementsRoot: String =
    System.getProperty("java.io.tmpdir") + "/graft_statements"

  /** POST /druid/v2/sql/statements/ — accept the standard [[SqlApi]] payload,
    * return the statement id immediately (reference doPost returns the
    * ACCEPTED `SqlStatementResult`). `context.sqlQueryId` names the
    * statement; otherwise one is generated. SELECT statements are PLANNED
    * here, synchronously — invalid SQL throws at submit, matching the
    * reference resource's immediate 400 (its doPost plans via the
    * SqlStatementFactory before returning) — while execution always
    * happens on the worker pool. Ingest statements defer planning too,
    * since planning them runs the write.
    */
  def submit(spark: SparkSession, dir: String, payload: String): String = {
    val p = new SqlApi.Payload(JsonMethods.parse(payload))
    val queryId = p.lifecycle.id.getOrElse(java.util.UUID.randomUUID().toString)
    evictForCapacity()
    val planned =
      if (p.isIngest) None
      else Some(SqlApi.plan(spark, dir, p)) // analyzes eagerly; lazy exec
    val stmt = new Stmt(queryId, p, System.currentTimeMillis(), planned)
    val prev = registry.putIfAbsent(queryId, stmt)
    if (prev != null && !prev.finished)
      throw new IllegalStateException(
        s"statement $queryId is still ${prev.state}; cancel it or use a new id")
    if (prev != null) registry.put(queryId, stmt) // finished: replace
    pool.submit(new Runnable { def run(): Unit = execute(spark, dir, stmt) })
    queryId
  }

  private def evictForCapacity(): Unit = {
    if (registry.size < MaxStatements) return
    import scala.jdk.CollectionConverters._
    val finished = registry.values.asScala.filter(_.finished).toSeq
      .sortBy(_.createdAtMs)
    if (finished.isEmpty)
      throw new QueryLanes.ResourceLimitExceeded(
        s"statement registry full ($MaxStatements live statements); " +
          "cancel or await completion before submitting more")
    finished.take(registry.size - MaxStatements + 1).foreach { s =>
      registry.remove(s.queryId)
      s.resultDir.foreach(d => deleteRecursively(new java.io.File(d)))
    }
  }

  private def execute(spark: SparkSession, dir: String, stmt: Stmt): Unit = {
    val t0 = System.currentTimeMillis()
    val out = s"$statementsRoot/${stmt.queryId}"
    try {
      // the async statement API is an entry point like any other: its
      // execution runs under the query lifecycle (reference QueryScheduler
      // lanes every protocol), in a job group registered under its id
      QueryLanes.run(spark, stmt.payload.lifecycle.copy(id = Some(stmt.queryId))) {
        // a cancel that came first has finished the statement; one that
        // comes later finds this run's job group registered
        if (!stmt.finished) {
          stmt.state = Running
          val df = stmt.planned.getOrElse(SqlApi.plan(spark, dir, stmt.payload))
          stmt.schema = Some(df.schema)
          deleteRecursively(new java.io.File(out))
          df.write.mode("overwrite").parquet(out)
          // page inventory from the part files (reference PageInformation):
          // one page per file, file order = result order
          val files = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .sortBy(_.getName)
          // per-page row counts in ONE job over the parquet footers (count()
          // on parquet is a metadata-only aggregate), not a job per page
          val counts: Map[String, Long] =
            if (files.isEmpty) Map.empty
            else spark.read.parquet(out)
              .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
              .count().collect()
              .map(r => new java.net.URI(r.getString(0)).getPath -> r.getLong(1))
              .toMap
          stmt.pages = files.toSeq.map(f =>
            (f.getAbsolutePath, counts.getOrElse(f.getAbsolutePath, 0L), f.length()))
          stmt.resultDir = Some(out)
          stmt.durationMs = Some(System.currentTimeMillis() - t0)
          stmt.state = Success
        }
      }
    } catch {
      case e: Throwable =>
        stmt.durationMs = Some(System.currentTimeMillis() - t0)
        stmt.error = Some(String.valueOf(e.getMessage))
        stmt.state = Failed
    }
  }

  /** GET /druid/v2/sql/statements/{id} — the `SqlStatementResult` JSON:
    * queryId, state, createdAt, schema (name/type/nativeType per
    * `ColumnNameAndTypes.java`), durationMs, result set information
    * (numTotalRows, totalSizeInBytes, pages with id/numRows/sizeInBytes —
    * `ResultSetInformation.java` / `PageInformation.java`), errorDetails.
    */
  def status(queryId: String): String = {
    val stmt = get(queryId)
    val base: List[(String, JValue)] = List(
      "queryId" -> JString(stmt.queryId),
      "state" -> JString(stmt.state),
      "createdAt" -> JString(DateTimeFormatter.ISO_INSTANT.withZone(ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(stmt.createdAtMs))))
    val schema = stmt.schema.map(s => "schema" -> JArray(s.fields.map(f =>
      JObject("name" -> JString(f.name),
        "type" -> JString(SqlApi.sqlTypeName(f.dataType)),
        "nativeType" -> JString(SqlApi.druidType(f.dataType)))).toList))
    val duration = stmt.durationMs.map(d => "durationMs" -> JLong(d))
    val result =
      if (stmt.state != Success) None
      else Some("result" -> JObject(
        "numTotalRows" -> JLong(stmt.pages.map(_._2).sum),
        "totalSizeInBytes" -> JLong(stmt.pages.map(_._3).sum),
        "dataSource" -> JString("__query_select"),
        "pages" -> JArray(stmt.pages.zipWithIndex.map { case ((_, n, b), i) =>
          JObject("id" -> JLong(i.toLong), "numRows" -> JLong(n),
            "sizeInBytes" -> JLong(b))
        }.toList)))
    val err = stmt.error.map(e => "errorDetails" ->
      JObject("error" -> JString("druidException"), "errorMessage" -> JString(e)))
    JsonMethods.compact(JsonMethods.render(
      JObject(base ++ schema ++ duration ++ result ++ err)))
  }

  /** GET /druid/v2/sql/statements/{id}/results?page=N&resultFormat=… —
    * render one result page (default: page 0) in the payload's result
    * format, overridable per request like the reference's query param.
    * Only the requested page's file is read: driver memory is one page.
    */
  def results(spark: SparkSession, queryId: String, page: Int = 0,
              resultFormat: Option[String] = None): String = {
    require(page >= 0, "Page cannot be negative. Please pass a positive number.")
    val stmt = get(queryId)
    require(stmt.state == Success,
      s"statement $queryId is ${stmt.state}; results exist only on SUCCESS")
    require(page < stmt.pages.size || (page == 0 && stmt.pages.isEmpty),
      s"page $page out of range (${stmt.pages.size} pages)")
    val schema = stmt.schema.getOrElse(new StructType())
    val rows: Array[Row] =
      if (stmt.pages.isEmpty) Array.empty
      else spark.read.schema(schema).parquet(stmt.pages(page)._1).collect()
    val withFmt = resultFormat match {
      case Some(f) => stmt.payload.json.merge(JObject("resultFormat" -> JString(f)))
      case None => stmt.payload.json
    }
    SqlApi.format(rows, schema, withFmt)
  }

  /** The statement's full result as a DataFrame — Spark-native consumers
    * read the result parquet directly (distributed, no driver paging)
    * instead of round-tripping rendered page strings.
    */
  def resultDataFrame(spark: SparkSession, queryId: String)
      : org.apache.spark.sql.DataFrame = {
    val stmt = get(queryId)
    require(stmt.state == Success,
      s"statement $queryId is ${stmt.state}; results exist only on SUCCESS")
    val schema = stmt.schema.getOrElse(new StructType())
    stmt.resultDir match {
      case Some(d) if stmt.pages.nonEmpty => spark.read.schema(schema).parquet(d)
      case _ => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    }
  }

  /** DELETE /druid/v2/sql/statements/{id} — cancel a live statement (its
    * Spark job group is interrupted) or drop a finished one. Returns true
    * if the id existed.
    */
  def cancel(spark: SparkSession, queryId: String): Boolean = {
    val stmt = registry.get(queryId)
    if (stmt == null) return false
    if (!stmt.finished) {
      stmt.error = Some("Query canceled")
      stmt.state = Failed
      QueryLanes.cancel(spark, queryId)
    }
    registry.remove(queryId)
    stmt.resultDir.foreach(d => deleteRecursively(new java.io.File(d)))
    true
  }

  /** Block until the statement leaves ACCEPTED/RUNNING (test/driver aid —
    * HTTP clients poll [[status]] instead). Returns the final state.
    */
  def awaitCompletion(queryId: String, timeoutMs: Long = 120000): String = {
    val stmt = get(queryId)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!stmt.finished && System.currentTimeMillis() < deadline)
      Thread.sleep(25)
    stmt.state
  }

  private def get(queryId: String): Stmt = {
    val s = registry.get(queryId)
    if (s == null)
      throw new NoSuchElementException(s"no such statement: $queryId")
    s
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
