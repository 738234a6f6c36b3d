package graft

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{ResultCache, SqlApi, SqlTokens}
import graft.api.SqlApi.rewriteSql

/** SQL-over-HTTP facade (reference POST /druid/v2/sql payload shape):
  * parameter binding, UNNEST translation, result formats, EXPLAIN PLAN FOR.
  */
class SqlApiSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def bind(sql: String, params: String): String = SqlTokens.render(
    SqlApi.bind(SqlTokens.lex(sql), JsonMethods.parse(params).asInstanceOf[JArray].arr))

  test("typed parameter binding") {
    val s = bind(
      "SELECT * FROM t WHERE a = ? AND b > ? AND c = ? AND d >= ? AND e = ?",
      """[{"type": "VARCHAR", "value": "x'y"},
         {"type": "DOUBLE", "value": 1.5},
         {"type": "BIGINT", "value": 42},
         {"type": "TIMESTAMP", "value": "2001-01-01T00:00:00Z"},
         {"type": "BOOLEAN", "value": true}]""")
    assert(s.contains("a = 'x''y'"))
    assert(s.contains("b > CAST(1.5 AS DOUBLE)"))
    assert(s.contains("c = 42"))
    assert(s.contains("d >= CAST('2001-01-01 00:00:00' AS TIMESTAMP)"))
    assert(s.contains("e = TRUE"))
  }

  test("placeholders inside literals, identifiers and comments survive") {
    val s = bind(
      "SELECT '?' AS q, \"a?b\" FROM t -- is this ? ignored\nWHERE x = ?",
      """[{"type": "BIGINT", "value": 7}]""")
    assert(s.contains("'?' AS q"))
    assert(s.contains("\"a?b\""))
    assert(s.contains("-- is this ? ignored"))
    assert(s.contains("x = 7"))
  }

  test("null parameter binds as NULL; millis timestamp; array parameter") {
    val s = bind("a = ? AND t = ? AND arr = ?",
      """[{"type": "VARCHAR", "value": null},
         {"type": "TIMESTAMP", "value": 978307200000},
         {"type": "ARRAY", "value": ["a", "b"]}]""")
    assert(s.contains("a = NULL"))
    assert(s.contains("t = timestamp_millis(978307200000)"))
    assert(s.contains("arr = array('a', 'b')"))
  }

  test("too few parameters fails loudly") {
    intercept[IllegalArgumentException] {
      bind("x = ? AND y = ?", """[{"type": "BIGINT", "value": 1}]""")
    }
  }

  test("UNNEST rewrite: CROSS JOIN form") {
    val s = rewriteSql(
      "SELECT w FROM nation CROSS JOIN UNNEST(split(n_comment, ' ')) AS t (w)")
    assert(s.contains("JOIN LATERAL (SELECT explode(mv_unnest_input(split(n_comment, ' '))) AS w) t"))
    // the UNNEST keyword is gone (mv_unnest_input is the null-row adapter)
    assert(!s.toUpperCase.contains("UNNEST("))
  }

  test("UNNEST rewrite: comma form and nested parens") {
    val s = rewriteSql(
      "SELECT x FROM t, UNNEST(filter(a, v -> v > (1+2))) AS u(x) WHERE x > 0")
    assert(s.contains("JOIN LATERAL (SELECT explode(mv_unnest_input(filter(a, v -> v > (1+2)))) AS x) u"))
  }

  test("UNNEST inside a string literal is untouched") {
    val s = rewriteSql("SELECT 'UNNEST(x)' FROM t")
    assert(s == "SELECT 'UNNEST(x)' FROM t")
  }

  test("end-to-end: parameters + UNNEST against testdata") {
    spark.sparkContext.setLogLevel("ERROR")
    val payload = """{
      "query": "SELECT w, count(*) AS n FROM documents CROSS JOIN UNNEST(split(text, ' ')) AS t (w) WHERE lang = ? AND w <> '' GROUP BY w ORDER BY n DESC, w LIMIT 5",
      "parameters": [{"type": "VARCHAR", "value": "en"}]
    }"""
    val rows = SqlApi.run(spark, dir, payload).collect()
    assert(rows.length == 5)
    assert(rows.head.getLong(1) >= rows.last.getLong(1))
  }

  test("result formats: csv with headers") {
    val payload = """{
      "query": "SELECT n_name, n_nationkey FROM nation WHERE n_nationkey < 2 ORDER BY n_nationkey",
      "resultFormat": "csv", "header": true, "typesHeader": true, "sqlTypesHeader": true
    }"""
    val out = SqlApi.execute(spark, dir, payload)
    val lines = out.split("\n")
    assert(lines(0) == "n_name,n_nationkey")
    assert(lines(1) == "STRING,LONG")
    assert(lines(2) == "VARCHAR,BIGINT")
    assert(lines.length == 5) // 3 headers + 2 rows
  }

  test("result formats: object and objectLines round-trip JSON") {
    val payload = """{
      "query": "SELECT n_name AS name, n_nationkey AS k FROM nation WHERE n_nationkey = 0"
    }"""
    val obj = SqlApi.execute(spark, dir, payload)
    val parsed = JsonMethods.parse(obj)
    assert((parsed(0) \ "k") == JLong(0) || (parsed(0) \ "k") == JInt(0))

    val lines = SqlApi.execute(spark, dir,
      payload.replace("\"query\"", "\"resultFormat\": \"objectLines\", \"query\""))
    assert(lines.endsWith("\n"))
    assert((JsonMethods.parse(lines.trim) \ "name") != JNothing)
  }

  test("array format with header row") {
    val payload = """{
      "query": "SELECT n_nationkey FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
      "resultFormat": "array", "header": true
    }"""
    val parsed = JsonMethods.parse(SqlApi.execute(spark, dir, payload))
    val JArray(rows) = parsed
    assert(rows.head == JArray(List(JString("n_nationkey"))))
    assert(rows.length == 4)
  }

  test("timestamps serialize ISO-8601 with millis like the reference") {
    val payload = """{
      "query": "SELECT TIMESTAMP '2001-02-03 04:05:06' AS t",
      "resultFormat": "array"
    }"""
    val out = SqlApi.execute(spark, dir, payload)
    assert(out.contains("2001-02-03T04:05:06.000Z"))
  }

  test("EXPLAIN PLAN FOR returns PLAN/RESOURCES/ATTRIBUTES") {
    val payload = """{
      "query": "EXPLAIN PLAN FOR SELECT o_orderpriority, count(*) FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY o_orderpriority"
    }"""
    val df = SqlApi.run(spark, dir, payload)
    assert(df.columns.toSeq == Seq("PLAN", "RESOURCES", "ATTRIBUTES"))
    val r = df.head()
    val resources = JsonMethods.parse(r.getString(1))
    val names = (resources \\ "name").children.collect { case JString(s) => s }
    assert(names.toSet == Set("customer", "orders"))
    assert(r.getString(2).contains("SELECT"))
    val plan = JsonMethods.parse(r.getString(0))
    assert((plan(0) \ "signature")(0) \ "name" == JString("o_orderpriority"))
  }

  test("ingest statement parsing") {
    val ins = SqlApi.ingestTarget(
      "INSERT INTO tgt SELECT * FROM src PARTITIONED BY DAY CLUSTERED BY a, b")
    assert(ins.exists(i => !i.replace && i.table == "tgt" &&
      i.clusterBy == Seq("a", "b") && i.innerSql == "SELECT * FROM src"))
    val rep = SqlApi.ingestTarget(
      "REPLACE INTO t OVERWRITE WHERE __time >= TIMESTAMP '2024-01-02' AND " +
        "__time < TIMESTAMP '2024-01-04' SELECT * FROM src PARTITIONED BY DAY")
    assert(rep.exists(i => i.replace &&
      i.overwriteWhere.contains(("2024-01-02", "2024-01-04"))))
    assert(SqlApi.ingestTarget("SELECT 1").isEmpty)
    intercept[IllegalArgumentException] {
      SqlApi.ingestTarget("INSERT INTO t SELECT * FROM src")
    }
  }

  test("SQL INSERT / REPLACE round-trip through the warehouse") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      SqlApi.run(spark, dir, """{
        "query": "INSERT INTO api_events SELECT ts AS __time, event_type, value FROM events PARTITIONED BY DAY CLUSTERED BY event_type"
      }""")
      val n = SqlApi.run(spark, dir,
        """{"query": "SELECT count(*) AS n FROM api_events"}""").head.getLong(0)
      assert(n == 1000L)
      // REPLACE one day with doubled values
      SqlApi.run(spark, dir, """{
        "query": "REPLACE INTO api_events OVERWRITE WHERE __time >= TIMESTAMP '2024-01-02' AND __time < TIMESTAMP '2024-01-03' SELECT ts AS __time, event_type, value * 2 AS value FROM events WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03' PARTITIONED BY DAY"
      }""")
      val after = SqlApi.run(spark, dir,
        """{"query": "SELECT count(*) AS n FROM api_events"}""").head.getLong(0)
      assert(after == n)
      val doubled = SqlApi.run(spark, dir, """{
        "query": "SELECT round(sum(value), 3) AS s FROM api_events WHERE __time >= TIMESTAMP '2024-01-02' AND __time < TIMESTAMP '2024-01-03'"
      }""").head.getDouble(0)
      val orig = spark.sql(
        """SELECT round(sum(value) * 2, 3) FROM events
           WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'""")
        .head.getDouble(0)
      assert(math.abs(doubled - orig) < 1e-6)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("an ingest through a symlinked warehouse re-registers other sessions' views") {
    val real = java.nio.file.Files.createTempDirectory("graft_wh_real")
    val link = real.resolveSibling(real.getFileName.toString + "_link")
    java.nio.file.Files.createSymbolicLink(link, real)
    // one warehouse, spelled through the link by the writer and directly
    // by the reader
    val writer = spark.newSession()
    writer.conf.set("spark.graft.warehouse", link.toString)
    val reader = spark.newSession()
    reader.conf.set("spark.graft.warehouse", real.toString)
    def replace(v: Int): Unit = SqlApi.run(writer, dir, s"""{
      "query": "REPLACE INTO wh_epoch OVERWRITE WHERE __time >= TIMESTAMP '2024-01-02' AND __time < TIMESTAMP '2024-01-03' SELECT TIMESTAMP '2024-01-02 00:00:00' AS __time, $v AS v PARTITIONED BY DAY"
    }""")
    def read(): Int = SqlApi.run(reader, dir,
      """{"query": "SELECT max(v) FROM wh_epoch"}""").head.getInt(0)
    replace(1)
    assert(read() == 1)
    val table = real.resolve("wh_epoch").toFile
    def entries = table +: table.listFiles().toSeq
    val mtimes = entries.map(f => f.getName -> f.lastModified).toMap
    replace(2)
    // the same day replaced: same entries; with their mtimes set back, only
    // the ingest epoch tells the reader the table changed
    assert(entries.map(_.getName).toSet == mtimes.keySet)
    entries.foreach(f => assert(f.setLastModified(mtimes(f.getName))))
    assert(read() == 2)
  }

  test("TABLE(APPEND(...)) merges schemas across tables") {
    val df = SqlApi.run(spark, dir, """{
      "query": "SELECT count(*) AS n, count(n_name) AS nn, count(r_name) AS rn FROM TABLE(APPEND('nation','region'))"
    }""")
    val r = df.head()
    assert(r.getLong(0) == 30L) // 25 nations + 5 regions
    assert(r.getLong(1) == 25L && r.getLong(2) == 5L)
  }

  test("TABLE(EXTERN(...)) reads inline csv with a typed signature") {
    val df = SqlApi.run(spark, dir, """{
      "query": "SELECT k, sum(v) AS s FROM TABLE(EXTERN('{\"type\":\"inline\",\"data\":\"a,1\\nb,2\\na,3\"}', '{\"type\":\"csv\"}', '[{\"name\":\"k\",\"type\":\"STRING\"},{\"name\":\"v\",\"type\":\"LONG\"}]')) GROUP BY k ORDER BY k"
    }""")
    val rows = df.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 4L), ("b", 2L)))
  }

  test("SET statements fold into the context and strip from the SQL") {
    val (ctx, rest) = SqlApi.setStatements(
      "SET sqlOuterLimit = 2; SET tag = 'a''b'; SELECT 1")
    assert(ctx("sqlOuterLimit") == JLong(2))
    assert(ctx("tag") == JString("a'b"))
    assert(rest == "SELECT 1")
    val df = SqlApi.run(spark, dir, """{
      "query": "SET sqlOuterLimit = 2; SELECT n_nationkey FROM nation ORDER BY n_nationkey"
    }""")
    assert(df.count() == 2)
  }

  test("context.sqlOuterLimit caps the result") {
    val df = SqlApi.run(spark, dir, """{
      "query": "SELECT n_nationkey FROM nation ORDER BY n_nationkey",
      "context": {"sqlOuterLimit": 3}
    }""")
    assert(df.count() == 3)
  }

  test("placeholders inside block comments survive") {
    val s = bind("SELECT /* not a param ? */ x FROM t WHERE x = ?",
      """[{"type": "BIGINT", "value": 9}]""")
    assert(s.contains("/* not a param ? */"))
    assert(s.contains("x = 9"))
  }

  test("identifier ending in unnest is not the UNNEST keyword") {
    val s = rewriteSql("SELECT my_unnest(a) FROM t")
    assert(s == "SELECT my_unnest(a) FROM t")
  }

  test("CROSS JOIN with extra whitespace before UNNEST rewrites cleanly") {
    val s = rewriteSql(
      "SELECT w FROM nation CROSS  JOIN\nUNNEST(split(c, ' ')) AS t (w)")
    assert(s.contains("JOIN LATERAL (SELECT explode(mv_unnest_input(split(c, ' '))) AS w) t"))
    assert(!s.toUpperCase.contains("CROSS"))
  }

  test("maxSubqueryRows caps execute; in-cap queries succeed") {
    val big = """{
      "query": "SELECT * FROM lineitem",
      "context": {"maxSubqueryRows": 100}
    }"""
    val ex = intercept[graft.api.QueryLanes.ResourceLimitExceeded] {
      SqlApi.execute(spark, dir, big)
    }
    assert(ex.getMessage.contains("maxSubqueryRows=100"))
    val small = """{
      "query": "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 5",
      "context": {"maxSubqueryRows": 100}
    }"""
    assert(JsonMethods.parse(SqlApi.execute(spark, dir, small))
      .asInstanceOf[JArray].arr.length == 5)
  }

  test("timeout 0 means no timeout (reference NO_TIMEOUT), not instant kill") {
    val payload = """{
      "query": "SELECT count(*) AS n FROM nation",
      "context": {"timeout": 0}
    }"""
    val out = SqlApi.execute(spark, dir, payload)
    val first = JsonMethods.parse(out).asInstanceOf[JArray].arr.head
    assert((first \ "n") == JLong(25) || (first \ "n") == JInt(25))
  }

  test("executeStream: uncapped by default, honors an EXPLICIT row cap") {
    // no cap supplied → unbounded stream (the caller owns the sink)
    val sw = new java.io.StringWriter()
    SqlApi.executeStream(spark, dir, """{
      "query": "SELECT n_nationkey FROM nation ORDER BY n_nationkey",
      "resultFormat": "arrayLines"
    }""", sw)
    val lines = sw.toString.trim.split("\n")
    assert(lines.length == 25)
    assert(lines.head == "[0]")
    // an explicitly supplied maxSubqueryRows is honored even when streaming
    // (silently ignoring a caller-requested cap would break API parity)
    val capped = new java.io.StringWriter()
    val ex = intercept[graft.api.QueryLanes.ResourceLimitExceeded] {
      SqlApi.executeStream(spark, dir, """{
        "query": "SELECT n_nationkey FROM nation ORDER BY n_nationkey",
        "resultFormat": "arrayLines",
        "context": {"maxSubqueryRows": 3}
      }""", capped)
    }
    assert(ex.getMessage.contains("maxSubqueryRows=3"))
  }

  test("negative context timeout is rejected as a bad query context") {
    val ex = intercept[IllegalArgumentException] {
      SqlApi.execute(spark, dir, """{
        "query": "SELECT 1 AS x",
        "context": {"timeout": -5}
      }""")
    }
    assert(ex.getMessage.contains("timeout"))
    // timeout 0 still means NO timeout (reference NO_TIMEOUT), not a reject
    val ok = SqlApi.execute(spark, dir, """{
      "query": "SELECT 1 AS x", "context": {"timeout": 0}
    }""")
    assert(ok.contains("1"))
  }

  test("maxSubqueryRows = Int.MaxValue effectively uncaps (no limit overflow)") {
    val out = SqlApi.execute(spark, dir, s"""{
      "query": "SELECT n_nationkey FROM nation ORDER BY n_nationkey",
      "resultFormat": "arrayLines",
      "context": {"maxSubqueryRows": ${Int.MaxValue}}
    }""")
    assert(out.trim.split("\n").length == 25)
  }

  test("async statements: submit -> poll -> result pages -> cancel lifecycle") {
    import graft.api.SqlStatements
    // submit returns immediately with the caller's sqlQueryId
    val id = SqlStatements.submit(spark, dir, """{
      "query": "SELECT /*+ REPARTITION(3) */ n_nationkey, n_name FROM nation",
      "resultFormat": "objectLines",
      "context": {"sqlQueryId": "stmt-lifecycle"}
    }""")
    assert(id == "stmt-lifecycle")
    assert(SqlStatements.awaitCompletion(id) == SqlStatements.Success)
    // status carries the SqlStatementResult shape: schema + page inventory
    val st = JsonMethods.parse(SqlStatements.status(id))
    assert((st \ "state") == JString("SUCCESS"))
    assert((st \ "schema")(0) \ "name" == JString("n_nationkey"))
    assert((st \ "schema")(0) \ "type" == JString("BIGINT"))
    val pages = (st \ "result" \ "pages").asInstanceOf[JArray].arr
    assert(pages.size == 3) // one page per REPARTITION(3) part file
    val totalRows = (st \ "result" \ "numTotalRows") match {
      case JLong(n) => n; case JInt(n) => n.toLong; case _ => -1L
    }
    assert(totalRows == 25)
    // each page renders independently; rows across pages = the full result
    val all = (0 until 3).flatMap(p =>
      SqlStatements.results(spark, id, page = p).trim.split("\n"))
    assert(all.length == 25)
    assert(all.forall(_.contains("n_nationkey")))
    // per-request resultFormat override (reference query param)
    val csv = SqlStatements.results(spark, id, page = 0,
      resultFormat = Some("csv"))
    assert(!csv.contains("{"))
    // out-of-range page rejected like the reference's INVALID_INPUT
    intercept[IllegalArgumentException] {
      SqlStatements.results(spark, id, page = 7)
    }
    // DELETE removes the statement and its results
    assert(SqlStatements.cancel(spark, id))
    intercept[NoSuchElementException] { SqlStatements.status(id) }
    assert(!SqlStatements.cancel(spark, id))
  }

  test("async statements: failures surface as FAILED with errorDetails") {
    import graft.api.SqlStatements
    // planning errors throw AT SUBMIT (the reference resource plans in
    // doPost and answers 400 before anything is enqueued)
    val planErr = intercept[Exception] {
      SqlStatements.submit(spark, dir, """{
        "query": "SELECT no_such_column FROM nation",
        "context": {"sqlQueryId": "stmt-bad-plan"}
      }""")
    }
    assert(planErr.getMessage.toLowerCase.contains("no_such_column"))
    // RUNTIME errors surface asynchronously as FAILED (strict
    // parse_json only fails during execution, after submit already
    // returned — division now follows the reference's lenient non-ANSI
    // arithmetic, so it no longer errors)
    val id = SqlStatements.submit(spark, dir, """{
      "query": "SELECT parse_json(n_name) AS x FROM nation",
      "context": {"sqlQueryId": "stmt-fail"}
    }""")
    assert(SqlStatements.awaitCompletion(id) == SqlStatements.Failed)
    val st = JsonMethods.parse(SqlStatements.status(id))
    assert((st \ "state") == JString("FAILED"))
    assert((st \ "errorDetails" \ "errorMessage") match {
      case JString(m) => m != null && m.nonEmpty
      case _ => false
    })
    // results on a FAILED statement are rejected
    intercept[IllegalArgumentException] {
      SqlStatements.results(spark, id)
    }
    SqlStatements.cancel(spark, id)
  }

  test("EXPLAIN PLAN FOR ingest reports the reference's ingest attributes") {
    val row = SqlApi.run(spark, dir, """{
      "query": "EXPLAIN PLAN FOR REPLACE INTO exp_target OVERWRITE ALL SELECT ts AS __time, event_type, value FROM events PARTITIONED BY DAY CLUSTERED BY event_type"
    }""").head()
    val attrs = JsonMethods.parse(row.getString(2))
    assert((attrs \ "statementType") == JString("REPLACE"))
    assert((attrs \ "targetDataSource") == JString("exp_target"))
    assert((attrs \ "partitionedBy") == JString("DAY"))
    assert((attrs \ "clusteredBy") == JArray(List(JString("event_type"))))
    assert((attrs \ "replaceTimeChunks") == JString("all"))
    // the plan/signature describe the ingest's SELECT
    assert(row.getString(0).contains("event_type"))
    val ins = SqlApi.run(spark, dir, """{
      "query": "EXPLAIN PLAN FOR INSERT INTO exp_target SELECT ts AS __time, value FROM events PARTITIONED BY MONTH"
    }""").head()
    val a2 = JsonMethods.parse(ins.getString(2))
    assert((a2 \ "statementType") == JString("INSERT"))
    assert((a2 \ "partitionedBy") == JString("MONTH"))
    assert((a2 \ "replaceTimeChunks") == JNothing)
  }

  test("window function inside ORDER BY is hoisted (drill-3348 shape)") {
    // plain spark.sql rejects this (Sort cannot hold window expressions);
    // the facade hoists it into a hidden projection — Calcite-parity
    val df = SqlApi.run(spark, dir, """{
      "query": "SELECT n_name, RANK() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS rnk FROM nation ORDER BY ROW_NUMBER() OVER (ORDER BY n_nationkey DESC) LIMIT 5"
    }""")
    assert(df.columns.toSeq == Seq("n_name", "rnk")) // helper column dropped
    val rows = df.collect()
    assert(rows.length == 5)
    // order followed row_number() over n_nationkey DESC: keys 24,23,22,21,20
    val expect = SqlApi.run(spark, dir, """{
      "query": "SELECT n_name FROM nation ORDER BY n_nationkey DESC LIMIT 5"
    }""").collect().map(_.getString(0)).toSeq
    assert(rows.map(_.getString(0)).toSeq == expect)
  }

  test("context timeout cancels a long-running query") {
    val payload = """{
      "query": "SELECT count(*) FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem c",
      "context": {"timeout": 400, "sqlQueryId": "slow-sql"}
    }"""
    val ex = intercept[Exception] { SqlApi.execute(spark, dir, payload) }
    val msg = String.valueOf(ex.getMessage) + String.valueOf(ex.getCause)
    assert(msg.toLowerCase.contains("cancel") || ex.isInstanceOf[org.apache.spark.SparkException])
  }

  test("consistency generator emits runnable SQL across seeds and sizes") {
    // the cross-engine gate pins seed 42; other seeds must still generate
    // valid SQL from every family (agg / window / join) or a generator
    // regression would only surface when the driver re-rolls the seed
    graft.Tables.registerAll(spark, dir)
    Seq(1L, 7L, 99L).foreach { seed =>
      val df = spark.sql(SparkEntry.consistencySql(seed, 12))
      assert(df.columns.toSeq == Seq("qid", "d", "n", "s", "v"), s"seed $seed")
      assert(df.count() > 0, s"seed $seed returned no rows")
    }
  }

  test("context.sqlStringifyArrays renders complex columns as JSON strings") {
    val payload = """{"query": "SELECT array(1, 2, 3) AS a, named_struct('x', 7) AS s",
      "resultFormat": "csv", "context": {"sqlStringifyArrays": true}}"""
    val body = SqlApi.execute(spark, dir, payload)
    assert(body.contains("[1,2,3]"), body)
    assert(body.contains("{\"\"x\"\":7}") || body.contains("{\"x\":7}"), body)
    // default: native array rendering stays untouched
    val df = SqlApi.run(spark, dir, """{"query": "SELECT array(1, 2, 3) AS a"}""")
    assert(df.schema.head.dataType.typeName == "array")
  }

  test("context.sqlReverseLookup=false disables the lookup inversion rewrite") {
    graft.functions.LookupRegistry.register("rl_ctx", Map("0" -> "AFRICA"))
    GraftSession.attach(spark) // installs ReverseLookupRule in this session
    def planOf(ctx: String): String = SqlApi.run(spark, dir, s"""{
      "query": "SELECT n_name FROM nation WHERE LOOKUP(CAST(n_nationkey AS VARCHAR(8)), 'rl_ctx') = 'AFRICA'"$ctx
    }""").queryExecution.optimizedPlan.toString
    // default: the filter inverts to an equality on the raw key
    assert(!planOf("").contains("element_at"), "rewrite should fire by default")
    // opted out: the map extraction survives optimization
    assert(planOf(""", "context": {"sqlReverseLookup": false}""")
      .contains("element_at"), "rewrite must be disabled by the context key")
  }

  test("context.sqlTimeZone scopes datetime semantics to the query") {
    // reference PlannerContext.getTimeZone: an -08:00 zone shifts which
    // calendar day a UTC-evening timestamp falls on; the session zone (UTC)
    // must be restored afterwards
    val sql = """{"query":
      "SELECT CAST(date_trunc('DAY', TIMESTAMP '2024-06-01 20:30:00') AS VARCHAR(32)) AS d",
      "context": {"sqlTimeZone": "America/Los_Angeles"}}"""
    val la = SqlApi.run(spark, dir, sql).head().getString(0)
    assert(la.startsWith("2024-06-01 00:00"), la)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val utc = SqlApi.run(spark, dir, """{"query":
      "SELECT CAST(date_trunc('DAY', TIMESTAMP '2024-06-01 20:30:00') AS VARCHAR(32)) AS d"}""")
      .head().getString(0)
    assert(utc.startsWith("2024-06-01 00:00"))
    // a fixed UTC instant shortly after midnight lands on the PREVIOUS
    // calendar day in the -07:00 zone
    val cross = SqlApi.run(spark, dir, """{"query":
      "SELECT CAST(date_trunc('DAY', TIMESTAMP '2024-06-01 04:30:00+00:00') AS VARCHAR(32)) AS d",
      "context": {"sqlTimeZone": "America/Los_Angeles"}}""").head().getString(0)
    assert(cross.startsWith("2024-05-31 00:00"), cross)
  }

  test("context.lane routes the SQL query into a scheduler pool") {
    // reference query laning (QueryContexts.getLane): the SQL route maps a
    // lane onto a Spark fair-scheduler pool exactly like the native route,
    // for the query's jobs only — the caller's thread keeps its own
    val (pools, group, pool) = QueryLifecycleSpec.lanesOf(spark, "lane-sql-1") {
      SqlApi.execute(spark, dir, """{
        "query": "SELECT count(*) AS n FROM nation",
        "context": {"lane": "low", "sqlQueryId": "lane-sql-1"}
      }""")
    }
    assert(pools.nonEmpty && pools.forall(_ == "low"), pools)
    assert(group == "outer-group" && pool == "outer-pool", (group, pool))
  }

  test("result cache: a SQL hit returns the stored body; result format and flagless queries stay apart") {
    ResultCache.clear()
    val payload = """{
      "query": "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3",
      "resultFormat": "csv",
      "context": {"useCache": true, "populateCache": true}
    }"""
    val first = SqlApi.execute(spark, dir, payload)
    val (h1, m1) = ResultCache.stats
    assert(h1 == 0 && m1 == 1)
    val second = SqlApi.execute(spark, dir, payload)
    val (h2, _) = ResultCache.stats
    assert(h2 == 1 && second == first)
    // a different result format must never hit the same entry
    val other = SqlApi.execute(spark, dir, payload.replace("csv", "arrayLines"))
    assert(other != first)
    val (h3, m3) = ResultCache.stats
    assert(h3 == 1 && m3 == 2)
    // no flags → no cache participation at all
    ResultCache.clear()
    SqlApi.execute(spark, dir,
      """{"query": "SELECT n_name FROM nation LIMIT 1"}""")
    assert(ResultCache.stats == ((0L, 0L)))
  }

  test("result cache: a re-ingest changes the files the key reads, so the read misses; DML always executes") {
    // a warehouse of its own, removed afterwards: the default one is shared
    // by every session and run
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_cache_inval")
    spark.conf.set("spark.graft.warehouse", wh.toString)
    try {
      ResultCache.clear()
      val tbl = "cache_inval_t"
      def ingest(maxKey: Long): Unit = SqlApi.execute(spark, dir, s"""{
        "query": "REPLACE INTO $tbl OVERWRITE ALL SELECT o_orderdate AS __time, o_orderkey FROM orders WHERE o_orderkey <= $maxKey PARTITIONED BY DAY"
      }""")
      ingest(100)
      val q = s"""{
        "query": "SELECT count(*) AS n FROM $tbl",
        "resultFormat": "csv",
        "context": {"useCache": true, "populateCache": true}
      }"""
      val before = SqlApi.execute(spark, dir, q)
      // second read hits the cache
      assert(SqlApi.execute(spark, dir, q) == before)
      val (h1, _) = ResultCache.stats
      assert(h1 >= 1)
      // re-ingest with different data: the cached body must NOT be served
      ingest(50)
      val after = SqlApi.execute(spark, dir, q)
      assert(after != before,
        s"stale cached result served after ingest: $after")
      // a write touches no counter: the read after it is one more miss
      val (h2, m2) = ResultCache.stats
      assert(h2 >= h1 && m2 >= 1, s"ingest reset the cache stats: ($h2, $m2)")
      // DML never participates in the cache: a repeated INSERT with cache
      // flags must EXECUTE (not no-op from a cache hit)
      def insertDml(): String = SqlApi.execute(spark, dir, s"""{
        "query": "INSERT INTO cache_inval_app SELECT o_orderdate AS __time, o_orderkey FROM orders WHERE o_orderkey <= 10 PARTITIONED BY DAY",
        "context": {"useCache": true, "populateCache": true}
      }""")
      def countApp(): Long = {
        insertDml() // ensure the table exists before counting
        SqlApi.execute(spark, dir,
          """{"query": "SELECT count(*) AS n FROM cache_inval_app",
              "resultFormat": "csv"}""").trim.split("\n").last.trim.toLong
      }
      val n0 = countApp()   // one insert inside
      val s0 = ResultCache.stats
      val n1 = countApp()   // a second insert — must append again, not no-op
      assert(n1 > n0, s"cached DML must still execute: $n0 -> $n1")
      assert(ResultCache.stats == s0, "DML with cache flags stays out of the stats")
    } finally {
      spark.conf.unset("spark.graft.warehouse")
      Seq("cache_inval_t", "cache_inval_app").foreach(spark.catalog.dropTempView)
      org.apache.commons.io.FileUtils.deleteDirectory(wh.toFile)
    }
  }

  /** `n` (or `n,m`) from a headerless csv body. */
  private def csvValue(body: String): String = body.trim.split("\n").last.trim

  private def cachedCsv(query: String, cached: Boolean = true): String =
    s"""{"query": "$query", "resultFormat": "csv",
         "context": {"useCache": $cached, "populateCache": $cached}}"""

  /** A session over its own fresh warehouse directory. */
  private def warehouseSession(prefix: String): (SparkSession, java.nio.file.Path) = {
    val wh = java.nio.file.Files.createTempDirectory(prefix)
    val s = spark.newSession()
    s.conf.set("spark.graft.warehouse", wh.toString)
    (s, wh)
  }

  test("result cache: a useCache read after applyRetention drops a day shows the new count") {
    val (s, wh) = warehouseSession("graft_wh_retention")
    SqlApi.execute(s, dir, """{
      "query": "REPLACE INTO wh_ret OVERWRITE ALL SELECT TIMESTAMP '2024-01-01 00:00:00' AS __time, 1 AS v UNION ALL SELECT TIMESTAMP '2024-01-02 00:00:00', 2 UNION ALL SELECT TIMESTAMP '2024-01-03 00:00:00', 3 PARTITIONED BY DAY"
    }""")
    val q = cachedCsv("SELECT count(*) AS n FROM wh_ret")
    assert(csvValue(SqlApi.execute(s, dir, q)) == "3")
    val (h0, _) = ResultCache.stats
    assert(csvValue(SqlApi.execute(s, dir, q)) == "3")
    assert(ResultCache.stats._1 == h0 + 1, "the repeat is a hit")
    val dropped = graft.operators.Ingest.applyRetention(s,
      wh.resolve("wh_ret").toString, keepDays = 2, asOfDay = "2024-01-03")
    assert(dropped.size == 1)
    assert(csvValue(SqlApi.execute(s, dir, q)) == "2")
  }

  test("an outside in-place rewrite of a warehouse file shows in SqlApi reads, cached or not") {
    val (s, wh) = warehouseSession("graft_wh_rewrite")
    SqlApi.execute(s, dir, """{
      "query": "REPLACE INTO wh_rw OVERWRITE ALL SELECT TIMESTAMP '2024-01-02 00:00:00' AS __time, 1 AS v PARTITIONED BY DAY"
    }""")
    def read(cached: Boolean): String =
      csvValue(SqlApi.execute(s, dir,
        cachedCsv("SELECT count(*) AS n, max(v) AS m FROM wh_rw", cached)))
    assert(read(cached = true) == "1,1")
    assert(read(cached = false) == "1,1")
    val table = wh.resolve("wh_rw").toFile
    val day = table.listFiles().filter(_.getName.startsWith("__day=")).head
    val leaf = day.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val mtimes = Seq(table, day).map(d => d -> d.lastModified)
    // new content under the leaf's name: 5000 rows in ~1 KB row groups, so
    // a read that still plans with the old file length misses rows
    val out = java.nio.file.Files.createTempDirectory("graft_rw_src").resolve("out")
    spark.range(5000)
      .selectExpr("TIMESTAMP '2024-01-02 00:00:00' AS __time", "CAST(id AS INT) + 10 AS v")
      .coalesce(1).write.option("parquet.block.size", "1024").parquet(out.toString)
    val part = out.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, leaf.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(day, "." + leaf.getName + ".crc").delete()
    // the directories look untouched: only the leaf file tells the change
    mtimes.foreach { case (d, t) => assert(d.setLastModified(t)) }
    assert(read(cached = true) == "5000,5009")
    assert(read(cached = false) == "5000,5009")
  }

  test("result cache: a read of a view over an RDD-backed DataFrame is never cached") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    def view(v: Int): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(v))),
        StructType(Seq(StructField("v", IntegerType))))
        .createOrReplaceTempView("rdd_view")
    val q = cachedCsv("SELECT max(v) AS m FROM rdd_view")
    view(1)
    assert(csvValue(SqlApi.execute(spark, dir, q)) == "1")
    view(2)
    assert(csvValue(SqlApi.execute(spark, dir, q)) == "2")
  }

  test("result cache: a WITH query over a table is cached") {
    val q = cachedCsv("WITH t AS (SELECT n_regionkey FROM nation WHERE n_nationkey < 7) " +
      "SELECT count(*) AS n FROM t")
    assert(csvValue(SqlApi.execute(spark, dir, q)) == "7")
    val (h0, _) = ResultCache.stats
    assert(csvValue(SqlApi.execute(spark, dir, q)) == "7")
    assert(ResultCache.stats._1 == h0 + 1, "the repeat is a hit")
  }

  test("result cache: a view redefined over the same files is a new key") {
    def view(maxKey: Int): Unit =
      spark.read.parquet(s"$dir/nation.parquet").filter(s"n_nationkey < $maxKey")
        .createOrReplaceTempView("nation_head")
    val q = cachedCsv("SELECT count(*) AS n FROM nation_head")
    view(5)
    assert(csvValue(SqlApi.execute(spark, dir, q)) == "5")
    val (h0, _) = ResultCache.stats
    assert(csvValue(SqlApi.execute(spark, dir, q)) == "5")
    assert(ResultCache.stats._1 == h0 + 1, "a plan over files is cached")
    view(10)
    assert(csvValue(SqlApi.execute(spark, dir, q)) == "10")
  }

  test("drill negative corpus: window misuse is rejected") {
    // reference sql/src/test/resources/drill/window/queries/negative/:
    // these must FAIL to plan, not silently produce something
    graft.Tables.registerAll(spark, dir)
    // no_over_clause-1.sql: rank() without an OVER clause
    intercept[Exception] {
      spark.sql("SELECT rank() FROM nation").collect()
    }
    // drill-3360.sql: a window function nested inside another window's
    // ORDER BY — drill/Calcite reject this; Spark plans it as two window
    // stages. Pin the (more permissive) Spark behavior: ordering by
    // row_number() over n_nationkey is the identity, so rank() == row order.
    val nested = spark.sql(
      """SELECT n_nationkey,
                CAST(rank() OVER (ORDER BY row_number() OVER (ORDER BY n_nationkey)) AS BIGINT) AS r
         FROM nation""").collect()
    assert(nested.sortBy(_.getInt(0)).zipWithIndex.forall { case (row, i) => row.getLong(1) == i + 1 })
    // frame on a rank function (negative/ordrBy frame misuse family)
    intercept[Exception] {
      spark.sql(
        """SELECT rank() OVER (ORDER BY n_nationkey
             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM nation""").collect()
    }
  }

  test("suffix frame shorthand: lone FOLLOWING bound expands to CURRENT ROW AND") {
    def rewriteSuffixFrames(s: String) = rewriteSql(s)
    assert(rewriteSuffixFrames("OVER (ORDER BY a ROWS UNBOUNDED FOLLOWING)") ==
      "OVER (ORDER BY a ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
    assert(rewriteSuffixFrames("OVER (ORDER BY a ROWS 2 FOLLOWING)") ==
      "OVER (ORDER BY a ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)")
    assert(rewriteSuffixFrames("OVER (ORDER BY t RANGE INTERVAL '1' DAY FOLLOWING)") ==
      "OVER (ORDER BY t RANGE BETWEEN CURRENT ROW AND INTERVAL '1' DAY FOLLOWING)")
    // already-explicit frames and PRECEDING shorthand untouched
    val explicit = "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
    assert(rewriteSuffixFrames(explicit) == explicit)
    val prec = "ROWS 1 PRECEDING"
    assert(rewriteSuffixFrames(prec) == prec)
  }

  test("bare VARCHAR/CHAR casts map to STRING; parameterized forms untouched") {
    def rewriteCastTypes(s: String) = rewriteSql(s, Seq(SqlApi.castTypes))
    assert(rewriteCastTypes("CAST(x AS VARCHAR)") == "CAST(x AS STRING)")
    assert(rewriteCastTypes("cast(x as char)") == "cast(x AS STRING)")
    val sized = "CAST(x AS VARCHAR(10))"
    assert(rewriteCastTypes(sized) == sized)
    val ret = "JSON_VALUE(c, '$.x' RETURNING VARCHAR)"
    assert(rewriteCastTypes(ret) == ret)
  }

  test("FLOOR/CEIL … TO unit rewrite: nested forms, plain FLOOR untouched") {
    def rewriteFloorCeilTo(s: String) = rewriteSql(s, Seq(SqlApi.floorCeilTo))
    assert(rewriteFloorCeilTo("SELECT FLOOR(__time TO HOUR) FROM t") ==
      "SELECT date_trunc('HOUR', __time) FROM t")
    assert(rewriteFloorCeilTo("SELECT CEILING(CAST(x AS TIMESTAMP) TO MONTH)") ==
      "SELECT TIME_CEIL(CAST(x AS TIMESTAMP), 'P1M')")
    // nested: inner floor resolves first, then the outer
    assert(rewriteFloorCeilTo("FLOOR(FLOOR(t TO DAY) TO YEAR)") ==
      "date_trunc('YEAR', date_trunc('DAY', t))")
    // numeric floor/ceil untouched
    val plain = "SELECT FLOOR(x), CEIL(y / 2.0), floor(avg(z)) FROM t"
    assert(rewriteFloorCeilTo(plain) == plain)
  }

  test("text rewrites never fire inside string literals (literal masking)") {
    import graft.api.{ResultCache, SqlApi}
    // a literal whose CONTENT looks like the rewrite triggers must survive
    // the whole rewrite chain verbatim
    val payload = """{"query": "SELECT 'use FLOOR(x TO DAY) here' AS a, 'GROUP BY ()' AS b, FLOOR(__time TO HOUR) AS h FROM t GROUP BY ()"}"""
    val out = SqlApi.sql(org.json4s.jackson.JsonMethods.parse(payload))
    assert(out.contains("'use FLOOR(x TO DAY) here'"), out)
    assert(out.contains("'GROUP BY ()'"), out)
    // ...while the same patterns OUTSIDE literals still rewrite
    assert(out.contains("date_trunc('HOUR', __time)"), out)
    assert(out.contains("GROUP BY GROUPING SETS (())"), out)
    // '' escapes stay inside one string token and round-trip
    val lits = SqlTokens.lex("SELECT 'it''s' || 'x', col FROM t")
      .filter(_.kind == SqlTokens.Str).map(_.text)
    assert(lits == Seq("'it''s'", "'x'"), lits)
    assert(rewriteSql("SELECT 'it''s' || 'x', col FROM t") == "SELECT 'it''s' || 'x', col FROM t")
    // end-to-end: the literal value comes back untouched from execution
    graft.Tables.registerAll(spark, dir)
    val r = SqlApi.run(spark, dir,
      """{"query": "SELECT 'FLOOR(x TO DAY)' AS lit, FLOOR(CAST('2024-03-07' AS TIMESTAMP) TO MONTH) AS m"}""").head()
    assert(r.getString(0) == "FLOOR(x TO DAY)")
    assert(r.getTimestamp(1).toString.startsWith("2024-03-01"))
  }

  test("qaWin negative corpus: RANGE offsets need one numeric sort key") {
    // reference quidem-ut qaWin orderby_range_{1,negative}_* batteries:
    // 49/50 testcases per file are QueryInterruptedException because a
    // value-offset RANGE frame is only defined over a single numeric
    // ORDER BY key. Spark rejects the same shapes at analysis.
    graft.Tables.registerAll(spark, dir)
    // multi-key ORDER BY with a RANGE offset (orderby_range_1_preceding)
    intercept[Exception] {
      spark.sql(
        """SELECT sum(n_regionkey) OVER (ORDER BY n_name, n_nationkey
             RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) FROM nation""").collect()
    }
    // non-numeric single key with a RANGE offset
    intercept[Exception] {
      spark.sql(
        """SELECT sum(n_regionkey) OVER (ORDER BY n_name
             RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) FROM nation""").collect()
    }
    // negative offset (orderby_range_negative: RANGE -1 PRECEDING). Druid
    // rejects it; stock Spark would evaluate the empty frame to NULL, so
    // the engine adds RejectInvertedFrames — the bound pair (-1 PRECEDING,
    // CURRENT ROW) is inverted (lower +1 > upper 0) and throws loudly.
    GraftSession.attach(spark)
    intercept[Exception] {
      spark.sql(
        """SELECT sum(n_regionkey) OVER (ORDER BY n_nationkey
             RANGE BETWEEN -1 PRECEDING AND CURRENT ROW) AS s FROM nation""").collect()
    }
    // inverted bounds ARE rejected at analysis in both engines
    intercept[Exception] {
      spark.sql(
        """SELECT sum(n_regionkey) OVER (ORDER BY n_nationkey
             RANGE BETWEEN -2 PRECEDING AND -1 FOLLOWING) FROM nation""").collect()
    }
    // a negative amount that does NOT invert the pair (-1 FOLLOWING parses
    // to the same Catalyst bound as 1 PRECEDING, so the optimizer rule
    // can't see it) — Calcite rejects any negative frame amount; the SQL
    // facade catches the spelling on the tokens
    intercept[IllegalArgumentException] {
      rewriteSql(
        """SELECT sum(n_regionkey) OVER (ORDER BY n_nationkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND -1 FOLLOWING) FROM nation""")
    }
    // legal PRECEDING-pair upper bound passes untouched
    assert(rewriteSql(
      "ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING").nonEmpty)
    // parity: BOTH entry points (facade pipeline and gate-runner pipeline)
    // reject the negated-literal spelling — the chains are unified
    intercept[IllegalArgumentException] {
      graft.api.SqlApi.rewriteSql(
        """SELECT sum(n_regionkey) OVER (ORDER BY n_nationkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND -1 FOLLOWING) FROM nation""")
    }
  }

  test("rewriteFetch handles the combined OFFSET…FETCH paging form " +
      "(Calcite order → Spark's LIMIT-before-OFFSET)") {
    def rewriteFetch(s: String) = rewriteSql(s)
    assert(rewriteFetch("SELECT a FROM t OFFSET 5 ROWS FETCH NEXT 10 ROWS ONLY")
      == "SELECT a FROM t LIMIT 10 OFFSET 5")
    assert(rewriteFetch("SELECT a FROM t OFFSET 1 ROW FETCH FIRST 2 ROWS ONLY")
      == "SELECT a FROM t LIMIT 2 OFFSET 1")
    // count-less FETCH FIRST ROW ONLY = 1, both standalone and combined
    assert(rewriteFetch("SELECT a FROM t FETCH FIRST ROW ONLY")
      == "SELECT a FROM t LIMIT 1")
    assert(rewriteFetch("SELECT a FROM t OFFSET 3 ROWS FETCH FIRST ROW ONLY")
      == "SELECT a FROM t LIMIT 1 OFFSET 3")
    // standalone forms unchanged in behavior
    assert(rewriteFetch("SELECT a FROM t OFFSET 4 ROWS")
      == "SELECT a FROM t OFFSET 4")
    assert(rewriteFetch("SELECT a FROM t FETCH NEXT 7 ROWS ONLY")
      == "SELECT a FROM t LIMIT 7")
    // the combined form parses end-to-end through the shared pipeline
    graft.Tables.registerAll(spark, dir)
    val rows = spark.sql(graft.api.SqlApi.rewriteSql(
      """SELECT n_nationkey FROM nation ORDER BY n_nationkey
         OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY""")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 3, 4))
  }

  test("Calcite interval leading-field precision is dropped; a bare " +
      "YEAR(col) function call never matches (qaTpch Q1 dialect)") {
    assert(rewriteSql(
      "SELECT * FROM t WHERE d <= date '1998-12-01' - interval '63' DAY (3)")
      .endsWith("interval '63' DAY"))
    assert(!rewriteSql(
      "SELECT d < date '1998-12-01' - interval '63' DAY (3) FROM t")
      .contains("(3)"))
    // function calls and non-interval parens survive
    val kept = rewriteSql("SELECT YEAR (o_orderdate), MONTH(d) FROM t")
    assert(kept.contains("YEAR (o_orderdate)") && kept.contains("MONTH(d)"))
    // end-to-end: the TPC-H Q1 predicate parses and the DOUBLE/DECIMAL
    // division mix resolves (CalciteDiv casts fractional mixes to DOUBLE)
    graft.Tables.registerAll(spark, dir)
    val r = graft.api.SqlApi.runSql(spark,
      """SELECT cast(sum(o_totalprice) / 7.0 AS bigint) AS avg7
         FROM orders
         WHERE o_orderdate <= date '1998-12-01' - interval '63' DAY (3)""")
      .head()
    assert(!r.isNullAt(0) && r.getLong(0) > 0L)
  }

  test("POSITION…FROM boundary check treats '_' as identifier (in_x is " +
      "not the IN keyword)") {
    // a column named in_x / y_from inside POSITION(...) must not be taken
    // as the IN/FROM keyword
    val noFrom = "SELECT POSITION(in_x IN y_from) FROM t"
    assert(rewriteSql(noFrom) == noFrom)
    assert(rewriteSql("SELECT POSITION('b' IN col_in FROM 2) FROM t")
      == "SELECT locate('b', col_in, 2) FROM t")
  }

  test("payload string literals keep Calcite no-escape semantics " +
      "(ops_funcs_mv_funcs A1_B15: split on '\\|' is a pipe split)") {
    GraftSession.attach(spark)
    // '\|' through the facade = backslash+pipe = regex-escaped pipe;
    // Spark's parser alone would eat the backslash and split per-char
    val df = graft.api.SqlApi.run(spark, dir,
      """{"query": "SELECT string_to_mv('true|1|S1', '\\|') AS c"}""")
    assert(df.head().getSeq[String](0) == Seq("true", "1", "S1"))
    // '\n' stays two characters, not a newline
    val df2 = graft.api.SqlApi.run(spark, dir,
      """{"query": "SELECT length('a\\nb') AS n"}""")
    assert(df2.head().getInt(0) == 4)
  }

  test("qaArray ops_funcs_scalar_funcs rejection grid: scalar functions " +
      "over ARRAY columns are analysis errors (43-file !error battery)") {
    GraftSession.attach(spark)
    spark.sql(
      """SELECT array(1L, 2L, CAST(NULL AS BIGINT)) AS a_int,
                array('S1', 'S2', CAST(NULL AS STRING)) AS a_str
         FROM range(1)""").createOrReplaceTempView("swq_arr")
    // the grid's numeric/string/temporal function families — every one
    // the reference rejects AND Spark rejects (analysis-time parity)
    val rejected = Seq(
      "abs(a_int)", "ceil(a_int)", "floor(a_int)", "sqrt(a_int)",
      "sin(a_int)", "tan(a_int)", "exp(a_int)", "ln(a_int)",
      "power(a_int, 2)", "mod(a_int, 2)", "radians(a_int)",
      "round(a_int)", "upper(a_int)", "lower(a_int)",
      "trim(a_str)", "ltrim(a_str)", "rtrim(a_str)",
      "repeat(a_str, 2)", "substring(a_str, 1, 2)",
      "time_floor(a_int, 'PT1H')", "timestamp_to_millis(a_str)",
      "parse_long(a_int)", "safe_divide(a_int, 2)")
    for (expr <- rejected) {
      intercept[Exception] {
        spark.sql(s"SELECT $expr AS col FROM swq_arr").collect()
      }
    }
    // documented-permissive: Spark DEFINES these on arrays (a capability
    // superset, not a wrong answer on any accepted query) — reverse
    // reverses the array, count counts rows, concat concatenates arrays
    assert(spark.sql("SELECT reverse(a_int) AS r FROM swq_arr").head()
      .getSeq[Any](0).head == null)
    assert(spark.sql("SELECT count(a_int) AS c FROM swq_arr").head()
      .getLong(0) == 1L)
  }

  test("qaWin negative corpus: NTILE and NTH_VALUE argument bounds") {
    // basics_window_funcs error battery: NTILE requires a positive bucket
    // count and NTH_VALUE a positive offset — rejected, not silently NULL
    graft.Tables.registerAll(spark, dir)
    intercept[Exception] {
      spark.sql(
        "SELECT NTILE(0) OVER (ORDER BY n_nationkey) FROM nation").collect()
    }
    intercept[Exception] {
      spark.sql(
        "SELECT NTILE(-3) OVER (ORDER BY n_nationkey) FROM nation").collect()
    }
    intercept[Exception] {
      spark.sql(
        """SELECT NTH_VALUE(n_name, 0) OVER (ORDER BY n_nationkey)
           FROM nation""").collect()
    }
    // a non-literal NTILE bucket count is likewise rejected at analysis
    intercept[Exception] {
      spark.sql(
        """SELECT NTILE(n_regionkey) OVER (ORDER BY n_nationkey)
           FROM nation""").collect()
    }
  }

  test("query laning: capacity-exceeded queries are rejected, not queued") {
    import graft.api.QueryLanes
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    try {
      // HiLo strategy: total 2, 'low' lane capped at 1
      QueryLanes.configureHiLo(totalCapacity = 2, lowPercent = 50)
      // a low-lane query holds its permit while a second low-lane query
      // arrives → the second is shed immediately with the typed error
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() =>
        QueryLanes.withAdmission(Some("low")) {
          entered.countDown()
          release.await(10, TimeUnit.SECONDS)
        })
      holder.start()
      assert(entered.await(10, TimeUnit.SECONDS))
      val rejected = intercept[QueryLanes.QueryCapacityExceeded] {
        SqlApi.execute(spark, dir,
          """{"query": "SELECT count(*) AS n FROM nation",
              "context": {"lane": "low"}}""")
      }
      assert(rejected.getMessage.contains("lane 'low'"))
      // the default lane still has total capacity → runs fine concurrently
      val ok = SqlApi.execute(spark, dir,
        """{"query": "SELECT count(*) AS n FROM nation"}""")
      assert(ok.contains("25"))
      release.countDown(); holder.join(10000)
      // after the holder releases, the low lane admits again
      val okLow = SqlApi.execute(spark, dir,
        """{"query": "SELECT count(*) AS n FROM nation",
            "context": {"lane": "low"}}""")
      assert(okLow.contains("25"))
    } finally QueryLanes.configure(0) // restore unlimited for other tests
  }

  test("facade's ANSI-off dialect is scoped per query, not session-global") {
    val AnsiKey = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(AnsiKey)
    try {
      spark.conf.set(AnsiKey, "true")
      // lenient dialect INSIDE the facade: invalid cast is NULL, not error
      val viaFacade = SqlApi.runSql(spark,
        "SELECT CAST('abc' AS BIGINT) AS v").head()
      assert(viaFacade.isNullAt(0))
      // the session conf is untouched after the call …
      assert(spark.conf.get(AnsiKey) == "true")
      // … and a DataFrame-API ANSI cast on the SAME session still throws
      intercept[Exception] {
        spark.sql("SELECT CAST('abc' AS BIGINT) AS v").head()
      }
    } finally prev match {
      case Some(v) => spark.conf.set(AnsiKey, v)
      case None    => spark.conf.unset(AnsiKey)
    }
  }

  test("WITH wrapper keeps the outermost ORDER BY over a druid table") {
    val mvMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("druid.mv", true).build()
    spark.sql(
      """SELECT * FROM VALUES ('a', array('x')), ('b', array('y')),
           ('c', array('z')), ('d', CAST(NULL AS ARRAY<STRING>))
         AS t(k, mv)""")
      .withColumn("mv", org.apache.spark.sql.functions.col("mv").as("mv", mvMeta))
      .createOrReplaceTempView("r20_with_gate")
    graft.functions.MvdTables.register("r20_with_gate")
    val got = SqlApi.runSql(spark,
      """WITH one AS (SELECT 1 AS o)
         SELECT k FROM r20_with_gate ORDER BY k DESC""")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("d", "c", "b", "a"))
    // and a CTE-referencing main query too
    val got2 = SqlApi.runSql(spark,
      """WITH g AS (SELECT k FROM r20_with_gate)
         SELECT k FROM g ORDER BY k DESC""")
      .collect().map(_.getString(0)).toSeq
    assert(got2 == Seq("d", "c", "b", "a"))
  }

  test("inline UNNEST as the sole table factor") {
    val got = SqlApi.runSql(spark,
      "SELECT COUNT(*) AS n FROM (select c from UNNEST(ARRAY[1,2,3]) as u(c))")
      .collect().head.getLong(0)
    assert(got == 3L)
  }

  test("U& literals decode in-scanner; ordinary literals with U& survive") {
    def lexed(s: String) = SqlTokens.render(SqlTokens.lex(s))
    assert(lexed("SELECT U&'\\0025' AS p") == "SELECT '%' AS p")
    // the r19 pre-pass regex hazard: a plain literal containing "U&"
    // must not open a unicode literal spanning literal boundaries
    val hazard = "WHERE a = 'PU&' AND b = 'x'"
    assert(lexed(hazard) == hazard)
    // a decoded quote re-escapes so the literal stays well-formed
    assert(lexed("SELECT U&'a\\0027b'") == "SELECT 'a''b'")
    // backslash escape and lowercase u&
    assert(lexed("SELECT u&'x\\\\y'") == "SELECT 'x\\y'")
  }

  test("an apostrophe in a comment opens no string literal") {
    val r = SqlApi.run(spark, dir, """{"query": "SELECT 1 AS x -- it's\n, FLOOR(CAST('2024-03-07' AS TIMESTAMP) TO MONTH) AS m"}""").head()
    assert(r.getTimestamp(1).toString.startsWith("2024-03-01"))
  }

  test("a negative frame bound inside a comment is not rejected") {
    val r = SqlApi.run(spark, dir,
      """{"query": "SELECT count(*) AS n FROM nation -- -1 FOLLOWING"}""").head()
    assert(r.getLong(0) == 25L)
  }

  test("a backquoted identifier is never rewritten") {
    val df = SqlApi.run(spark, dir,
      """{"query": "SELECT `FLOOR(x TO DAY)` FROM (SELECT 1 AS `FLOOR(x TO DAY)`)"}""")
    assert(df.columns.toSeq == Seq("FLOOR(x TO DAY)"))
  }

  test("lex-then-render returns every corpus text byte for byte") {
    val familySql = Seq(CalciteJoinShapes.gates, DrillAggregates.gates,
      DrillFrameclause.gates, DrillLeadLag.gates, DrillMultiPartitions.gates,
      DrillNestedAggs.gates, DrillWindowMisc.gates, QaSqlBatteries.gates,
      QaSuites.gates, SqlQuidemShapes.gates).flatten.map(_._2)
    val texts = SparkEntry.oracleSql.values.toSeq ++ familySql ++ Seq(
      "SELECT '?' AS q, \"a?b\" FROM t -- is this ? ignored\nWHERE x = ?",
      "SELECT /* not a param ? */ x FROM t WHERE x = ?",
      "SELECT /*+ REPARTITION(3) */ n_nationkey, n_name FROM nation")
    assert(SparkEntry.oracleSql.size == 674 && familySql.nonEmpty)
    val changed = texts.filter(t => SqlTokens.render(SqlTokens.lex(t)) != t)
    assert(changed.isEmpty, changed.take(3))
  }
}
