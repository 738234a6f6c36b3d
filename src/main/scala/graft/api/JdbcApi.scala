package graft.api

import java.util.concurrent.ConcurrentHashMap

import org.json4s._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Embedded JDBC (Avatica-model) facade — the analog of the reference's
  * second query entry point (`sql/src/main/java/org/apache/druid/sql/avatica/
  * DruidAvaticaHandler.java`, `DruidMeta.java`, `DruidConnection.java`,
  * `DruidJdbcPreparedStatement.java`, `DruidJdbcResultSet.java`): bounded
  * connections each holding a bounded set of (prepared) statements; prepare
  * returns a signature (column + parameter metadata) without executing;
  * execute binds typed positional parameters and serves the result as
  * sequential frames of bounded size, Avatica `Meta.Frame`-style.
  *
  * Spark-first result serving: a statement's result is `df.toLocalIterator`,
  * so the driver holds at most one partition regardless of result size —
  * the same bounded-memory contract as the reference's `DruidJdbcResultSet`
  * yielder (its `fetch` pulls batches from a sequence backed by the query
  * cursor). Frames are sequential-only (`fetchOffset` must equal the rows
  * already served), which is Avatica's actual access pattern; random seeks
  * would re-run the query in the reference too.
  */
object JdbcApi {

  /** Reference `AvaticaServerConfig.java` defaults. */
  val MaxConnections = 25
  val MaxStatementsPerConnection = 4
  val MinRowsPerFrame = 100
  val MaxRowsPerFrame = 5000
  val ConnectionIdleTimeoutMs: Long = 5L * 60 * 1000

  final case class ColumnMeta(name: String, sqlType: String, nullable: Boolean)

  /** `parameterTypes` is the per-placeholder SQL type, inferred at prepare
    * like the reference's Calcite-derived parameter signature
    * (`DruidJdbcPreparedStatement` returns `AvaticaParameter`s typed from
    * the validated rel); placeholders whose type the scan cannot determine
    * report OTHER, and the execute-time typed value decides.
    */
  final case class Signature(columns: Seq[ColumnMeta], parameterCount: Int,
      parameterTypes: Seq[String] = Nil)
  final case class Frame(offset: Long, done: Boolean, rows: Seq[Row])

  final class StatementClosed(msg: String) extends IllegalStateException(msg)

  private final class StatementState(val id: Int, val preparedSql: Option[String]) {
    var signature: Option[Signature] = None
    var schema: Option[StructType] = None
    var iter: Option[Iterator[Row]] = None
    var served: Long = 0L
    var closed = false
  }

  private final class ConnectionState(val id: String,
      val context: Map[String, String]) {
    val statements = new ConcurrentHashMap[Int, StatementState]()
    private val nextId = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var lastActivityMs: Long = System.currentTimeMillis()
    def touch(): Unit = lastActivityMs = System.currentTimeMillis()
    def allocId(): Int = nextId.incrementAndGet()
  }

  private val connections = new ConcurrentHashMap[String, ConnectionState]()

  // ------------------------------------------------------------ lifecycle --

  /** Open a connection (reference `DruidMeta.openConnection`): fails beyond
    * [[MaxConnections]] like the reference's "too many connections".
    * `context` entries become per-query context (sqlTimeZone etc.).
    */
  def openConnection(connectionId: String,
      context: Map[String, String] = Map.empty): Unit = connections.synchronized {
    if (connections.size >= MaxConnections &&
        !connections.containsKey(connectionId))
      throw new IllegalStateException(
        s"too many connections (max $MaxConnections)")
    val prev = connections.putIfAbsent(
      connectionId, new ConnectionState(connectionId, context))
    if (prev != null)
      throw new IllegalStateException(s"connection $connectionId already open")
  }

  def closeConnection(connectionId: String): Unit =
    connections.remove(connectionId)

  /** Reap idle connections (reference's connection timeout future). Returns
    * the ids closed. Caller-driven, matching the embedded-library shape.
    */
  def closeIdle(nowMs: Long = System.currentTimeMillis(),
      idleTimeoutMs: Long = ConnectionIdleTimeoutMs): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val dead = connections.asScala.collect {
      case (id, c) if nowMs - c.lastActivityMs >= idleTimeoutMs => id
    }.toSeq
    dead.foreach(connections.remove)
    dead
  }

  def openConnectionCount: Int = connections.size

  private def conn(connectionId: String): ConnectionState = {
    val c = connections.get(connectionId)
    if (c == null)
      throw new IllegalStateException(s"no such connection: $connectionId")
    c.touch()
    c
  }

  private def stmt(c: ConnectionState, statementId: Int): StatementState = {
    val s = c.statements.get(statementId)
    if (s == null)
      throw new StatementClosed(s"no such statement: $statementId")
    if (s.closed)
      throw new StatementClosed(s"statement $statementId is closed")
    s
  }

  private def allocStatement(c: ConnectionState,
      preparedSql: Option[String]): StatementState = {
    if (c.statements.size >= MaxStatementsPerConnection)
      throw new IllegalStateException(
        s"too many open statements (max $MaxStatementsPerConnection)")
    val s = new StatementState(c.allocId(), preparedSql)
    c.statements.put(s.id, s)
    s
  }

  // ------------------------------------------------------------ statements --

  /** Plain statement (reference `DruidJdbcStatement`): SQL arrives at
    * execute time.
    */
  def createStatement(connectionId: String): Int =
    allocStatement(conn(connectionId), None).id

  /** Prepared statement (reference `DruidJdbcPreparedStatement.prepare`):
    * plans the query NOW — invalid SQL fails here, not at execute — and
    * returns the signature, including per-placeholder parameter types
    * inferred from the placeholder's syntactic context resolved against the
    * registered table schemas (the facade analog of the reference's
    * Calcite-validated parameter row type).
    */
  def prepareStatement(spark: SparkSession, dir: String, connectionId: String,
      sql: String): (Int, Signature) = {
    val c = conn(connectionId)
    val nParams = countPlaceholders(sql)
    val pTypes = inferParameterTypes(spark, dir, sql)
    // INSERT/REPLACE must NOT run at prepare (SqlApi.run executes ingest
    // statements eagerly — a DML prepare would write, then execute would
    // write again). Like the reference, a DML signature is just its
    // parameter metadata; columns come from execute.
    val sig =
      if (SqlApi.ingestTarget(sql).isDefined) Signature(Nil, nParams, pTypes)
      else {
        // plan with typed stand-ins for placeholders (values irrelevant —
        // nothing executes): schema derivation without execution, the
        // reference's prepare-only Calcite pass. A NULL stand-in would
        // reject positions that demand a concrete type (LIMIT ?).
        val planned = runPayload(spark, dir, sql,
          pTypes.map(standIn), c.context)
        Signature(planned.schema.fields.toSeq.map(f =>
          ColumnMeta(f.name, f.dataType.sql, f.nullable)), nParams, pTypes)
      }
    val s = allocStatement(c, Some(sql))
    s.signature = Some(sig)
    (s.id, sig)
  }

  def signature(connectionId: String, statementId: Int): Signature =
    stmt(conn(connectionId), statementId).signature.getOrElse(
      throw new IllegalStateException(s"statement $statementId not prepared"))

  /** Execute a prepared statement with typed positional parameters
    * (reference `DruidJdbcPreparedStatement.execute(List<TypedValue>)`);
    * re-executable — a new execute discards the previous result set. Returns
    * the first frame.
    */
  def execute(spark: SparkSession, dir: String, connectionId: String,
      statementId: Int, parameters: Seq[Any] = Nil,
      maxRowsInFirstFrame: Int = MaxRowsPerFrame): Frame = {
    val c = conn(connectionId)
    val s = stmt(c, statementId)
    val sql = s.preparedSql.getOrElse(throw new IllegalStateException(
      s"statement $statementId has no SQL: use executeQuery"))
    startResult(spark, dir, c, s, sql, parameters)
    frame(s, 0L, maxRowsInFirstFrame)
  }

  /** Direct-SQL execute on a plain statement (reference
    * `DruidJdbcStatement.execute`).
    */
  def executeQuery(spark: SparkSession, dir: String, connectionId: String,
      statementId: Int, sql: String, parameters: Seq[Any] = Nil,
      maxRowsInFirstFrame: Int = MaxRowsPerFrame): Frame = {
    val c = conn(connectionId)
    val s = stmt(c, statementId)
    startResult(spark, dir, c, s, sql, parameters)
    frame(s, 0L, maxRowsInFirstFrame)
  }

  /** Fetch the next frame (reference `DruidJdbcResultSet.nextFrame`):
    * sequential access only, fetch size clamped to
    * [[MinRowsPerFrame]]..[[MaxRowsPerFrame]] like `AvaticaServerConfig`.
    */
  def nextFrame(connectionId: String, statementId: Int, fetchOffset: Long,
      fetchMaxRowCount: Int): Frame = {
    val s = stmt(conn(connectionId), statementId)
    frame(s, fetchOffset, fetchMaxRowCount)
  }

  def closeStatement(connectionId: String, statementId: Int): Unit = {
    val c = conn(connectionId)
    val s = c.statements.remove(statementId)
    if (s != null) { s.closed = true; s.iter = None }
  }

  def resultSchema(connectionId: String, statementId: Int): StructType =
    stmt(conn(connectionId), statementId).schema.getOrElse(
      throw new IllegalStateException(s"statement $statementId has no result"))

  // -------------------------------------------------------------- internals --

  private def startResult(spark: SparkSession, dir: String,
      c: ConnectionState, s: StatementState, sql: String,
      parameters: Seq[Any]): Unit = s.synchronized {
    val df = runPayload(spark, dir, sql, parameters.map(typedValue), c.context)
    s.schema = Some(df.schema)
    // one partition of driver memory max, like the reference's yielder
    import scala.jdk.CollectionConverters._
    s.iter = Some(df.toLocalIterator().asScala)
    s.served = 0L
  }

  // synchronized like the reference's DruidJdbcResultSet: concurrent
  // fetches on one statement must not split the shared iterator
  private def frame(s: StatementState, fetchOffset: Long,
      fetchMaxRowCount: Int): Frame = s.synchronized {
    val it = s.iter.getOrElse(throw new IllegalStateException(
      s"statement ${s.id}: no result set (execute first)"))
    if (fetchOffset != s.served)
      throw new IllegalArgumentException(
        s"non-sequential fetch: offset $fetchOffset, cursor at ${s.served}")
    // 0 = metadata-only first frame (Avatica allows it); negative = no cap
    // (Avatica's 'unlimited'); otherwise clamp to the server's frame-size
    // window like AvaticaServerConfig
    val n =
      if (fetchMaxRowCount == 0) 0
      else if (fetchMaxRowCount < 0) MaxRowsPerFrame
      else math.min(math.max(fetchMaxRowCount, MinRowsPerFrame), MaxRowsPerFrame)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    while (buf.length < n && it.hasNext) buf += it.next()
    val off = s.served
    s.served += buf.length
    Frame(off, done = !it.hasNext, rows = buf.toSeq)
  }

  /** Drain every frame of an executed statement back into a DataFrame —
    * test/verification helper proving the frame protocol is lossless.
    */
  def drainToDataFrame(spark: SparkSession, connectionId: String,
      statementId: Int, fetchMaxRowCount: Int = MaxRowsPerFrame): DataFrame = {
    // a non-positive fetch size would make zero progress per frame and
    // never terminate — treat it as the server max (frame() clamps anyway)
    val per = if (fetchMaxRowCount <= 0) MaxRowsPerFrame else fetchMaxRowCount
    val schema = resultSchema(connectionId, statementId)
    val all = scala.collection.mutable.ArrayBuffer.empty[Row]
    var off = stmt(conn(connectionId), statementId).served
    var done = false
    while (!done) {
      val f = nextFrame(connectionId, statementId, off, per)
      all ++= f.rows
      off = f.offset + f.rows.length
      done = f.done
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(all.asJava, schema)
  }

  private def runPayload(spark: SparkSession, dir: String, sql: String,
      params: Seq[JValue], context: Map[String, String]): DataFrame = {
    val p = new SqlApi.Payload(JObject(
      "query" -> JString(sql),
      "parameters" -> JArray(params.toList),
      "context" -> JObject(context.map { case (k, v) =>
        k -> (JString(v): JValue) }.toList)))
    // the reference QueryScheduler lanes ALL entry points including
    // Avatica — switching protocol must not evade admission control
    QueryLanes.run(spark, p.lifecycle)(SqlApi.plan(spark, dir, p))
  }

  /** Scala value → the reference's typed-parameter JSON (`SqlParameter`). */
  private def typedValue(v: Any): JValue = v match {
    case null               => JObject("type" -> JString("OTHER"), "value" -> JNull)
    case (t: String, x)     => JObject("type" -> JString(t), "value" -> anyJson(x))
    case s: String          => JObject("type" -> JString("VARCHAR"), "value" -> JString(s))
    case b: Boolean         => JObject("type" -> JString("BOOLEAN"), "value" -> JBool(b))
    case i: Int             => JObject("type" -> JString("BIGINT"), "value" -> JLong(i.toLong))
    case l: Long            => JObject("type" -> JString("BIGINT"), "value" -> JLong(l))
    case d: Double          => JObject("type" -> JString("DOUBLE"), "value" -> JDouble(d))
    case f: Float           => JObject("type" -> JString("DOUBLE"), "value" -> JDouble(f.toDouble))
    case t: java.sql.Timestamp =>
      JObject("type" -> JString("TIMESTAMP"), "value" -> JLong(t.getTime))
    case d: java.sql.Date   =>
      JObject("type" -> JString("DATE"), "value" -> JString(d.toString))
    case other => throw new IllegalArgumentException(
      s"unsupported parameter type: ${other.getClass}")
  }

  private def anyJson(v: Any): JValue = v match {
    case null       => JNull
    case s: String  => JString(s)
    case b: Boolean => JBool(b)
    case i: Int     => JLong(i.toLong)
    case l: Long    => JLong(l)
    case d: Double  => JDouble(d)
    case other      => JString(other.toString)
  }

  // ------------------------------------------- parameter-type inference --

  /** Infer each `?` placeholder's SQL type from its syntactic context,
    * resolving column identifiers against the registered table schemas —
    * the facade analog of the reference's Calcite parameter-row derivation
    * (`DruidJdbcPreparedStatement` signature contract). Handled contexts:
    * `CAST(? AS T)`, comparison against a column or literal (either side),
    * `[NOT] LIKE ?`, `BETWEEN ? AND ?`, `LIMIT ?`/`OFFSET ?`. Anything
    * else reports OTHER (the execute-time typed value decides, as before).
    */
  private[graft] def inferParameterTypes(spark: SparkSession, dir: String,
      sql: String): Seq[String] = {
    graft.Tables.registerAll(spark, dir)
    import SqlTokens.{Ident, Sym, Tok}
    // the significant tokens' texts, a quoted identifier as its bare name;
    // a two-character comparison operator lexes as two adjacent symbols
    val ts = SqlTokens.lex(sql)
    def pair(i: Int): Boolean = i >= 0 && i + 1 < ts.length &&
      ts(i).kind == Sym && ts(i + 1).kind == Sym &&
      Set("<=", ">=", "<>", "!=").contains(ts(i).text + ts(i + 1).text)
    val toks = ts.indices.collect {
      case i if ts(i).sig && !pair(i - 1) => ts(i) match {
        case t if pair(i) => t.text + ts(i + 1).text
        case Tok(Ident, q) =>
          q.substring(1, q.length - 1).replace(q.take(1) * 2, q.take(1))
        case t => t.text
      }
    }
    def up(i: Int): String =
      if (i >= 0 && i < toks.length) toks(i).toUpperCase else ""
    // name → SQL type over every identifier in the text that names a
    // readable table/view (unqualified column match, first table wins —
    // the same best-effort a JDBC client gets from sparse metadata); only
    // a word the session catalog lists is looked up, so keywords and
    // column names cost no failed analysis
    val catalog = spark.sessionState.catalog
    val tables = catalog.listTables(catalog.getCurrentDatabase)
      .map(_.table.toLowerCase).toSet
    val colType: Map[String, String] = toks
      .filter(t => tables.contains(t.toLowerCase))
      .distinct
      .flatMap(t => scala.util.Try(spark.table(t).schema).toOption)
      .flatMap(_.fields)
      .groupBy(_.name.toLowerCase)
      .map { case (n, fs) => n -> sqlTypeName(fs.head.dataType) }
    val cmp = Set("=", "<", ">", "<=", ">=", "<>", "!=", "LIKE", "IN")
    def operandType(first: Int): Option[String] = {
      var i = first // a qualified name's column is its last part
      while (i >= 0 && i + 2 < toks.length && toks(i + 1) == ".") i += 2
      if (i < 0 || i >= toks.length) return None
      val t = toks(i)
      if (t.startsWith("'")) Some("VARCHAR")
      else if (t.headOption.exists(_.isDigit))
        Some(if (t.exists(c => c == '.' || c == 'e' || c == 'E')) "DOUBLE"
             else "BIGINT")
      else if (t.equalsIgnoreCase("TRUE") || t.equalsIgnoreCase("FALSE"))
        Some("BOOLEAN")
      else if (t.nonEmpty && (t.head.isLetter || t.head == '_'))
        colType.get(t.split('.').last.toLowerCase)
      else None
    }
    toks.zipWithIndex.collect { case ("?", i) =>
      val inferred: Option[String] =
        if (up(i + 1) == "AS" && up(i - 1) == "(" && up(i - 2) == "CAST")
          Some(up(i + 2))
        else if (cmp.contains(up(i - 1)))
          // `col op ?` (also reaches through NOT LIKE: toks(i-1)=LIKE)
          operandType(if (up(i - 2) == "NOT") i - 3 else i - 2)
        else if (cmp.contains(up(i + 1)))
          operandType(i + 2)
        else if (up(i - 1) == "BETWEEN")
          operandType(if (up(i - 2) == "NOT") i - 3 else i - 2)
        else if (up(i - 1) == "AND" && (up(i - 3) == "BETWEEN" ||
                 (up(i - 3) == "?" && up(i - 4) == "BETWEEN")))
          // second bound of BETWEEN ? AND ? / BETWEEN x AND ?
          operandType(if (up(i - 4) == "BETWEEN") i - 5 else i - 4)
        else if (up(i - 1) == "LIMIT" || up(i - 1) == "OFFSET")
          Some("BIGINT")
        else None
      inferred.getOrElse("OTHER")
    }
  }

  /** Benign typed placeholder stand-in for prepare-time planning. */
  private def standIn(sqlType: String): JValue = sqlType match {
    case "BIGINT"    => JObject("type" -> JString("BIGINT"), "value" -> JLong(0L))
    case "DOUBLE" | "DECIMAL" =>
      JObject("type" -> JString("DOUBLE"), "value" -> JDouble(0.0))
    case "VARCHAR"   => JObject("type" -> JString("VARCHAR"), "value" -> JString(""))
    case "BOOLEAN"   => JObject("type" -> JString("BOOLEAN"), "value" -> JBool(false))
    case "TIMESTAMP" => JObject("type" -> JString("TIMESTAMP"), "value" -> JLong(0L))
    case "DATE"      => JObject("type" -> JString("DATE"), "value" -> JString("1970-01-01"))
    case _           => JObject("type" -> JString("OTHER"), "value" -> JNull)
  }

  private def sqlTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "VARCHAR"
      case LongType | IntegerType | ShortType | ByteType => "BIGINT"
      case DoubleType | FloatType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case _: DecimalType => "DECIMAL"
      case _ => "OTHER"
    }
  }

  /** Count `?` placeholders outside string literals, quoted identifiers
    * and comments — the same tokens [[SqlApi.bind]] binds.
    */
  private[graft] def countPlaceholders(sql: String): Int =
    SqlTokens.lex(sql).count(_.is("?"))
}
