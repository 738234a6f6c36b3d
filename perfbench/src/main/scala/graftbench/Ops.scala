package graftbench

import org.apache.spark.sql.SparkSession
import org.json4s._

import graft.api.{NativeJsonQuery, SqlApi}

/** Builders for operations through the native JSON and SQL-over-HTTP
  * facades, and the workloads' shared reading of the input manifest.
  */
object Ops {
  def native(template: String, kind: String, dir: String, rows: Long,
             params: (String, JValue)*)(json: String): Op =
    Op(template, kind, JObject(params.toList), rows, 1L,
      () => Render.rows(NativeJsonQuery.execute(SparkSession.active, dir, json)),
      Some("api.native_compile_ms" -> (() => NativeJsonQuery.run(SparkSession.active, dir, json))))

  /** A SQL payload with typed `?` parameters, rendered as arrays. */
  def sqlPayload(sql: String, args: Seq[(String, Any)]): String = {
    val ps = args.map { case (t, v) =>
      val value: JValue = v match {
        case s: String => JString(s)
        case l: Long => JLong(l)
        case i: Int => JLong(i.toLong)
        case d: Double => JDouble(d)
      }
      JObject("type" -> JString(t), "value" -> value)
    }
    Render.json(JObject("query" -> JString(sql), "parameters" -> JArray(ps.toList),
      "resultFormat" -> JString("array")))
  }

  def sql(template: String, kind: String, dir: String, rows: Long,
          params: (String, JValue)*)(sql: String, args: (String, Any)*): Op = {
    val payload = sqlPayload(sql, args)
    Op(template, kind, JObject(params.toList), rows, 1L,
      () => SqlApi.execute(SparkSession.active, dir, payload),
      Some("api.sql_compile_ms" -> (() => SqlApi.run(SparkSession.active, dir, payload))))
  }

  def day(d: Int): String = f"2024-01-${d + 1}%02d"
  def jstr(s: String): JValue = JString(s)
  def jnum(x: Long): JValue = JLong(x)
  def jdbl(x: Double): JValue = JDouble(x)
}
