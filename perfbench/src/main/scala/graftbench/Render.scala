package graftbench

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Renders collected rows as a JSON array of arrays, with timestamps in the
  * same ISO form the SQL facade prints (`2024-01-01T00:00:00.000Z`).
  */
object Render {
  private val Iso =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  def cell(v: Any): JValue = v match {
    case null => JNull
    case t: java.sql.Timestamp => JString(Iso.format(t.toInstant))
    case t: Instant => JString(Iso.format(t))
    case t: LocalDateTime => JString(Iso.format(t.toInstant(ZoneOffset.UTC)))
    case d: java.sql.Date => JString(d.toString)
    case d: java.time.LocalDate => JString(d.toString)
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case x: Long => JLong(x)
    case x: Int => JLong(x.toLong)
    case x: Short => JLong(x.toLong)
    case x: Double => if (x.isNaN || x.isInfinite) JString(x.toString) else JDouble(x)
    case x: Float => JDouble(x.toDouble)
    case x: java.math.BigDecimal => JDouble(x.doubleValue)
    case xs: scala.collection.Seq[_] => JArray(xs.map(cell).toList)
    case r: Row => JArray(r.toSeq.map(cell).toList)
    case other => JString(other.toString)
  }

  def rows(rs: Array[Row]): String =
    JsonMethods.compact(JArray(rs.toList.map(r => JArray(r.toSeq.map(cell).toList))))

  def json(v: JValue): String = JsonMethods.compact(v)
}
