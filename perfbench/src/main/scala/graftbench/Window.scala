package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.json4s._

import graft.api.SqlApi
import graft.operators.Ingest
import graft.streaming.StreamingIngest

/** Writes beside reads: a datasource `win` holding a sliding window of
  * `Window` day segments. Each step ingests one seeded day with rollup,
  * through `REPLACE … OVERWRITE WHERE … PARTITIONED BY DAY` or through the
  * streaming rollup (half the days each).
  * Retention then drops the oldest day, so the datasource keeps a constant
  * size. A fixed panel of reads, whose text repeats exactly, follows.
  *
  * The raw days are `Templates` seeded files dated 2024-01-01; step k
  * ingests template k mod `Templates`, shifted to day k after `Start`.
  * Days 0 .. Window-1 come with the inputs (gen.py `window0`).
  */
class Window(inputs: String, work: String, dir: String, rawRowsPerDay: Long,
             panelSize: Int) {
  import Ops._
  val Window = 6
  val Templates = 8
  val Start = java.time.LocalDate.parse("2024-02-01")
  var warehouse: String = _
  def table = s"$warehouse/win"

  val Schema = StructType(Seq(StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("country", StringType),
    StructField("value", DoubleType)))

  /** The read panel: the first `panelSize` of these. */
  val Panel: Seq[(String, String)] = Seq(
    "r_daily" -> """SELECT TIME_FLOOR(__time, 'P1D') AS d, SUM(cnt) AS n, SUM(sum_value) AS v
                    FROM win GROUP BY 1 ORDER BY 1""",
    "r_totals" -> "SELECT COUNT(*) AS rows_stored, SUM(cnt) AS n FROM win",
    "r_by_type" -> """SELECT event_type, SUM(cnt) AS n, SUM(sum_value) AS v
                      FROM win GROUP BY 1 ORDER BY 1""",
    "r_6h_us" -> """SELECT TIME_FLOOR(__time, 'PT6H') AS h, SUM(cnt) AS n FROM win
                    WHERE country = 'us' GROUP BY 1 ORDER BY 1""")

  def dayOf(k: Int): String = Start.plusDays(k.toLong).toString

  /** Ingest of day k: SQL REPLACE, or the streaming rollup. Both land the
    * same rolled-up rows.
    */
  def ingest(k: Int, stream: Boolean, into: String = "win"): Op = {
    val tpl = k % Templates
    val lo = dayOf(k)
    val hi = dayOf(k + 1)
    val shiftDays = java.time.LocalDate.parse("2024-01-01").until(Start.plusDays(k.toLong),
      java.time.temporal.ChronoUnit.DAYS)
    val params = JObject("step" -> JInt(k), "template" -> JInt(tpl), "day" -> JString(lo))
    val replaceHead =
      s"REPLACE INTO $into OVERWRITE WHERE __time >= TIMESTAMP '$lo 00:00:00' " +
        s"AND __time < TIMESTAMP '$hi 00:00:00' "
    if (stream) Op("ingest_stream", "write", params, 0L, rawRowsPerDay, () => {
      val spark = SparkSession.active
      val stream = StreamingIngest.source(spark, s"$inputs/stream/day_$tpl", Schema)
        .withColumn("ts", col("ts") + expr(s"INTERVAL $shiftDays DAYS"))
      StreamingIngest.runBoundedAgg(spark,
        StreamingIngest.rollup(stream, "ts", "15 minutes", Seq("event_type", "country")),
        queryName = "stream_day")
      SqlApi.execute(spark, dir, sqlPayload(replaceHead +
        """SELECT bucket AS __time, event_type, country, n AS cnt, sum_value
           FROM stream_day PARTITIONED BY DAY""", Nil))
    })
    else {
      val file = new File(s"$inputs/days/day_$tpl.json").getAbsolutePath
      val shiftMs = shiftDays * 86400000L
      val payload = sqlPayload(replaceHead +
        s"""SELECT TIME_FLOOR(MILLIS_TO_TIMESTAMP(ts + $shiftMs), 'PT15M') AS __time,
                   event_type, country, COUNT(*) AS cnt, SUM(value) AS sum_value
            FROM TABLE(EXTERN('{"type":"local","files":["$file"]}', '{"type":"json"}',
              '[{"name":"ts","type":"long"},{"name":"user_id","type":"long"},{"name":"event_type","type":"string"},{"name":"country","type":"string"},{"name":"value","type":"double"}]'))
            GROUP BY 1, 2, 3 PARTITIONED BY DAY""", Nil)
      Op("ingest_sql", "write", params, 0L, rawRowsPerDay,
        () => SqlApi.execute(SparkSession.active, dir, payload))
    }
  }

  def retention(k: Int, path: => String = table): Op =
    Op("retention", "retention", JObject("step" -> JInt(k)), 0L, 0L, () => {
      val dropped = Ingest.applyRetention(SparkSession.active, path, Window, dayOf(k))
      Render.json(JArray(dropped.map(p => JString(p.split("__day=").last)).toList))
    })

  def reads(k: Int): Seq[Op] = Panel.take(panelSize).map { case (name, q) =>
    sql(name, "read", dir, 0L, "step" -> JInt(k))(q)
  }

  /** The datasource's first `Window` days, copied out of the inputs. */
  def prepare(): Unit = {
    warehouse = new File(work, "warehouse").getAbsolutePath
    org.apache.commons.io.FileUtils.copyDirectory(new File(s"$inputs/window0"), new File(warehouse))
  }

  def attach(spark: SparkSession): Unit = spark.conf.set("spark.graft.warehouse", warehouse)

  /** Warms every template: both ingest paths and retention on a throwaway
    * datasource, then the read panel on `win`.
    */
  def warmUp: Seq[Op] =
    Seq(ingest(0, stream = false, "warm"), ingest(1, stream = true, "warm"),
      retention(1, s"$warehouse/warm")) ++ reads(Window - 1)

  /** Step i of the timed phase: ingest day Window + i, retention, the
    * read panel.
    */
  def step(i: Int, stream: Boolean): Seq[Op] = {
    val k = Window + i
    ingest(k, stream) +: retention(k) +: reads(k)
  }

  def finish(spark: SparkSession): JObject = {
    val fs = new File(table).listFiles().filter(_.getName.startsWith("__day="))
    val files = fs.map(_.listFiles().filter(_.getName.endsWith(".parquet")))
    val bytes = files.flatten.map(_.length).sum
    JObject("stored_bytes" -> JLong(bytes), "chunks" -> JInt(fs.length),
      "files" -> JInt(files.map(_.length).sum),
      "raw_rows" -> JLong(fs.length * rawRowsPerDay),
      "stored_rows" -> JLong(spark.read.parquet(table).count()))
  }
}
