package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: its name, the builder of its DataFrame over an sf
  * directory, and the DuckDB SQL of its oracle over the same parquet
  * tables. `sql` keeps the text of a SQL-text gate (built by
  * [[Gate.spark]] or [[Gate.druid]]) so the corpus can be read as text.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String, sql: Option[String] = None)

object Gate {

  /** A gate whose Spark SQL text runs through `s.sql`. */
  def spark(name: String, sparkSql: String, oracle: String): Gate =
    Gate(name, (s, _) => s.sql(sparkSql), oracle, Some(sparkSql))

  /** A gate whose text both engines run: the oracle is the Spark text. */
  def spark(name: String, sql: String): Gate = spark(name, sql, sql)

  /** A gate whose Druid SQL text runs through the SQL facade's dialect
    * passes (`SqlApi.runSql`), as a client's query would. */
  def druid(name: String, druidSql: String, oracle: String): Gate =
    Gate(name, (s, _) => api.SqlApi.runSql(s, druidSql), oracle, Some(druidSql))

  /** The gates of every family as one sequence; a repeated name throws. */
  def registry(families: Seq[Gate]*): Seq[Gate] = {
    val all = families.flatten
    val repeated = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty, s"gate names declared twice: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The sf directory's table `name`, as the gates read it. */
  def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The process's scratch root: one fresh temp directory, removed when the
    * JVM exits, so two processes under one `java.io.tmpdir` never share a
    * gate's files. */
  private lazy val root: File = {
    val r = Files.createTempDirectory("graft_gates_").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(r))
    r
  }

  /** A gate's own scratch path for the sf directory `dir`, under the
    * process's root; `tag` names the gate's use of it. The path is not
    * created. */
  def scratch(dir: String, tag: String): String =
    s"$root/${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
}
