package org.apache.spark.sql

/** Accessor for `SparkSession.cloneSession()` (which is `private[sql]`).
  *
  * The SQL facade reads each query with per-query confs
  * (`spark.sql.ansi.doubleQuotedIdentifiers`, `sqlTimeZone`, the lookup
  * rewrite keys) without mutating session-wide conf: a clone shares the
  * SparkContext and catalog, copies the temp views and owns an independent
  * SQLConf, so setting the confs on the clone cannot leak to concurrent
  * direct `spark.sql` users of the original session.
  */
object GraftSessionAccess {
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
