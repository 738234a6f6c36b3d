package graft.api

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef, CTERelationRef,
  LogicalPlan}

import graft.Tables

/** The one result cache of [[SqlApi.execute]] and [[NativeJsonQuery.execute]],
  * under the opt-in `context.useCache` / `populateCache` flags. Like the
  * reference's `CachingQueryRunner`, which keys by segment version
  * (`query/CacheStrategy.java`), a key carries the data's version, so no
  * write ever has to clear it. A key digests the facade's text key, the
  * version of every file the plan reads ([[Tables.planVersion]]) and the
  * canonical analyzed plan (a view redefined under the same name is a new
  * key; a `LOOKUP` is its map, resolved at analysis). A plan whose data is
  * neither in listed files nor in its own text — an in-memory or streaming
  * table, an RDD, local rows — is never cached. One LRU of at most
  * [[MaxEntries]] results of either facade.
  */
object ResultCache {
  private val MaxEntries = 128

  /** A SHA-256 digest, so a key is 64 hex digits however large the plan,
    * which is printed into it node by node. None when
    * [[Tables.planVersion]] cannot version `plan`.
    */
  def key(text: String, plan: LogicalPlan): Option[String] =
    Tables.planVersion(plan).map { files =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def add(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
      // every part before the plan is length-prefixed, so no two keys' parts run together
      val parts = text +: files.size.toString +:
        files.flatMap { case (p, n, t) => Seq(p, n.toString, t.toString) }
      parts.foreach { s => add(s"${s.length}:"); add(s) }
      cteIdsNumbered(plan).canonicalized.treeString(add(_), verbose = true, addSuffix = false,
        maxFields = Int.MaxValue, printOperatorId = false, printOutputColumns = false)
      java.util.HexFormat.of.formatHex(md.digest)
    }

  /** `plan` with its `WITH` clauses numbered in order: each analysis draws
    * new ids for them, and canonicalization keeps ids.
    */
  private def cteIdsNumbered(plan: LogicalPlan): LogicalPlan = {
    val ids = plan.collectWithSubqueries { case d: CTERelationDef => d.id }
      .distinct.zipWithIndex.toMap
    plan.transformWithSubqueries {
      case d: CTERelationDef => d.copy(id = ids(d.id).toLong)
      case r: CTERelationRef if ids.contains(r.cteId) => r.copy(cteId = ids(r.cteId).toLong)
    }
  }

  private val entries = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
        size() > MaxEntries
    })
  private val hits = new java.util.concurrent.atomic.AtomicLong
  private val misses = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses) since start or [[clear]] (reference `CacheMonitor`). */
  def stats: (Long, Long) = (hits.get, misses.get)

  def clear(): Unit = { entries.clear(); hits.set(0); misses.set(0) }

  /** `compute`, served through the cache: under `useCache` a stored result
    * for `key` is a hit, anything else (an unversioned plan too) a miss;
    * under `populateCache` a computed result that `fits` is stored. With
    * neither flag `key` is not evaluated.
    */
  def through[V <: AnyRef](key: => Option[String], useCache: Boolean, populateCache: Boolean,
                           fits: V => Boolean = (_: V) => true)(compute: => V): V = {
    if (!useCache && !populateCache) return compute
    val k = key
    val hit = k.filter(_ => useCache).flatMap(k => Option(entries.get(k)))
    if (useCache) (if (hit.isDefined) hits else misses).incrementAndGet()
    hit.fold {
      val v = compute
      if (populateCache && fits(v)) k.foreach(entries.put(_, v))
      v
    }(_.asInstanceOf[V])
  }
}
