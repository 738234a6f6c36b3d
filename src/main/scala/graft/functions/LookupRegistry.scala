package graft.functions

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  ArrayTransform, Cast, Coalesce, ElementAt, EvalMode, Expression,
  LambdaFunction, Literal, NamedLambdaVariable, RuntimeReplaceable}
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Named lookup tables (reference: the lookup framework —
  * `query/LookupDataSource.java:38`, `LookupExprMacro.java`, introspected via
  * the lookup schema). A lookup is a bounded key→value map registered under a
  * name; `LOOKUP(expr, 'name'[, replaceMissing])` resolves at plan time to a
  * map literal, which Spark ships to executors with the task binary — the
  * exact analog of the reference broadcasting lookup snapshots to every node.
  */
object LookupRegistry {

  /** One immutable loaded generation of a lookup (reference
    * `server/src/main/java/org/apache/druid/query/lookup/LookupReferencesManager.java`
    * container state + `LookupExtractorFactoryContainer` version): queries
    * that resolved against version N keep evaluating against N's map literal
    * even while N+1 loads — old-or-new, never mixed.
    */
  final case class LookupSnapshot(
      name: String,
      version: Long,
      loadTimeMs: Long,
      mapping: Map[String, String])

  private val lookups = TrieMap[String, LookupSnapshot]()
  // re-runnable sources for refresh() — the analog of the reference's
  // polling extraction namespaces (JdbcExtractionNamespace.pollPeriod)
  private val loaders = TrieMap[String, () => Map[String, String]]()
  // session-scoped overlay, keyed (session identity, name): a
  // multi-tenant host registers tenant lookups against the tenant's own
  // SparkSession and they stay invisible to every other session
  // (reference analog: lookup tiers scope visibility; the process
  // singleton here is only the single-session driver-harness contract)
  private val scopedLookups = TrieMap[(String, String), LookupSnapshot]()

  private def sid(s: SparkSession): String =
    System.identityHashCode(s).toHexString

  def register(name: String, mapping: Map[String, String]): Unit =
    swap(name, mapping)

  /** Register a lookup visible ONLY to `spark` (plus readers of the
    * global scope under other names). newSession()/cloneSession()
    * produce distinct scopes.
    */
  def registerScoped(spark: SparkSession, name: String,
                     mapping: Map[String, String]): Unit =
    scopedLookups.put((sid(spark), name),
      LookupSnapshot(name, 1L, System.currentTimeMillis(), mapping))

  /** Drop every lookup owned by this session (tenant teardown). */
  def clearScope(spark: SparkSession): Unit = {
    val id = sid(spark)
    scopedLookups.keys.filter(_._1 == id).foreach(scopedLookups.remove)
  }

  /** Atomically publish a new generation: the snapshot is fully built before
    * the single TrieMap put, so concurrent readers observe either the
    * previous complete generation or this one.
    */
  private def swap(name: String, mapping: Map[String, String]): LookupSnapshot = {
    var out: LookupSnapshot = null
    var done = false
    while (!done) {
      val prev = lookups.get(name)
      val next = LookupSnapshot(name, prev.map(_.version + 1).getOrElse(1L),
        System.currentTimeMillis(), mapping)
      done = prev match {
        case Some(p) => lookups.replace(name, p, next)
        case None    => lookups.putIfAbsent(name, next).isEmpty
      }
      if (done) out = next
    }
    out
  }

  /** Register with a re-runnable source; loads generation 1 immediately.
    * The loader runs again on each [[refresh]] — load happens OUTSIDE any
    * registry state, then swaps in atomically.
    */
  def registerLoader(name: String, loader: () => Map[String, String]): Unit = {
    loaders.put(name, loader)
    swap(name, loader())
  }

  /** Re-run the registered loader and atomically publish the new generation.
    * Returns the new version, or None if the lookup has no loader (static
    * `register` lookups refresh by re-registering).
    */
  def refresh(name: String): Option[Long] =
    loaders.get(name).map(l => swap(name, l()).version)

  /** Refresh every loader-backed lookup; returns (name, newVersion). */
  def refreshAll(): Seq[(String, Long)] =
    loaders.keys.toSeq.sorted.flatMap(n => refresh(n).map(n -> _))

  /** Unregister (reference LookupReferencesManager.remove). In-flight plans
    * keep their captured literal; new plans fail resolution like the
    * reference's missing-lookup error.
    */
  def drop(name: String): Unit = {
    loaders.remove(name)
    lookups.remove(name)
  }

  /** The caller's session scope wins over the global scope. */
  private def resolve(name: String): Option[LookupSnapshot] =
    SparkSession.getActiveSession
      .flatMap(s => scopedLookups.get((sid(s), name)))
      .orElse(lookups.get(name))

  def get(name: String): Option[Map[String, String]] =
    resolve(name).map(_.mapping)
  def snapshot(name: String): Option[LookupSnapshot] = resolve(name)
  def names: Seq[String] = {
    val scopedNames = SparkSession.getActiveSession.toSeq.flatMap { s =>
      val id = sid(s)
      scopedLookups.keysIterator.collect { case (`id`, n) => n }
    }
    (lookups.keys ++ scopedNames).toSeq.distinct.sorted
  }

  /** Default cap on loaded-lookup cardinality. The reference's cached
    * global lookups (`lookups-cached-global`, JDBC/URI loaders) are
    * heap-resident maps replicated to every node — a lookup that does not
    * comfortably fit the driver/executor heap is a modeling error, so
    * loading is guarded rather than silently OOMing a 1000-executor fleet.
    */
  val MaxLoadedEntries: Int = 1000000

  /** Load a lookup from any two-column DataFrame source — the analog of the
    * reference's JDBC / URI lookup loaders (`lookups-cached-global`
    * JdbcExtractionNamespace / UriExtractionNamespace): first column key,
    * second value, both cast to string; duplicate keys keep the LAST value
    * seen, matching the reference's replace-on-reload semantics.
    */
  def registerFrom(name: String, df: org.apache.spark.sql.DataFrame,
                   keyCol: String, valueCol: String,
                   maxEntries: Int = MaxLoadedEntries): Unit = {
    import org.apache.spark.sql.functions.col
    val rows = df.select(col(keyCol).cast("string"), col(valueCol).cast("string"))
      .limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"lookup '$name' exceeds $maxEntries entries; load a smaller projection " +
        "or raise maxEntries explicitly")
    register(name, rows.iterator
      .filter(r => !r.isNullAt(0))
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap)
  }

  /** Expression builder for SQL `LOOKUP(expr, 'name'[, 'replaceMissing'])`. */
  def lookupBuilder(args: Seq[Expression]): Expression = {
    require(args.size >= 2, "LOOKUP(expr, 'name'[, replaceMissing])")
    val name = args(1) match {
      case Literal(s: UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"LOOKUP name must be a string literal, got $other")
    }
    val mapping = get(name).getOrElse(
      throw new IllegalArgumentException(s"unknown lookup: $name"))
    lookupOf(args.head, mapping, args.lift(2))
  }

  /** The probe of `key` in `mapping`, as a map literal (raw Catalyst nodes:
    * a Column-node wrapper would not survive codegen when spliced into a
    * parsed SQL tree).
    */
  def lookupOf(key: Expression, mapping: Map[String, String],
               replaceMissing: Option[Expression]): Expression =
    LookupApply(key, Literal.create(mapping, MapType(StringType, StringType)),
      replaceMissing)

  /** LOOKUP over a MULTI-VALUE key maps per element — the reference's
    * lookup extractionFn applies to each value of an MVD expression
    * (CalciteLookupFunctionQueryTest testFilterLookupOfConcat:
    * LOOKUP(CONCAT(dim1, 'b', dim2), …) over the MV dim2). Scalar keys
    * keep the plain map probe. Dispatch needs the resolved key type,
    * hence RuntimeReplaceable.
    */
  case class LookupApply(key: Expression, map: Expression,
      replace: Option[Expression]) extends RuntimeReplaceable {

    override def children: Seq[Expression] = Seq(key, map) ++ replace

    private def probe(k: Expression): Expression = {
      val hit = ElementAt(map, k)
      // the replaceMissing value casts to STRING — a bare NULL literal is
      // NullType and Coalesce(STRING, NULL-typed) fails the complex-type
      // check (LOOKUP(dim1, 'lookyloo', null) —
      // CalciteLookupFunctionQueryTest testLookupReplaceMissingValueWith)
      replace.map(r => Coalesce(Seq(hit,
        Cast(r, StringType, None, EvalMode.TRY)))).getOrElse(hit)
    }

    override lazy val replacement: Expression = key.dataType match {
      case _: ArrayType =>
        val v = NamedLambdaVariable("graft_lk", StringType, nullable = true)
        ArrayTransform(
          Cast(key, ArrayType(StringType, containsNull = true)),
          LambdaFunction(probe(v), Seq(v)))
      case StringType => probe(key)
      case _ => probe(Cast(key, StringType, Some("UTC"), EvalMode.TRY))
    }

    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): LookupApply =
      copy(key = c(0), map = c(1),
        replace = if (c.size > 2) Some(c(2)) else None)
  }

  /** SQL `LOOKUP`, resolved against the registry at plan time. */
  val function: EngineFunction = EngineFunction.scalar("lookup",
    "_FUNC_(expr, lookupName[, replaceMissingWith])")(lookupBuilder)
}
