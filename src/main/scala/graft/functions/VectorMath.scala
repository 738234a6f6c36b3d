package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two numeric arrays with real `doGenCode`: the
  * generated code is a tight loop over the array buffers — no higher-order
  * function interpretation, no boxing, and (unlike a statically-unrolled
  * expression tree, which blows past JIT method limits at 64 terms) a shape
  * HotSpot vectorizes. Accumulation is left-to-right double addition,
  * bit-identical to `aggregate(zip_with(a, b, _*_), 0d, _+_)`, so swapping
  * it under cosine/kNN/neardup changes nothing in query results.
  *
  * Null ARRAYS propagate null; null ELEMENTS are not expected (embedding
  * vectors are dense) and read as 0 via the primitive accessors.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product needs numeric arrays, got ${left.dataType} / ${right.dataType}")
  }

  private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType   => a.getFloat(i).toDouble
    case DoubleType  => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType    => a.getLong(i).toDouble
    case _ => throw new IllegalStateException(s"unsupported element type $t")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(a, ta, i) * get(b, tb, i); i += 1 }
    s
  }

  private def accessor(t: DataType): String = t match {
    case FloatType   => "getFloat"
    case DoubleType  => "getDouble"
    case IntegerType => "getInt"
    case LongType    => "getLong"
    case _ => throw new IllegalStateException(s"unsupported element type $t")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ga = accessor(elemType(left))
      val gb = accessor(elemType(right))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += (double) $a.$ga($i) * (double) $b.$gb($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : DotProduct = copy(left = l, right = r)

  override def prettyName: String = "dot_product"
}

/** Count of common elements between two SORTED distinct LONG arrays — a
  * codegen'd two-pointer merge loop. `array_intersect` builds a hash set
  * per invocation; sorting each side once per ROW and merge-counting per
  * PAIR is the shape that survives millions of candidate pairs. Same count
  * as `size(array_intersect(a, b))` when inputs are sorted + distinct.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count needs ARRAY<BIGINT>, got $l / $r")
    }

  // a null SLOT never matches anything; array_sort places nulls LAST, so
  // hitting one means the remaining slots of that side are all null and the
  // merge can stop. The guard is only emitted when the static element type
  // admits nulls — the simhash gram arrays (collect_set of xxhash64) are
  // containsNull=false and keep the branch-free loop.
  private def mayHaveNullSlots: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val checkNulls = mayHaveNullSlots
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb &&
        !(checkNulls && (a.isNullAt(i) || b.isNullAt(j)))) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val nullBreak =
        if (mayHaveNullSlots)
          s"if ($a.isNullAt($i) || $b.isNullAt($j)) break;"
        else ""
      s"""
         |int $i = 0; int $j = 0;
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |${ev.value} = 0;
         |while ($i < $na && $j < $nb) {
         |  $nullBreak
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x == $y) { ${ev.value}++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : SortedIntersectCount = copy(left = l, right = r)

  override def prettyName: String = "sorted_intersect_count"
}

/** Count of positions where two equal-length LONG arrays agree — the
  * MinHash signature-match counter (estimated jaccard = eq/numHashes).
  * Same integer as `aggregate(zip_with(a, b, (x,y) -> if(x=y,1,0)), 0,
  * acc+v)`, but that higher-order form runs INTERPRETED per candidate
  * pair (two lambda evaluations over 64-element arrays), which dominated
  * the LSH candidate filter; this is a generated tight loop.
  */
case class PositionalEqCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"positional_eq_count needs ARRAY<BIGINT>, got $l / $r")
    }

  // a null SLOT never counts as a match — same as the interpreted
  // `if(x = y, 1, 0)` zip_with form this replaces, where a null operand
  // makes the predicate null and contributes 0. The null checks are only
  // emitted when the static element type admits nulls, so the non-null
  // minhash-signature hot path keeps the branch-free loop.
  private def mayHaveNullSlots: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val checkNulls = mayHaveNullSlots
    var i = 0; var c = 0
    while (i < n) {
      if ((!checkNulls || (!a.isNullAt(i) && !b.isNullAt(i))) &&
          a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val nullGuard =
        if (mayHaveNullSlots) s"!$a.isNullAt($i) && !$b.isNullAt($i) && " else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($nullGuard$a.getLong($i) == $b.getLong($i)) { ${ev.value}++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : PositionalEqCount = copy(left = l, right = r)

  override def prettyName: String = "positional_eq_count"
}

/** Process-wide cache of random-hyperplane weight matrices for [[LshBucket]]
  * — planes depend only on (numBits, planeOffset, dim), so each executor
  * materializes them once and every row after that is pure multiply-adds
  * (the interpreted HOF form re-derived every weight from two xxhash64
  * calls per element per row). Weights are BIT-IDENTICAL to the expression
  * form: pmod(xxhash64(i, bit + planeOffset), 1000) / 500.0 - 1.0 with
  * Spark's default xxhash64 seed (42) and (i, bit) argument order.
  */
object LshBucketPlanes {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()
  def get(numBits: Int, planeOffset: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((numBits, planeOffset, dim), _ =>
      Array.tabulate(numBits) { b =>
        Array.tabulate(dim) { i =>
          val h = XXH64.hashInt(b + planeOffset, XXH64.hashInt(i, 42L))
          (java.lang.Math.floorMod(h, 1000L).toDouble / 500.0) - 1.0
        }
      })
}

/** Native random-hyperplane LSH bucket id with real `doGenCode`: bit b of
  * the result is the sign of dot(vec, plane_b), planes drawn from the
  * process-wide [[LshBucketPlanes]] cache. Left-to-right double
  * accumulation per projection — bit-identical buckets to the nested
  * `aggregate`/`zip_with` expression it replaces (FunctionsSpec pins the
  * equivalence), at a fraction of the cost: the HOF form interprets two
  * lambda levels and re-hashes every (element, bit) pair on every row.
  */
case class LshBucket(child: Expression, numBits: Int, planeOffset: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bucket needs a numeric array, got $t")
    }

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val planes = LshBucketPlanes.get(numBits, planeOffset, n)
    val t = elemType
    var acc = 0L
    var b = 0
    while (b < numBits) {
      val w = planes(b)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val x = t match {
          case FloatType   => a.getFloat(i).toDouble
          case DoubleType  => a.getDouble(i)
          case IntegerType => a.getInt(i).toDouble
          case LongType    => a.getLong(i).toDouble
          case _ => throw new IllegalStateException(s"unsupported $t")
        }
        proj += x * w(i)
        i += 1
      }
      if (proj > 0) acc |= 1L << b
      b += 1
    }
    acc
  }

  private def accessor(t: DataType): String = t match {
    case FloatType   => "getFloat"
    case DoubleType  => "getDouble"
    case IntegerType => "getInt"
    case LongType    => "getLong"
    case _ => throw new IllegalStateException(s"unsupported element type $t")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val planes = ctx.freshName("planes")
      val w = ctx.freshName("w")
      val proj = ctx.freshName("proj")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val ga = accessor(elemType)
      s"""
         |int $n = $a.numElements();
         |double[][] $planes =
         |  graft.functions.LshBucketPlanes.get($numBits, $planeOffset, $n);
         |${ev.value} = 0L;
         |for (int $b = 0; $b < $numBits; $b++) {
         |  double[] $w = $planes[$b];
         |  double $proj = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $proj += (double) $a.$ga($i) * $w[$i];
         |  }
         |  if ($proj > 0) ${ev.value} |= (1L << $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): LshBucket =
    copy(child = c)

  override def prettyName: String = "lsh_bucket"
}

/** A trained `k × dim` centroid matrix (row-major `data`), held by value:
  * two matrices with the same numbers are equal, and `toString` prints the
  * shape and a SHA-256 digest of the numbers, so a plan that carries one
  * prints neither its doubles nor an identity hash.
  *
  * It is also the nearest-centroid kernel that [[NearestCentroids]] and
  * the driver-side Lloyd training both rank with: [[dots]] scores a vector
  * against every row (left-to-right double accumulation over the common
  * prefix, as [[DotProduct]]), and [[nearest]] picks the best ids.
  */
final class CentroidMatrix(val k: Int, val dim: Int, val data: Array[Double])
  extends Serializable {
  require(data.length == k * dim, s"$k×$dim matrix needs ${k * dim} values")

  def row(j: Int): Array[Double] =
    java.util.Arrays.copyOfRange(data, j * dim, (j + 1) * dim)

  /** dot(v, row j) for every row j. */
  def dots(v: Array[Double]): Array[Double] = {
    val len = math.min(v.length, dim)
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      val off = j * dim
      var s = 0.0
      var i = 0
      while (i < len) { s += v(i) * data(off + i); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** The 1-based ids of the `n` highest scores, best first, a tie going to
    * the lower id; `min(n, k)` ids. A NaN score never ranks above a number.
    */
  def nearest(scores: Array[Double], n: Int): Array[Int] = {
    val m = math.max(0, math.min(n, scores.length))
    val ids = new Array[Int](m)
    val best = new Array[Double](m)
    def beats(s: Double, t: Double) = s > t || (t.isNaN && !s.isNaN)
    var filled = 0
    var j = 0
    while (m > 0 && j < scores.length) {
      val s = scores(j)
      // insertion into the sorted top-m: a later (higher) id passes only
      // a strictly lower score, so ties keep the lower id ahead
      if (filled < m || beats(s, best(m - 1))) {
        var p = if (filled < m) filled else m - 1
        while (p > 0 && beats(s, best(p - 1))) {
          best(p) = best(p - 1); ids(p) = ids(p - 1); p -= 1
        }
        best(p) = s; ids(p) = j + 1
        if (filled < m) filled += 1
      }
      j += 1
    }
    ids
  }

  override def equals(o: Any): Boolean = o match {
    case m: CentroidMatrix =>
      k == m.k && dim == m.dim && java.util.Arrays.equals(data, m.data)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(data)

  private lazy val digest: String = {
    val buf = java.nio.ByteBuffer.allocate(8 * data.length)
    data.foreach(buf.putDouble)
    java.security.MessageDigest.getInstance("SHA-256").digest(buf.array())
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }
  override def toString: String = s"$k×$dim#$digest"
}

object CentroidMatrix {
  def apply(rows: Seq[Array[Double]]): CentroidMatrix = {
    val dim = rows.headOption.map(_.length).getOrElse(0)
    require(rows.forall(_.length == dim), "centroid rows differ in length")
    new CentroidMatrix(rows.length, dim, rows.flatten.toArray)
  }
}

/** Native nearest-centroid lookup with real `doGenCode`: the `n` best
  * 1-based centroid ids of a numeric vector, ranked by dot product with
  * each row of `centroids` (ties to the lower id) — the IVF inverted-list
  * assignment, as one expression over a row instead of a cross join with
  * the centroid table and a window. The matrix reaches the generated code
  * through `ctx.addReferenceObj`, so the code is the same for every
  * trained index and a new index hits the codegen cache.
  *
  * A null vector gives null; null elements read as 0, as in [[DotProduct]].
  */
case class NearestCentroids(child: Expression, centroids: CentroidMatrix, n: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroids needs a numeric array, got $t")
    }

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val x = elemType match {
      case FloatType   => Array.tabulate(a.numElements())(a.getFloat(_).toDouble)
      case DoubleType  => Array.tabulate(a.numElements())(a.getDouble)
      case IntegerType => Array.tabulate(a.numElements())(a.getInt(_).toDouble)
      case LongType    => Array.tabulate(a.numElements())(a.getLong(_).toDouble)
      case t => throw new IllegalStateException(s"unsupported element type $t")
    }
    UnsafeArrayData.fromPrimitiveArray(centroids.nearest(centroids.dots(x), n))
  }

  private def accessor(t: DataType): String = t match {
    case FloatType   => "getFloat"
    case DoubleType  => "getDouble"
    case IntegerType => "getInt"
    case LongType    => "getLong"
    case _ => throw new IllegalStateException(s"unsupported element type $t")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", centroids)
    nullSafeCodeGen(ctx, ev, a => {
      val len = ctx.freshName("len")
      val data = ctx.freshName("data")
      val scores = ctx.freshName("scores")
      val s = ctx.freshName("s")
      val off = ctx.freshName("off")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val ga = accessor(elemType)
      s"""
         |int $len = java.lang.Math.min($a.numElements(), $m.dim());
         |double[] $data = $m.data();
         |double[] $scores = new double[$m.k()];
         |for (int $j = 0; $j < $m.k(); $j++) {
         |  int $off = $j * $m.dim();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $len; $i++) {
         |    $s += (double) $a.$ga($i) * $data[$off + $i];
         |  }
         |  $scores[$j] = $s;
         |}
         |${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(
         |  $m.nearest($scores, $n));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroids =
    copy(child = c)

  override def prettyName: String = "nearest_centroids"
}

object VectorMath {
  def dotProduct(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    toCol(SortedIntersectCount(toExpr(a), toExpr(b)))
  def positionalEqCount(a: Column, b: Column): Column =
    toCol(PositionalEqCount(toExpr(a), toExpr(b)))
  def lshBucket(vec: Column, numBits: Int, planeOffset: Int = 0): Column =
    toCol(LshBucket(toExpr(vec), numBits, planeOffset))
  def nearestCentroids(vec: Column, centroids: CentroidMatrix, n: Int): Column =
    toCol(NearestCentroids(toExpr(vec), centroids, n))
}
