package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField,
  StructType}

import graft.functions.CentroidMatrix

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, and an LSH(random-hyperplane)-bucketed variant as the scale
  * path (bucket first → compare only within buckets).
  *
  * Vector math uses higher-order functions (`zip_with` + `aggregate`) over
  * `array<float>` cast to double — sequential left-to-right accumulation,
  * fully codegen'd, no UDF.
  */
object Similarity {

  /** Dot product of two array columns: native codegen'd loop expression
    * ([[graft.functions.DotProduct]]) — bit-identical left-to-right double
    * accumulation to the higher-order `aggregate(zip_with(...))` form it
    * replaced, but evaluated in generated code instead of the interpreted
    * lambda interpreter (the hot cost of every pairwise similarity op).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorMath.dotProduct(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Cosine from a precomputed-norm pair: same expression tree as
    * [[cosine]] (dot / (na*nb)) so results are bit-identical, but each
    * side's norm is computed once per ROW instead of once per PAIR — at
    * n×m pair counts that is 3× fewer vector traversals.
    */
  private def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    *
    * The query set is small by construction (it's the thing you're probing
    * with), so it broadcasts; the corpus streams through once. Per-query
    * top-k via window row_number — at scale this is the partial-topK pattern
    * (rank within partition, then global) and never materializes the full
    * similarity matrix.
    *
    * `rankRoundDigits >= 0` ranks on `round(sim, d)` instead of the raw
    * double — use it when the top-k MEMBERSHIP must be reproducible across
    * engines whose float accumulation differs in the last ulp (ties break on
    * `n_id`, so rounded ranking is fully deterministic).
    *
    * @return (q_id, n_id, sim) — k rows per query, excluding self-matches
    */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int,
                    rankRoundDigits: Int = -1): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_norm"))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosineWithNorms(col("q_vec"), col("n_vec"),
          col("q_norm"), col("n_norm")).as("sim"))
    val rankCol =
      if (rankRoundDigits >= 0) round(col("sim"), rankRoundDigits)
      else col("sim")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(rankCol.desc, col("n_id").asc)
    sims.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
      .orderBy(col("q_id"), col("n_id"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine >= the
    * threshold. Exact all-pairs is inherently quadratic — the scale path is
    * [[annLsh]]/[[annIvf]], which bucket first; this exact variant keeps its
    * memory bounded with [[graft.operators.Joins.boundedBlockJoin]]: the
    * corpus broadcasts only below the broadcast threshold, and beyond it the
    * comparison becomes a salt-partitioned block-nested-loop (each task sees
    * a probe slice × replicated build), so no executor ever has to hold the
    * whole table.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, mode: String = "auto"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      norm(col(vecCol)).as("n_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      norm(col(vecCol)).as("n_b"))
    graft.operators.Joins.boundedBlockJoin(a, b, Nil,
      saltBy = col("id_a"), mode = mode)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineWithNorms(col("v_a"), col("v_b"), col("n_a"), col("n_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Random-hyperplane LSH bucket id: `numBits` deterministic pseudo-random
    * hyperplanes; bit b = sign of dot(vec, plane_b). Planes are derived from
    * xxhash64(dimension, planeOffset + bit) so every executor computes
    * identical planes with zero driver coordination or data movement;
    * distinct `planeOffset`s give INDEPENDENT hash tables (the OR-
    * amplification axis of LSH theory — see [[annLsh]]'s numTables).
    *
    * Evaluates through the native codegen'd [[graft.functions.LshBucket]]
    * expression (cached plane matrices + tight projection loops);
    * [[lshBucketHof]] keeps the original higher-order-function form, and
    * FunctionsSpec pins their bit-identity.
    */
  def lshBucket(vec: Column, numBits: Int, planeOffset: Int = 0): Column =
    graft.functions.VectorMath.lshBucket(vec, numBits, planeOffset)

  /** Reference HOF formulation of [[lshBucket]] (interpreted; spec-only). */
  private[graft] def lshBucketHof(vec: Column, numBits: Int,
                                  planeOffset: Int = 0): Column =
    aggregate(sequence(lit(0), lit(numBits - 1)), lit(0L), (acc, bit) => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) =>
          v.cast("double") *
            ((pmod(xxhash64(i, bit + lit(planeOffset)), lit(1000L))
              .cast("double") / 500.0) - 1.0)),
        lit(0.0), (a, v) => a + v)
      acc + when(proj > 0, call_function("shiftleft", lit(1L), bit)).otherwise(0L)
    })

  /** Approximate NN: bucket corpus and queries with `lshBucket`, compare only
    * within buckets, top-k per query. Recall comes from BOTH standard LSH
    * amplification axes:
    *
    *  - '''multi-probe''' (`probeRadius = 1`, default): each query probes its
    *    own bucket PLUS every bucket at Hamming distance 1 (one hyperplane
    *    sign flipped) — the fix for vectors that land near a hyperplane,
    *    where single-probe loses their true neighbors to the adjacent
    *    bucket. Candidate work grows ~(1+numBits)× on the query side only.
    *  - '''multiple tables''' (`numTables`, OR-amplification): independent
    *    hyperplane sets; a true neighbor is found if ANY table buckets it
    *    with the query, so the miss probability decays exponentially in the
    *    table count. Corpus-side rows replicate numTables× (still linear —
    *    never pairwise).
    *
    * The join stays bucket-equi on (table, bucket); a (query, neighbor) pair
    * can match in several tables, so candidates dedup before the top-k
    * window.
    *
    * The query side broadcasts only while Catalyst's size estimate stays
    * under the session broadcast threshold ([[graft.operators.Joins
    * .boundedBlockJoin]]); an over-threshold query set — e.g. a
    * corpus-vs-corpus self-search — falls back to a salted shuffle join on
    * the bucket key instead of broadcasting terabytes.
    */
  def annLsh(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, numBits: Int = 8,
             probeRadius: Int = 1, numTables: Int = 2,
             mode: String = "auto"): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 1,
      s"probeRadius must be 0 (single-probe) or 1 (flip-one), got $probeRadius")
    require(numTables >= 1, s"numTables must be >= 1, got $numTables")
    def tb(t: Int, bucket: Column) =
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    // per-table probe set for one query row: own bucket (+ Hamming-1 flips)
    def probesFor(t: Int, vec: Column): Seq[Column] = {
      val b = lshBucket(vec, numBits, planeOffset = t * numBits)
      val own = Seq(tb(t, b))
      if (probeRadius == 0) own
      else own ++ (0 until numBits).map(i =>
        tb(t, b.bitwiseXOR(lit(1L << i))))
    }
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm"),
      explode(array((0 until numTables).flatMap(t =>
        probesFor(t, col(vecCol))): _*)).as("__tb"))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        col("__tb.tbl").as("tbl"), col("__tb.bucket").as("bucket"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_norm"),
      explode(array((0 until numTables).map(t =>
        tb(t, lshBucket(col(vecCol), numBits, planeOffset = t * numBits))): _*))
        .as("__tb"))
      .select(col("n_id"), col("n_vec"), col("n_norm"),
        col("__tb.tbl").as("tbl"), col("__tb.bucket").as("bucket"))
    val sims = graft.operators.Joins.boundedBlockJoin(c, q, Seq("tbl", "bucket"),
      saltBy = col("n_id"), mode = mode)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosineWithNorms(col("q_vec"), col("n_vec"),
          col("q_norm"), col("n_norm")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    sims.dropDuplicates("q_id", "n_id")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
      .orderBy(col("q_id"), col("n_id"))
  }

  /** Training rows per inverted list (or PQ codeword): k-means learns
    * `k` centroids from at most `TrainPointsPerList × k` vectors, FAISS's
    * bound for IVF training. A corpus that fits trains on all of its
    * vectors; a larger one on a deterministic sample of that many.
    */
  val TrainPointsPerList = 256

  /** The training vectors of a `k`-centroid quantizer, in id order: one
    * Spark job takes the `TrainPointsPerList × k` rows lowest in
    * `(xxhash64(id), id)` — every row while the corpus fits, otherwise a
    * sample that depends on the ids only, never on partitioning. Rows with
    * a null vector take no part. These are the only vectors that reach the
    * driver.
    */
  private def trainingSample(corpus: DataFrame, idCol: String, vecCol: String,
                             k: Int): IndexedSeq[Array[Double]] = {
    val rows = corpus
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(TrainPointsPerList * k)
      .collect()
    val byId: Ordering[Row] = (a, b) => (a.get(0), b.get(0)) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
      case (x, _) =>
        throw new IllegalArgumentException(s"unorderable id ${x.getClass}")
    }
    rows.sorted(byId).map(_.getSeq[Double](1).toArray).toIndexedSeq
  }

  /** `v / ‖v‖`, a zero vector as it is. */
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotOf(v, v))
    if (n == 0) v else v.map(_ / n)
  }

  private def dotOf(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Lloyd's k-means on the driver: the first `k` vectors (the lowest
    * ids) seed the centroids, and each iteration assigns every vector to
    * its best-scoring centroid (the [[graft.functions.CentroidMatrix]]
    * kernel, a tie to the lowest centroid id) and moves each centroid to
    * the elementwise mean of its vectors. A centroid whose cluster goes
    * empty keeps its position (dropping it would shrink the list count, a
    * data-dependent failure).
    *
    * @param minL2 rank by v·c − ‖c‖²/2 and keep the means' magnitude (PQ);
    *              otherwise rank by v·c and re-project each mean to unit
    *              length (spherical k-means, IVF)
    */
  private def lloyd(vecs: IndexedSeq[Array[Double]], k: Int, iters: Int,
                    minL2: Boolean): CentroidMatrix = {
    var c = CentroidMatrix(vecs.take(k))
    require(vecs.forall(_.length == c.dim),
      s"training vectors differ in length (expected ${c.dim})")
    var it = 0
    while (it < iters) {
      val penalty = Array.tabulate(c.k) { j =>
        if (minL2) { val r = c.row(j); dotOf(r, r) / 2 } else 0.0
      }
      val sums = Array.ofDim[Double](c.k, c.dim)
      val counts = new Array[Int](c.k)
      vecs.foreach { v =>
        val s = c.dots(v)
        var p = 0
        while (p < s.length) { s(p) -= penalty(p); p += 1 }
        val j = c.nearest(s, 1)(0) - 1
        val acc = sums(j)
        var i = 0
        while (i < v.length) { acc(i) += v(i); i += 1 }
        counts(j) += 1
      }
      c = CentroidMatrix((0 until c.k).map { j =>
        if (counts(j) == 0) c.row(j)
        else {
          val mean = sums(j).map(_ / counts(j))
          if (minL2) mean else unit(mean)
        }
      })
      it += 1
    }
    c
  }

  /** IVF coarse quantizer: `nlist` spherical k-means centroids of the
    * unit-normalized vectors, trained with `iters` driver-side Lloyd
    * iterations over the bounded training sample (at most
    * [[TrainPointsPerList]] × `nlist` vectors, one Spark job). Centroids
    * are unit vectors, so ranking a row by dot(v, ĉ) ranks it by cosine.
    *
    * @return the `nlist × dim` centroid matrix, row `j` being list `j + 1`
    */
  def trainIvf(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int, iters: Int = 2): CentroidMatrix =
    lloyd(trainingSample(corpus, idCol, vecCol, nlist).map(unit), nlist, iters,
      minL2 = false)

  /** Ids of the `n` inverted lists nearest to `vec` (1-based, best first). */
  private def nearestLists(vec: Column, centroids: CentroidMatrix, n: Int): Column =
    explode(graft.functions.VectorMath.nearestCentroids(vec, centroids, n))

  /** IVF approximate NN (the scale path for similarity search): corpus
    * vectors live in their single nearest inverted list; each query probes
    * its `nprobe` nearest lists and scans only those candidates — at 1B+
    * vectors the scan cost drops by ~nlist/nprobe versus brute force while
    * the per-pair math stays identical to [[bruteForceKnn]].
    *
    * Each call trains its quantizer with [[trainIvf]]; the search plan then
    * carries the centroid matrix as a value inside one expression
    * ([[graft.functions.NearestCentroids]]) — no training lineage, no
    * centroid table to join or cache — and no vector but the training
    * sample's ever reaches the driver.
    */
  def annIvf(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
             iters: Int = 2, mode: String = "auto"): DataFrame = {
    val centroids = trainIvf(corpus, idCol, vecCol, nlist, iters)
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
      norm(col(vecCol)).as("n_norm"),
      nearestLists(col(vecCol), centroids, 1).as("centroid_id"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_norm"),
      nearestLists(col(vecCol), centroids, nprobe).as("centroid_id"))
    // query side broadcasts only under the size gate (see annLsh) — a
    // corpus-scale query set shuffles on the inverted-list id instead
    val sims = graft.operators.Joins.boundedBlockJoin(c, q, Seq("centroid_id"),
      saltBy = col("n_id"), mode = mode)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosineWithNorms(col("q_vec"), col("n_vec"),
          col("q_norm"), col("n_norm")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    sims.dropDuplicates("q_id", "n_id")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
      .orderBy(col("q_id"), col("n_id"))
  }

  // ------------------------------------------------ product quantization

  /** Unit-normalize the FULL vector before slicing: cosine-PQ. With unit
    * corpus vectors, dot == cosine, so the ADC sum approximates the exact
    * cosine ranking; the subvectors still carry their (non-unit) share of
    * the norm, which the magnitude-preserving Lloyd keeps.
    */
  private def unitFull(vecCol: String): Column = {
    val v = transform(col(vecCol), _.cast("double"))
    val n = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    when(n === 0, v).otherwise(transform(v, x => x / n))
  }

  /** Train PQ codebooks: split the unit-normalized vector into `m` equal
    * subvectors and run the driver-side [[lloyd]] per subspace (`k`
    * centroids each) over the bounded training sample (at most
    * [[TrainPointsPerList]] × `k` vectors, one Spark job), with min-L2
    * assignment and MAGNITUDE-PRESERVING means - ADC reconstructs dot(q, v)
    * from per-subspace partial dots, so a unit-normalized codebook would
    * throw away exactly the information PQ must preserve. The codebook is
    * a local DataFrame of m*k rows, which consumers broadcast.
    *
    * @return (subspace, centroid_id, centroid ARRAY<DOUBLE>)
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, iters: Int = 2): DataFrame = {
    val sample = trainingSample(corpus, idCol, vecCol, k).map(unit)
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val rows = (0 until m).flatMap { g =>
      val books = lloyd(sample.map(_.slice(g * sub, (g + 1) * sub)), k, iters,
        minL2 = true)
      (0 until books.k).map(j => Row(g, j + 1, books.row(j).toSeq))
    }
    corpus.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("subspace", IntegerType, nullable = false),
        StructField("centroid_id", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType, containsNull = false),
          nullable = false))))
  }

  /** The slice of a full vector that a codebook row's `subspace` covers:
    * the centroid's length fixes the subvector length, so no job has to
    * read the vector dimension first. */
  private def subvector(v: Column): Column = {
    val sub = size(col("centroid"))
    slice(v, col("subspace") * sub + lit(1), sub)
  }

  /** Encode the corpus against trained codebooks: per subspace, the id of
    * the nearest centroid — `m` small codes replace the full vector
    * (64 floats → 4 bytes at m=4: the 100-TB memory story of PQ). One
    * pass: explode subvectors, broadcast-join the m·k codebook, keep the
    * argmax code per (vector, subspace).
    *
    * @return (idCol, subspace, code)
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int): DataFrame = {
    val exploded = df.select(col(idCol), unitFull(vecCol).as("__u"))
      .withColumn("subspace", explode(sequence(lit(0), lit(m - 1))))
    val w = Window.partitionBy(col(idCol), col("subspace"))
      .orderBy(col("__sim").desc, col("centroid_id").asc)
    exploded.join(broadcast(codebooks), "subspace")
      .withColumn("__sub", subvector(col("__u")))
      // same min-L2 assignment as training: max(v·c − ‖c‖²/2)
      .withColumn("__sim", dot(col("__sub"), col("centroid")) -
        dot(col("centroid"), col("centroid")) / 2)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("subspace"), col("centroid_id").as("code"))
  }

  /** ADC (asymmetric distance computation) search: queries keep full
    * precision, corpus is PQ codes. Per query a distance table of m·k
    * partial dot products is computed against the codebooks (tiny,
    * broadcast); the approximate similarity of a corpus vector is the sum
    * of table entries selected by its codes. The corpus is never decoded —
    * at 1B vectors the scan touches m bytes per vector plus an m-way sum.
    */
  def pqSearch(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
               idCol: String, vecCol: String, m: Int, k: Int): DataFrame = {
    // per-(query, subspace, centroid) partial dot products — the ADC table
    val table = queries.select(col(idCol).as("q_id"), unitFull(vecCol).as("__qv"))
      .crossJoin(broadcast(codebooks))
      .select(col("q_id"), col("subspace"), col("centroid_id"),
        dot(subvector(col("__qv")), col("centroid")).as("partial"))
    // corpus codes join the table on (subspace, code); summing the m
    // partials reconstructs the approximate dot product
    val approx = codes.join(table,
        codes("subspace") === table("subspace") &&
          codes("code") === table("centroid_id"))
      .groupBy(col("q_id"), codes(idCol).as("n_id"))
      .agg(sum(col("partial")).as("approx_sim"), count(lit(1)).as("__m"))
      .filter(col("__m") === m) // all subspaces matched
      .filter(col("q_id") =!= col("n_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_sim").desc, col("n_id").asc)
    approx.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).select("q_id", "n_id", "approx_sim")
      .orderBy(col("q_id"), col("n_id"))
  }
}
