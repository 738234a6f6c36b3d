package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks for the algebraic components whose correctness
  * rests on invariants rather than fixtures: URL canonicalization must be
  * idempotent (a canonical URL re-canonicalizes to itself — the dedup key
  * is stable), safe_divide must match an independent model of the
  * reference's SafeDivide on random inputs, and BPE merges must never
  * increase a document's token count while training stays deterministic.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("canonicalizeUrl is idempotent over randomized messy URLs") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val genUrl: Gen[String] = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp")
      host <- Gen.oneOf("Example.COM", "example.com", "A.b.C")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/a", "/a/", "/a/b", "/a/b/")
      q <- Gen.oneOf("", "?b=2&a=1", "?utm_source=x&a=1", "?a=1&utm_x=2&z=",
        "?gclid=abc&k=v", "?fbclid", "?gclid")
      frag <- Gen.oneOf("", "#f", "#a/b?c=d")
    } yield s"$scheme://$host$port$path$q$frag"
    val urls = sample(genUrl, 300)
    val once = urls.toDF("u")
      .select(pipeline.TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect()
    val twice = once.toSeq.toDF("u")
      .select(pipeline.TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect()
    once.zip(twice).zip(urls).foreach { case ((a, b), raw) =>
      assert(a == b, s"not idempotent for '$raw': '$a' -> '$b'")
    }
  }

  test("safe_divide matches an independent model of SafeDivide") {
    import spark.implicits._
    GraftSession.attach(spark)
    // long path model: zero divisor -> null, else Java truncation
    def longModel(x: Long, y: Long): Option[Long] =
      if (y == 0L) None else Some(x / y)
    // double path model: zero/NaN divisor -> null unless x == 0 (then 0.0)
    def dblModel(x: Double, y: Double): Option[Double] =
      if (y == 0.0 || y.isNaN) { if (x != 0.0) None else Some(0.0) }
      else Some(x / y)
    val genLong = Gen.chooseNum(-1000L, 1000L)
    val longs = sample(Gen.zip(genLong, genLong), 200)
    val lr = longs.toDF("x", "y")
      .selectExpr("safe_divide(x, y) AS d").collect()
    longs.zip(lr).foreach { case ((x, y), row) =>
      val got = if (row.isNullAt(0)) None else Some(row.getLong(0))
      assert(got == longModel(x, y), s"long safe_divide($x, $y)")
    }
    val genDbl = Gen.oneOf(Gen.chooseNum(-100.0, 100.0),
      Gen.oneOf(0.0, -0.0, Double.NaN, 1.5, -2.5))
    val dbls = sample(Gen.zip(genDbl, genDbl), 200)
    val dr = dbls.toDF("x", "y")
      .selectExpr("safe_divide(x, y) AS d").collect()
    dbls.zip(dr).foreach { case ((x, y), row) =>
      val got = if (row.isNullAt(0)) None else Some(row.getDouble(0))
      val want = dblModel(x, y)
      val ok = (got, want) match {
        case (Some(a), Some(b)) => (a == b) || (a.isNaN && b.isNaN)
        case (a, b)             => a == b
      }
      assert(ok, s"double safe_divide($x, $y): got $got want $want")
    }
  }

  test("BPE merges never increase token counts; training is deterministic") {
    import spark.implicits._
    val genWord = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val genDoc = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, genWord).map(_.mkString(" ")))
    val docs = sample(genDoc, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val merges = pipeline.Bpe.train(df, "text", 8)
    // determinism: a second training run yields the identical table
    assert(pipeline.Bpe.train(df, "text", 8) == merges)
    val counts = pipeline.Bpe.tokenCounts(df, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    docs.foreach { case (id, text) =>
      val words = text.split("\\s+").filter(_.nonEmpty)
      val (nWs, nBpe) = counts(id)
      assert(nWs == words.length)
      // chars per word is the un-merged ceiling; words is the floor
      assert(nBpe <= words.map(_.length.toLong).sum, s"doc $id over ceiling")
      assert(nBpe >= words.length.toLong, s"doc $id under floor")
    }
  }
}
