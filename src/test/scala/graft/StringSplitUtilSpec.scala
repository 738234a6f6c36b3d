package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Reference split/join edge semantics — StringToArrayFunction
  * (Function.java:3582, Java String.split limit-0 drops trailing empties)
  * and ArrayToStringFunction (Function.java:3623-3649, null elements print
  * 'null', the single-element [null] array is SQL NULL, null separator
  * joins with '').
  */
class StringSplitUtilSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    GraftSession.attach(s)
    s
  }

  private def one(sql: String): Any =
    spark.sql(s"SELECT $sql AS r").collect()(0).get(0)

  test("string_to_mv drops trailing empty strings like Java split") {
    assert(one("STRING_TO_MV('a,b,,', ',')") ===
      scala.collection.mutable.ArraySeq("a", "b"))
    assert(one("STRING_TO_ARRAY('a,b,,', ',')") ===
      scala.collection.mutable.ArraySeq("a", "b"))
    // interior empties stay
    assert(one("STRING_TO_MV('a,,b', ',')") ===
      scala.collection.mutable.ArraySeq("a", "", "b"))
    // all-separator input collapses to empty array (Java split)
    assert(one("STRING_TO_MV(',,,', ',')") ===
      scala.collection.mutable.ArraySeq())
    // empty input is the single-empty-string array (Java "".split(","))
    assert(one("STRING_TO_MV('', ',')") ===
      scala.collection.mutable.ArraySeq(""))
    // null input → NULL
    assert(one("STRING_TO_MV(CAST(NULL AS STRING), ',')") === null)
    // null delimiter splits per character (reference: split on '')
    assert(one("STRING_TO_MV('ab', CAST(NULL AS STRING))") ===
      scala.collection.mutable.ArraySeq("a", "b"))
  }

  test("mv_to_string prints nulls, [null] is SQL NULL, null sep joins ''") {
    assert(one("MV_TO_STRING(array('a', NULL, 'b'), '|')") === "a|null|b")
    assert(one("ARRAY_TO_STRING(array('a', NULL, 'b'), '|')") === "a|null|b")
    assert(one("MV_TO_STRING(array(CAST(NULL AS STRING)), '|')") === null)
    assert(one("MV_TO_STRING(CAST(NULL AS ARRAY<STRING>), '|')") === null)
    assert(one("MV_TO_STRING(array('a','b'), CAST(NULL AS STRING))") === "ab")
    // numeric arrays ride String::valueOf
    assert(one("ARRAY_TO_STRING(array(1, 0, NULL), '|')") === "1|0|null")
  }

  test("round trip composes with MV fns") {
    assert(one("MV_LENGTH(STRING_TO_MV('x,y,,', ','))") === 2)
    assert(one(
      "MV_TO_STRING(STRING_TO_MV('a,b,,', ','), '-')") === "a-b")
  }
}
