package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** The codegen'd integer dot must agree exactly with the interpreted
  * aggregate(zip_with(...)) chain it replaced in ann_int8_topk.
  */
class IntDotSpec extends AnyFunSuite with LocalSpark {

  private def legacy = expr(
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, w) -> acc + w)")

  test("identical to the interpreted SQL chain on random int8-range vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map { _ =>
      (Array.fill(64)((rnd.nextInt(255) - 127).toLong),
       Array.fill(64)((rnd.nextInt(255) - 127).toLong))
    }
    val df = rows.toDF("a", "b")
    val diff = df.select(
        GraftFunctions.int_dot(col("a"), col("b")).as("fast"),
        legacy.as("slow"))
      .where(col("fast") =!= col("slow"))
      .count()
    assert(diff == 0L, "codegen result diverged from the interpreted fold")
  }

  test("null semantics: null array, length mismatch, null element") {
    import spark.implicits._
    val df = Seq(
      ("null_a", null.asInstanceOf[Array[java.lang.Long]],
        Array[java.lang.Long](1L, 2L)),
      ("len_mismatch", Array[java.lang.Long](1L, 2L, 3L),
        Array[java.lang.Long](1L, 2L)),
      ("null_elem", Array[java.lang.Long](1L, null),
        Array[java.lang.Long](1L, 2L)),
      ("ok", Array[java.lang.Long](2L, 3L), Array[java.lang.Long](4L, 5L)))
      .toDF("k", "a", "b")
    val got = df.select(col("k"),
        GraftFunctions.int_dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got("null_a").isEmpty)
    assert(got("len_mismatch").isEmpty)
    assert(got("null_elem").isEmpty)
    assert(got("ok").contains(23L))
  }

  test("SQL registration via session extensions resolves int_dot") {
    // the shared test session does not carry the session extension;
    // register through the same FunctionRegistry path and go through
    // the SQL parser
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT int_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(r == 32L)
  }
}
