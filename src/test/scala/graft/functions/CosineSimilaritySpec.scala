package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** The codegen'd cosine expression must agree bit-for-bit with the
  * interpreted aggregate(zip_with(...)) SQL chain it replaced — the
  * DuckDB oracle hash-compares the rounded scores.
  */
class CosineSimilaritySpec extends AnyFunSuite with LocalSpark {

  private def legacy = expr(
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                 CAST(0 AS DOUBLE), (acc, v) -> acc + v)
       / (sqrt(aggregate(a, CAST(0 AS DOUBLE),
                 (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
        * sqrt(aggregate(b, CAST(0 AS DOUBLE),
                 (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""")

  test("bit-identical to the interpreted SQL chain on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { _ =>
      (Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
    val diff = df.select(
        GraftFunctions.cosine_sim(col("a"), col("b")).as("fast"),
        legacy.as("slow"))
      .where(col("fast") =!= col("slow")) // exact double inequality
      .count()
    assert(diff == 0L, "codegen result diverged from the interpreted fold")
  }

  test("null semantics: null array, length mismatch, null element, zero norm") {
    import spark.implicits._
    val df = Seq(
      ("null_a", null.asInstanceOf[Array[Float]], Array(1f, 2f)),
      ("len_mismatch", Array(1f, 2f, 3f), Array(1f, 2f)),
      ("zero_norm", Array(0f, 0f), Array(1f, 2f)),
      ("ok", Array(1f, 0f), Array(1f, 0f)))
      .toDF("k", "a", "b")
    val got = df.select(col("k"),
        GraftFunctions.cosine_sim(col("a"), col("b")).as("c"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got("null_a").isEmpty)
    assert(got("len_mismatch").isEmpty)
    assert(got("zero_norm").isEmpty)
    assert(got("ok").contains(1.0))
    // null ELEMENT -> null (zip_with product parity), via SQL registration
    GraftFunctions.register(spark)
    val e = spark.sql(
      "SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(1 AS FLOAT)))")
    assert(e.first().isNullAt(0))
  }
}
