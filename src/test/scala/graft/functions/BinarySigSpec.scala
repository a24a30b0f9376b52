package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** The codegen'd signature-word expression must agree bit-for-bit
  * with the interpreted 16-fold SQL chain it replaced (the DuckDB
  * oracle recomputes exactly that chain), including the SQL chain's
  * quirky null fallout: a null ELEMENT or wrong-length vector
  * null-poisons every plane's dot, and `CASE WHEN null >= 0` takes
  * the ELSE branch — word 0, not null.
  */
class BinarySigSpec extends AnyFunSuite with LocalSpark {

  /** The interpreted formulation, rebuilt from the shared sign
    * derivation — the exact shape VectorOps used before the
    * expression landed (and DuckDB still uses). */
  private def legacy(word: Int) = expr(
    (0 until 16).map { b =>
      val plane = (0 until 64).map(j =>
        if (BinarySigExpr.planePositive(16 * word + b, j)) "1.0" else "-1.0")
        .mkString("array(", ",", ")")
      s"""(CASE WHEN aggregate(zip_with(v, $plane,
            (x, y) -> CAST(x AS DOUBLE) * y),
            CAST(0 AS DOUBLE), (acc, w) -> acc + w) >= 0
          THEN ${1 << b} ELSE 0 END)"""
    }.mkString("(", " + ", ")"))

  test("all 8 words bit-identical to the interpreted folds on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (0 until 300).map(_ => Array.fill(64)(rnd.nextFloat() * 2 - 1))
      .toDF("v")
    (0 until 8).foreach { w =>
      val diff = df.select(
          GraftFunctions.binary_sig(col("v"), w).as("fast"),
          legacy(w).cast("int").as("slow"))
        .where(col("fast") =!= col("slow"))
        .count()
      assert(diff == 0L, s"word $w diverged from the interpreted folds")
    }
  }

  test("near-zero dots: sign boundary handled identically (dot >= 0)") {
    import spark.implicits._
    // all-zero vector: every dot is exactly 0.0 -> every bit SET in
    // both formulations (0 >= 0)
    val df = Seq(Array.fill(64)(0f)).toDF("v")
    val r = df.select(GraftFunctions.binary_sig(col("v"), 0).as("fast"),
      legacy(0).cast("int").as("slow")).collect().head
    assert(r.getInt(0) == 0xFFFF && r.getInt(1) == 0xFFFF)
  }

  test("NaN dots set the bit, matching Spark's nan-safe >= and DuckDB") {
    import spark.implicits._
    // a NaN element (non-null path) poisons every dot to NaN; Spark
    // SQL's `NaN >= 0` is TRUE (nan-safe ordering, NaN above
    // everything) and DuckDB agrees — the expression must too, which
    // is why it tests !(dot < 0) rather than Java's (dot >= 0)
    val df = Seq(Array.fill(64)(Float.NaN)).toDF("v")
    val r = df.select(GraftFunctions.binary_sig(col("v"), 0).as("fast"),
      legacy(0).cast("int").as("slow")).collect().head
    assert(r.getInt(1) == 0xFFFF, "legacy chain changed NaN semantics?")
    assert(r.getInt(0) == 0xFFFF, "codegen diverged from SQL on NaN dots")
  }

  test("null semantics mirror the SQL chain, not intuitive nullability") {
    import spark.implicits._
    val df = Seq(
      ("null_array", null.asInstanceOf[Array[Float]]),
      ("short", Array(1f, 2f)),
      ("ok", Array.fill(64)(1f)))
      .toDF("k", "v")
    val got = df.select(col("k"),
        GraftFunctions.binary_sig(col("v"), 0).as("s"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(got("null_array").isEmpty, "null array must stay null")
    assert(got("short").contains(0), "wrong length must be word 0 (SQL CASE fallout)")
    assert(got("ok").nonEmpty)
    // null ELEMENT: build via sql to get an array with a null slot
    val withNull = spark.sql(
      "SELECT CAST(array_insert(array_repeat(CAST(1.0 AS FLOAT), 63), 5, " +
        "CAST(NULL AS FLOAT)) AS ARRAY<FLOAT>) AS v")
    val s = withNull.select(GraftFunctions.binary_sig(col("v"), 0).as("s"))
      .collect().head
    assert(!s.isNullAt(0) && s.getInt(0) == 0,
      "null element must be word 0 (every dot null-poisoned)")
  }

  test("SQL registration: binary_sig(v, w) with literal word, non-literal rejected") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq(Array.fill(64)(1f)).toDF("v").createOrReplaceTempView("bsv")
    val viaSql = spark.sql("SELECT binary_sig(v, 3) AS s FROM bsv")
      .collect().head.getInt(0)
    val viaCol = spark.table("bsv")
      .select(GraftFunctions.binary_sig(col("v"), 3)).collect().head.getInt(0)
    assert(viaSql == viaCol)
    val err = intercept[Exception] {
      spark.sql("SELECT binary_sig(v, CAST(v[1] AS INT)) FROM bsv").collect()
    }
    assert(err.getMessage.contains("INT literal"))
  }
}
