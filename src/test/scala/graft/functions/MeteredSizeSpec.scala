package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model.{EnvelopeRecord, Header}

class MeteredSizeSpec extends AnyFunSuite with LocalSpark {

  private def mkDf() = {
    import spark.implicits._
    Seq(
      (1L, Seq(("user_id".getBytes, "42".getBytes), ("k".getBytes, "vv".getBytes)),
        "hello".getBytes),
      (2L, Seq.empty[(Array[Byte], Array[Byte])], Array.emptyByteArray),
      (3L, null.asInstanceOf[Seq[(Array[Byte], Array[Byte])]],
        null.asInstanceOf[Array[Byte]]))
      .toDF("id", "headers_raw", "body")
      .withColumn("headers", expr(
        "transform(headers_raw, h -> struct(h._1 AS name, h._2 AS value))"))
  }

  test("matches the model formula and the composed column expression") {
    val df = mkDf().withColumn("ms",
        GraftFunctions.metered_size(col("headers"), col("body")))
      .withColumn("composed",
        lit(8L) + lit(2L) * coalesce(size(col("headers")), lit(0))
          + coalesce(aggregate(col("headers"), lit(0L),
              (acc, h) => acc + octet_length(h.getField("name"))
                + octet_length(h.getField("value"))), lit(0L))
          + coalesce(octet_length(col("body")), lit(0)))
    val rows = df.orderBy("id").select("id", "ms", "composed").collect()
    // model-side check for row 1
    val expected1 = EnvelopeRecord(
      Seq(Header.utf8("user_id", "42"), Header.utf8("k", "vv")),
      "hello".getBytes).meteredSize
    assert(rows(0).getLong(1) == expected1)
    assert(rows(1).getLong(1) == 8L)
    assert(rows(2).getLong(1) == 8L) // nulls treated as empty
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("SQL registration works") {
    GraftFunctions.register(spark)
    mkDf().createOrReplaceTempView("ms_input")
    val got = spark.sql(
      "SELECT id, metered_size(headers, body) AS ms FROM ms_input ORDER BY id")
      .collect().map(_.getLong(1)).toSeq
    assert(got == Seq(8L + 4 + 9 + 3 + 5, 8L, 8L))
  }

  test("aggregates over the codegen'd expression") {
    val total = mkDf()
      .agg(sum(GraftFunctions.metered_size(col("headers"), col("body"))))
      .first().getLong(0)
    assert(total == (8L + 4 + 9 + 3 + 5) + 8 + 8)
  }
}
