package graft.queries

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Schema-drift canary over the driver-generated testdata.
  *
  * Round 10 lost 34 queries, the bench, and 5 tests to ONE silent
  * change: events.parquet was regenerated with ts TIMESTAMP(MICROS)
  * (read as TIMESTAMP_NTZ) where every consumer assumed the old
  * TIMESTAMP(NANOS)-as-LONG encoding. Each failure surfaced as an
  * opaque analysis error deep inside an unrelated query. This spec
  * turns the next such drift into one targeted message: it pins the
  * COLUMN SETS every query family depends on, the accepted physical
  * encodings of `ts`, and proves the canonical `Records.records`
  * view still analyzes.
  */
class SchemaGuardSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2
  // set BEFORE any events.parquet read: on the TIMESTAMP(NANOS)
  // encoding a plain read dies with PARQUET_TYPE_ILLEGAL — the
  // opaque crash this canary exists to replace with a targeted
  // message, so the canary itself must never hit it
  override protected def conf =
    Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  private def sfDir: String = graft.TestData.requireSf("sf0.001")

  private def cols(table: String): Map[String, DataType] =
    spark.read.parquet(s"$sfDir/$table.parquet")
      .schema.fields.map(f => f.name -> f.dataType).toMap

  /** Columns the query inventory resolves against, per table. A
    * missing/renamed column here fails with the table and column
    * named, before any query plan ever sees it.
    */
  private val required: Map[String, Set[String]] = Map(
    "region" -> Set("r_regionkey", "r_name"),
    "nation" -> Set("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"),
    "supplier" -> Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Set("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice"),
    "orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Set("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Set("event_id", "ts", "user_id", "event_type", "value",
      "props"),
    "documents" -> Set("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Set("vec_id", "embedding", "label"))

  test("every testdata table still carries the columns queries use") {
    val missing = required.toSeq.sortBy(_._1).flatMap { case (t, need) =>
      val have = cols(t).keySet
      (need -- have).map(c => s"$t.$c")
    }
    assert(missing.isEmpty,
      s"testdata schema drift — missing columns: ${missing.mkString(", ")}")
  }

  test("events.ts physical encoding is one Records.events understands") {
    val ts = cols("events")("ts")
    info(s"events.ts physical type as read by Spark: $ts")
    assert(Set[DataType](LongType, TimestampNTZType, TimestampType)(ts),
      s"events.ts is $ts; Records.events handles LONG(nanos) and " +
        "TIMESTAMP[_NTZ](micros) only — extend the dispatch there first")
  }

  test("Records.events normalizes ts to epoch-nanos LONG on any encoding") {
    val ev = Records.events(spark, sfDir)
    assert(ev.schema("ts").dataType == LongType)
    // Value-level pin: nanos magnitude (>= year-2000 in ns), micros-exact.
    val sample = ev.selectExpr("min(ts)", "max(ts % 1000)").head()
    assert(sample.getLong(0) > 946684800L * 1000000000L,
      "ts no longer looks like epoch NANOS — a consumer dividing by " +
        "1000/1000000 would silently produce wrong units")
    assert(sample.getLong(1) == 0L, "ts carries sub-microsecond digits; " +
      "DuckDB epoch_us oracles would truncate where Spark rounds")
  }

  test("canonical Records.records view analyzes and is non-empty") {
    val rec = Records.records(spark, sfDir)
    val expect = Set("basin", "stream", "ts_client", "user_id", "event_id",
      "seq_num", "ts_assigned", "metered_size", "body")
    assert(rec.schema.fieldNames.toSet == expect)
    assert(rec.limit(1).count() == 1L)
  }

  test("temporal columns keep a timestamp-family type") {
    val dt = Set[DataType](TimestampType, TimestampNTZType, DateType)
    assert(dt(cols("orders")("o_orderdate")))
    assert(dt(cols("lineitem")("l_shipdate")))
  }

  test("embeddings.embedding stays ARRAY<FLOAT>") {
    assert(cols("embeddings")("embedding") == ArrayType(FloatType, true) ||
      cols("embeddings")("embedding") == ArrayType(FloatType, false))
  }
}
