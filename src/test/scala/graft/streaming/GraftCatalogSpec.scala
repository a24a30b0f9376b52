package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.log.{BackendHarness, StreamStore}
import graft.model._

/** The TableCatalog plugin: basins as namespaces, streams as SQL
  * tables, reads through the shared DSv2 table.
  */
class GraftCatalogSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  test("streams are first-class SQL tables under the graft catalog") {
    val dir = BackendHarness.tempDir("graft-sqlcat").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("sql-basin-1",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("sql-basin-1", "orders")
    st.append("sql-basin-1", "orders", AppendInput(Seq(
      EnvelopeRecord(Nil, "o1".getBytes),
      EnvelopeRecord(Nil, "o2".getBytes),
      EnvelopeRecord(Nil, "o3".getBytes))), Some(1000L))

    spark.conf.set("spark.sql.catalog.graft",
      "graft.streaming.source.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.graft.root", dir)

    // namespace + table discovery
    val tables = spark.sql("SHOW TABLES IN graft.`sql-basin-1`")
      .collect().map(_.getString(1)).toSeq
    assert(tables == Seq("orders"))

    // reads resolve through the DSv2 table with visibility masks
    assert(spark.sql("SELECT count(*) AS n FROM graft.`sql-basin-1`.orders")
      .first().getLong(0) == 3L)
    val bodies = spark.sql(
      "SELECT CAST(body AS STRING) AS b FROM graft.`sql-basin-1`.orders ORDER BY seq_num")
      .collect().map(_.getString(0)).toSeq
    assert(bodies == Seq("o1", "o2", "o3"))

    // DDL maps to the control plane
    spark.sql("CREATE TABLE graft.`sql-basin-1`.clicks")
    assert(st.catalog.getStream("sql-basin-1", "clicks").isDefined)
    st.append("sql-basin-1", "clicks",
      AppendInput(Seq(EnvelopeRecord(Nil, "c1".getBytes))), Some(1000L))
    assert(spark.sql("SELECT count(*) FROM graft.`sql-basin-1`.clicks")
      .first().getLong(0) == 1L)
    spark.sql("DROP TABLE graft.`sql-basin-1`.clicks")
    assert(st.catalog.getStream("sql-basin-1", "clicks").isEmpty)

    // trim masking holds through SQL
    st.append("sql-basin-1", "orders", AppendInput(Seq(TrimCommand(2L))), Some(2000L))
    val seqs = spark.sql(
      "SELECT seq_num FROM graft.`sql-basin-1`.orders ORDER BY seq_num")
      .collect().map(_.getLong(0)).toSeq
    assert(seqs == Seq(2L, 3L)) // 3 = the trim command record

    // TBLPROPERTIES configure the stream through the config codec
    spark.sql("CREATE TABLE graft.`sql-basin-1`.archived " +
      "TBLPROPERTIES('retention_age_secs'='3600')")
    assert(st.catalog.getStream("sql-basin-1", "archived")
      .exists(_.config.get("retention_age_secs").contains("3600")))

    // DROP NAMESPACE refuses a non-empty basin without CASCADE
    intercept[Exception] {
      spark.sql("DROP NAMESPACE graft.`sql-basin-1`")
    }
    assert(st.catalog.getBasin("sql-basin-1").isDefined)
    spark.sql("DROP NAMESPACE graft.`sql-basin-1` CASCADE")
    assert(st.catalog.getBasin("sql-basin-1").isEmpty)
  }
}
