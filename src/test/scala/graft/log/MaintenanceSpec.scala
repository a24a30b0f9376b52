package graft.log

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.model._

/** Maintenance tick (bgtasks/mod.rs analog): physical trim, retention
  * reclaim, terminal deletion, DoE sweep — idempotent, skip-if-clean.
  * Plus the GraftExtensions SQL registration.
  */
class MaintenanceSpec extends AnyFunSuite with LocalSpark {

  override protected def conf =
    Seq("spark.sql.extensions" -> "graft.GraftExtensions")

  private def freshStore(): StreamStore = {
    val st = new StreamStore(spark,
      Files.createTempDirectory("graft-maint").toString)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st
  }

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  test("tick compacts pending trims once, then skips clean streams") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "t")
    st.catalog.createStream("test-basin", "clean")
    (0 until 5).foreach(_ =>
      st.append("test-basin", "t", AppendInput((0 until 10).map(i => env(s"r$i"))), Some(1000L)))
    st.append("test-basin", "clean", AppendInput(Seq(env("x"))), Some(1000L))
    st.append("test-basin", "t", AppendInput(Seq(TrimCommand(30))), Some(1000L))
    val maint = new Maintenance(st, () => Seq("test-basin"))

    val r1 = maint.runOnce(Some(2000L))
    assert(r1.compacted == Seq(("test-basin", "t"))) // clean stream skipped
    // physically reclaimed: no file below the trim point remains
    val stats = FileIndex.listStats(Layout.genDir(st.root, "test-basin", "t",
      st.manifest("test-basin", "t").generation))
    assert(stats.nonEmpty && stats.head.minSeq >= 30)
    assert(st.manifest("test-basin", "t").reclaimedTo == 30)
    // reads unchanged
    val rows = st.readBatch("test-basin", "t",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.head.seqNum == 30)

    // second tick: nothing left to do
    val r2 = maint.runOnce(Some(3000L))
    assert(r2.compacted.isEmpty && r2.doeDeleted.isEmpty)
  }

  test("tick reclaims age-expired files and finishes terminal deletions") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "aged",
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Age(60)))) // 60 s
    st.catalog.createStream("test-basin", "gone")
    // two files: one fully old, one fresh (client ts, uncapped not needed
    // since ts < now)
    st.append("test-basin", "aged", AppendInput(Seq(env("old")),
      clientTimestamps = Seq(Some(1000L))), Some(1000L))
    st.append("test-basin", "aged", AppendInput(Seq(env("new")),
      clientTimestamps = Seq(Some(200000L))), Some(200000L))
    st.append("test-basin", "gone", AppendInput(Seq(env("x"))), Some(1000L))
    st.deleteStream("test-basin", "gone")

    val maint = new Maintenance(st, () => Seq("test-basin"))
    val r = maint.runOnce(Some(200000L)) // cutoff = 140000 > old file's ts
    assert(r.compacted.toSet == Set(("test-basin", "aged"), ("test-basin", "gone")))
    val stats = FileIndex.listStats(Layout.genDir(st.root, "test-basin", "aged",
      st.manifest("test-basin", "aged").generation))
    assert(stats.forall(_.minTs >= 140000L)) // expired file physically gone
    assert(st.catalog.getStream("test-basin", "gone").isEmpty) // hard-deleted
  }

  test("tick runs the delete-on-empty sweep (T3)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "doe",
      StreamConfig(deleteOnEmpty = Some(DeleteOnEmpty(10)))) // 10 s min age
    st.append("test-basin", "doe", AppendInput(Seq(TrimCommand(Long.MaxValue - 1))), Some(1000L))
    val maint = new Maintenance(st, () => Seq("test-basin"))
    val r = maint.runOnce(Some(100000L)) // idle 99 s > 10 s, no visible records
    assert(r.doeDeleted.contains(("test-basin", "doe")))
  }

  test("GraftExtensions registers metered_size for SQL sessions") {
    import spark.implicits._
    val df = Seq(("abc", "de")).toDF("a", "b")
      .selectExpr("CAST(a AS BINARY) AS body", "b")
      .selectExpr(
        "metered_size(CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>), body) AS m")
    assert(df.head().getLong(0) == 8L + 3L) // 8 + 0 headers + len("abc")
  }

  test("GraftExtensions registers cosine_sim for SQL sessions") {
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(3 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(3 AS FLOAT), CAST(0 AS FLOAT)))").head().getDouble(0)
    assert(r == 1.0)
  }
}
