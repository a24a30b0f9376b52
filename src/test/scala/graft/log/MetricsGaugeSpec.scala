package graft.log


import org.apache.spark.sql.functions.sum
import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** The /v1/metrics storage gauge's driver-side fast path (VERDICT r17
  * #5): `storageBytesFast`/`basinStorageBytesFast` must equal the
  * full Spark scan (`visible`/`visibleBasin` Σ metered_size) on a
  * live store across every boundary class the per-file decision has —
  * trim point inside a file, Age-retention cutoff inside a file,
  * wholly-visible files (served from the cached per-file sums, no row
  * scan), a compacted generation, and the empty stream. The scan
  * stays in the suite as the spec's cross-check; the serving edge
  * itself runs only the fast path.
  */
class MetricsGaugeSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes("UTF-8"))

  private def scanBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val r = df.agg(sum("metered_size")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  private def freshStore(): StreamStore = {
    val st = new StreamStore(spark, BackendHarness.tempDir("graft-gauge").toString)
    st.catalog.createBasin("gauge-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st
  }

  test("stream gauge == Spark scan with a mid-file trim point, across compaction") {
    val st = freshStore()
    st.catalog.createStream("gauge-basin", "t")
    // three files of 10 records each (one per append commit)
    (0 until 3).foreach { f =>
      st.append("gauge-basin", "t",
        AppendInput((0 until 10).map(i => env(s"file$f-rec$i-payload"))),
        Some(1000000L)).fold(e => fail(e.toString), identity)
    }
    // empty-stream baseline on a sibling
    st.catalog.createStream("gauge-basin", "empty")
    assert(st.storageBytesFast("gauge-basin", "empty") == 0L)
    // fully visible: interior files decided by cached sums only
    assert(st.storageBytesFast("gauge-basin", "t") ==
      scanBytes(st.visible("gauge-basin", "t")))
    // trim lands INSIDE file 0 (seq 4): file 0 becomes a boundary
    // row-scan, files 1-2 stay sum-served — and the trim command row
    // itself (seq 30, in a 4th file) counts as visible, like the scan
    st.append("gauge-basin", "t", AppendInput(Seq(TrimCommand(4))), Some(1000000L))
      .fold(e => fail(e.toString), identity)
    val afterTrim = scanBytes(st.visible("gauge-basin", "t"))
    assert(st.storageBytesFast("gauge-basin", "t") == afterTrim)
    // compaction flips the generation and physically drops the trimmed
    // prefix; the gauge follows the new file set
    st.compact("gauge-basin", "t")
    assert(st.storageBytesFast("gauge-basin", "t") == afterTrim)
    assert(st.storageBytesFast("gauge-basin", "t") ==
      scanBytes(st.visible("gauge-basin", "t")))
  }

  test("stream gauge == Spark scan with an Age-retention cutoff inside a file") {
    val st = freshStore()
    st.catalog.createStream("gauge-basin", "ret",
      StreamConfig(
        retentionPolicy = Some(RetentionPolicy.Age(10)), // 10 s
        timestamping = Some(Timestamping(TimestampingMode.ClientRequire,
          uncapped = true))))
    // one file whose timestamps straddle the cutoff at now=55s
    st.append("gauge-basin", "ret", AppendInput(
      Seq(env("old-a"), env("old-b"), env("new-a"), env("new-b")),
      clientTimestamps = Seq(Some(1000L), Some(2000L), Some(50000L), Some(51000L))),
      Some(1000L)).fold(e => fail(e.toString), identity)
    val now = Some(55000L)
    assert(st.storageBytesFast("gauge-basin", "ret", now) ==
      scanBytes(st.visible("gauge-basin", "ret", now)))
    // and the cutoff really bit: before expiry the same stream gauges
    // strictly larger (so the equality above covered a boundary scan,
    // not a vacuous whole-file case)
    val before = Some(5000L) // cutoff -5000: nothing expired yet
    assert(st.storageBytesFast("gauge-basin", "ret", before) >
      st.storageBytesFast("gauge-basin", "ret", now))
    assert(st.storageBytesFast("gauge-basin", "ret", before) ==
      scanBytes(st.visible("gauge-basin", "ret", before)))
  }

  test("basin gauge == Spark scan over mixed streams") {
    val st = freshStore()
    Seq("s1", "s2", "s3").foreach(s => st.catalog.createStream("gauge-basin", s))
    st.append("gauge-basin", "s1", AppendInput((0 until 7).map(i => env(s"a$i"))),
      Some(1000000L)).fold(e => fail(e.toString), identity)
    st.append("gauge-basin", "s2", AppendInput((0 until 5).map(i => env(s"b$i"))),
      Some(1000000L)).fold(e => fail(e.toString), identity)
    st.append("gauge-basin", "s2", AppendInput(Seq(TrimCommand(2))), Some(1000000L))
      .fold(e => fail(e.toString), identity)
    // s3 stays empty
    assert(st.basinStorageBytesFast("gauge-basin") ==
      scanBytes(st.visibleBasin("gauge-basin")))
  }

  test("one bulk ingest adds exactly one observation to each ingest phase timer") {
    val st = freshStore()
    Seq("i0", "i1").foreach(s => st.catalog.createStream("gauge-basin", s))
    import spark.implicits._
    val df = Seq(("i0", 1L), ("i1", 2L), ("i0", 3L)).toDF("stream", "arrival")
      .select(org.apache.spark.sql.functions.lit("gauge-basin").as("basin"),
        $"stream", org.apache.spark.sql.functions.lit(null).cast("long").as("ts_client"),
        org.apache.spark.sql.functions.expr(
          "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
        org.apache.spark.sql.functions.expr("CAST('x' AS BINARY)").as("body"),
        $"arrival")
    val phases = Seq(ServerMetrics.ingestCount, ServerMetrics.ingestPlan,
      ServerMetrics.ingestWrite, ServerMetrics.ingestCommit)
    val before = phases.map(_.count)
    assert(st.ingest(df, Some(1000000L)).size == 2)
    assert(phases.map(_.count) == before.map(_ + 1))
    val text = ServerMetrics.gather()
    Seq("count", "plan", "write", "commit").foreach { p =>
      assert(text.contains(s"# TYPE graft_ingest_${p}_seconds histogram"), p)
      assert(text.contains(s"graft_ingest_${p}_seconds_count "), p)
    }
  }
}
