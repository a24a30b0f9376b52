package graft.log

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.model._

/** Task-retry/speculation safety of the committer-free staged bulk
  * ingest (StreamStore.selectStagedFiles). On a real cluster
  * (spark.task.maxFailures=4, or speculation on) a task that dies
  * mid-write leaves a TORN file at the final staged path, and its
  * retry writes a complete DUPLICATE twin beside it — the per-stream
  * commit must publish exactly one copy and no torn bytes, exactly
  * what a Hadoop committer would have promoted. Reference analog: the
  * storage submit is a single atomic WriteBatch
  * (lite/src/backend/streamer.rs:1010-1070).
  */
class StagedCommitSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def freshStore(): StreamStore = {
    val dir = BackendHarness.tempDir("graft-staged").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st
  }

  private def recs(seqs: Range, tag: String): Seq[DirectParquet.Rec] =
    seqs.map(i => DirectParquet.Rec(i.toLong, 9000L + i, Nil,
      s"$tag-$i".getBytes, 10L))

  /** Write a complete staged file, then truncate it mid-body so the
    * parquet footer (and tail magic) is gone — the on-disk shape of a
    * task attempt killed mid-write. */
  private def plantTorn(dir: String, seqs: Range): Unit = {
    val f = DirectParquet.writeIter(dir, recs(seqs, "torn").iterator)
    val p = Paths.get(f)
    val size = Files.size(p)
    val ch = java.nio.channels.FileChannel.open(p,
      StandardOpenOption.WRITE)
    try ch.truncate(math.max(8L, size / 2)) finally ch.close()
  }

  // ---------------------------------------------------------------
  // Unit level: the selector itself
  // ---------------------------------------------------------------

  test("selectStagedFiles drops torn attempt leavings and exact retry " +
    "twins, keeping one dense tiling of [plannedTail, newTail)") {
    val dir = BackendHarness.tempDir("sel").toString
    val a = DirectParquet.writeIter(dir, recs(2 until 5, "a").iterator)
    val aTwin = DirectParquet.writeIter(dir, recs(2 until 5, "a").iterator)
    val b = DirectParquet.writeIter(dir, recs(5 until 8, "b").iterator)
    plantTorn(dir, 5 until 8) // the dead first attempt of b's partition
    val staged = Files.list(Paths.get(dir)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(staged.size == 4)
    val picked = StreamStore.selectStagedFiles(staged, 2L, 8L, "b0", "s0")
    assert(picked.size == 2, s"picked ${picked.map(_.path)}")
    assert(picked.map(f => (f.minSeq, f.maxSeq)) == Seq((2L, 4L), (5L, 7L)))
    // exactly one of the twins survives
    assert(picked.map(_.path).count(Set(a, aTwin)) == 1)
    assert(picked.map(_.path).contains(b))
  }

  test("selectStagedFiles aborts on a coverage gap (lost staged file)") {
    val dir = BackendHarness.tempDir("sel-gap").toString
    DirectParquet.writeIter(dir, recs(0 until 3, "a").iterator)
    // [3,6) missing
    DirectParquet.writeIter(dir, recs(6 until 9, "c").iterator)
    val staged = Files.list(Paths.get(dir)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    val ex = intercept[IllegalStateException] {
      StreamStore.selectStagedFiles(staged, 0L, 9L, "b0", "s0")
    }
    assert(ex.getMessage.contains("expected a dense file starting at seq 3"))
  }

  test("selectStagedFiles aborts on short coverage (all files present " +
    "but the tail is not reached)") {
    val dir = BackendHarness.tempDir("sel-short").toString
    DirectParquet.writeIter(dir, recs(0 until 3, "a").iterator)
    val staged = Files.list(Paths.get(dir)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    val ex = intercept[IllegalStateException] {
      StreamStore.selectStagedFiles(staged, 0L, 5L, "b0", "s0")
    }
    assert(ex.getMessage.contains("coverage gap"))
  }

  test("selectStagedFiles aborts on a partial overlap (not an exact " +
    "twin — an invariant violation, never silently resolved)") {
    val dir = BackendHarness.tempDir("sel-ovl").toString
    DirectParquet.writeIter(dir, recs(0 until 4, "a").iterator)
    DirectParquet.writeIter(dir, recs(2 until 6, "b").iterator)
    val staged = Files.list(Paths.get(dir)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    val ex = intercept[IllegalStateException] {
      StreamStore.selectStagedFiles(staged, 0L, 6L, "b0", "s0")
    }
    assert(ex.getMessage.contains("invariant violated"))
  }

  test("selectStagedFiles rejects a file whose rows are not dense " +
    "(rows != max-min+1)") {
    val dir = BackendHarness.tempDir("sel-sparse").toString
    // seqs 0,2 in one file: footer says [0,2] rows=2 — a corrupt write
    DirectParquet.writeIter(dir, Seq(
      DirectParquet.Rec(0L, 1L, Nil, "x".getBytes, 1L),
      DirectParquet.Rec(2L, 2L, Nil, "y".getBytes, 1L)).iterator)
    val staged = Files.list(Paths.get(dir)).toArray.toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    val ex = intercept[IllegalStateException] {
      StreamStore.selectStagedFiles(staged, 0L, 3L, "b0", "s0")
    }
    assert(ex.getMessage.contains("invariant violated"))
  }

  // ---------------------------------------------------------------
  // End-to-end: a real ingest with retry leavings planted between the
  // staged write and the commit (the beforeStagedCommit hook stands in
  // for Spark's attempt-level duplication, which local[*] with
  // maxFailures=1 cannot produce).
  // ---------------------------------------------------------------

  private def bulkDf(stream: String, n: Int) = {
    import spark.implicits._
    (0 until n).map(i => ("test-basin", stream, 1000L + i, s"v-$i"))
      .toDF("basin", "stream", "ts_client", "b")
      .selectExpr("basin", "stream", "ts_client",
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(b AS BINARY) AS body", "CAST(ts_client AS BIGINT) AS arrival")
  }

  test("e2e: ingest with a planted torn file AND a duplicate retry twin " +
    "publishes exactly one copy and no torn bytes") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "retry")
    st.beforeStagedCommit = { stage =>
      val sdir = Layout.stageDir(stage, "test-basin", "retry")
      val staged = Files.list(Paths.get(sdir)).toArray.toSeq
        .map(_.toString).filter(_.endsWith(".parquet"))
      assert(staged.nonEmpty, "staged write produced no files")
      // the retry twin: an exact duplicate of the real staged output
      val first = FileIndex.tryStats(staged.head).get
      val twinRecs = (first.minSeq to first.maxSeq).map(i =>
        DirectParquet.Rec(i, 9000L + i, Nil, s"twin-$i".getBytes, 10L))
      DirectParquet.writeIter(sdir, twinRecs.iterator)
      // the torn leavings of the attempt that died mid-write
      plantTorn(sdir, 0 until 3)
    }
    try {
      val acks = st.ingest(bulkDf("retry", 8), Some(99999L))
      assert(acks(("test-basin", "retry")).tail.seqNum == 8L)
    } finally st.beforeStagedCommit = _ => ()
    val rows = st.readBatch("test-basin", "retry",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(_.seqNum) == (0L until 8L),
      s"dup or torn rows published: ${rows.map(_.seqNum)}")
    // every published body is from ONE attempt (no twin/original mix is
    // required by the contract, but bodies must be the real records —
    // the planted twin is distinguishable by its "twin-" prefix, and
    // either attempt's output is a legal winner; what is ILLEGAL is
    // seeing both, which the seq assertion above already excludes)
    assert(rows.map(r => new String(r.body)).distinct.size == 8)
  }

  test("e2e: a staged file that VANISHES before commit aborts the " +
    "ingest (coverage gap), leaving the stream untouched") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "vanish")
    st.beforeStagedCommit = { stage =>
      val sdir = Layout.stageDir(stage, "test-basin", "vanish")
      val staged = Files.list(Paths.get(sdir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
      Files.delete(staged.head)
    }
    try {
      val ex = intercept[IllegalStateException] {
        st.ingest(bulkDf("vanish", 8), Some(99999L))
      }
      assert(ex.getMessage.contains("staged ingest"))
    } finally st.beforeStagedCommit = _ => ()
    assert(st.checkTail("test-basin", "vanish").seqNum == 0L,
      "aborted ingest moved the tail")
    // clean retry lands
    st.ingest(bulkDf("vanish", 8), Some(99999L))
    assert(st.checkTail("test-basin", "vanish").seqNum == 8L)
  }
}
