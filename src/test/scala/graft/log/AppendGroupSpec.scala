package graft.log

import java.nio.file.Files
import java.util.concurrent.CountDownLatch
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._

/** A8 pipelining (group commit) contract — StreamStore.appendGroup +
  * the AppendSession drain that feeds it. Reference design: appends
  * are pipelined against object-storage latency (README:176), acks
  * release in order behind a shared durability watermark
  * (lite/src/backend/append.rs:137-202 PendingAppends.on_stable), and
  * the storage submit is one atomic WriteBatch
  * (lite/src/backend/streamer.rs:1010-1070).
  */
class AppendGroupSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def freshStore(): StreamStore = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-group").toString)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st
  }

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  test("a valid group commits under ONE manifest CAS; acks are " +
    "contiguous and all carry the group-final durable tail") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "g1")
    val v0 = st.manifest("test-basin", "g1").version
    val (acks, failure) = st.appendGroup("test-basin", "g1", Seq(
      AppendInput(Seq(env("a"), env("b"))),
      AppendInput(Seq(env("c"))),
      AppendInput(Seq(env("d"), env("e"), env("f")))), Some(1000L))
    assert(failure.isEmpty)
    assert(acks.map(a => (a.start.seqNum, a.end.seqNum)) ==
      Seq((0L, 2L), (2L, 3L), (3L, 6L)))
    // the durability watermark: every ack reports the COMMITTED tail
    // (on_stable completes all pending acks with one stable position)
    assert(acks.forall(_.tail.seqNum == 6L))
    // exactly one manifest commit for the whole group
    assert(st.manifest("test-basin", "g1").version == v0 + 1)
    assert(st.checkTail("test-basin", "g1").seqNum == 6L)
    // and exactly one data object holds the group
    val dir = java.nio.file.Paths.get(
      Layout.genDir(st.root, "test-basin", "g1", 0L))
    val s = Files.list(dir)
    val n = try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
            finally s.close()
    assert(n == 1, s"group wrote $n objects, expected 1")
    val rows = st.readBatch("test-basin", "g1",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(r => new String(r.body)) == Seq("a", "b", "c", "d", "e", "f"))
  }

  test("first invalid batch stops the group: valid prefix commits, " +
    "failure index and error match the serial loop's") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "g2")
    val (acks, failure) = st.appendGroup("test-basin", "g2", Seq(
      AppendInput(Seq(env("a"))),
      AppendInput(Seq(env("b")), matchSeqNum = Some(999)), // wrong tail
      AppendInput(Seq(env("c")))), Some(1000L))
    assert(acks.size == 1 && acks.head.end.seqNum == 1L)
    assert(failure.contains((1, AppendError.SeqNumMismatch(999, 1))))
    assert(st.checkTail("test-basin", "g2").seqNum == 1L)
  }

  test("in-group fence command is visible to LATER batches' fencing " +
    "validation (rolled state, like the serial loop)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "g3")
    val (acks, failure) = st.appendGroup("test-basin", "g3", Seq(
      AppendInput(Seq(FenceCommand("tok-1"))),
      AppendInput(Seq(env("ok")), fencingToken = Some("tok-1")),
      AppendInput(Seq(env("bad")), fencingToken = Some("stale"))), Some(1000L))
    assert(acks.size == 2)
    assert(failure.contains((2, AppendError.FencingTokenMismatch("tok-1"))))
    assert(st.checkTail("test-basin", "g3").seqNum == 2L)
  }

  test("a batch failing TimestampMissing mid-validation leaves NO trace " +
    "in the committed prefix's tail timestamp") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "g4", StreamConfig(
      timestamping = Some(Timestamping(TimestampingMode.ClientRequire,
        uncapped = true))))
    val (acks, failure) = st.appendGroup("test-basin", "g4", Seq(
      AppendInput(Seq(env("a")), clientTimestamps = Seq(Some(2000L))),
      // first record carries a HUGE timestamp, second is missing: the
      // batch fails, and its 9999999 must not leak into tailTs
      AppendInput(Seq(env("x"), env("y")),
        clientTimestamps = Seq(Some(9999999L), None))), Some(1000L))
    assert(acks.size == 1)
    assert(failure.contains((1, AppendError.TimestampMissing)))
    assert(st.checkTail("test-basin", "g4").timestamp == 2000L)
  }

  test("session drain GROUPS a backlog behind one barrier: N quick " +
    "submissions while the first commit is stalled -> 2 manifest commits") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "g5")
    val firstCommitEntered = new CountDownLatch(1)
    val backlogQueued = new CountDownLatch(1)
    @volatile var stall = true
    st.beforeManifestCommit = () => {
      if (stall) {
        stall = false
        firstCommitEntered.countDown()
        // hold the FIRST group's commit until the backlog is queued,
        // so the second drain round must see all remaining batches
        backlogQueued.await()
      }
    }
    try {
      val sess = new AppendSession(st, "test-basin", "g5", Some(1000L))
      val f0 = sess.submit(AppendInput(Seq(env("m0"))))
      firstCommitEntered.await()
      val rest = (1 until 10).map(i => sess.submit(AppendInput(Seq(env(s"m$i")))))
      backlogQueued.countDown()
      val acks = (f0 +: rest).map(f => Await.result(f, 30.seconds).toOption.get)
      sess.close()
      acks.zipWithIndex.foreach { case (a, i) =>
        assert(a.start.seqNum == i && a.end.seqNum == i + 1)
      }
      // group 1 = {m0}, group 2 = {m1..m9}: exactly 2 commits
      assert(st.manifest("test-basin", "g5").version == 2,
        s"expected 2 manifest commits, saw ${st.manifest("test-basin", "g5").version}")
      assert(st.checkTail("test-basin", "g5").seqNum == 10L)
    } finally st.beforeManifestCommit = () => ()
  }

  test("group CAS conflict retries the WHOLE group in place and leaves " +
    "no duplicate seq_nums") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "g6")
    // a foreign manifest write lands between the group's manifest read
    // and its CAS (etags are content hashes, so any byte change
    // invalidates the group's tag) -> the conditional put must fail,
    // the group's object must die, and the session's in-place retry
    // must re-drive the group against the fresh manifest
    @volatile var raced = false
    st.beforeManifestCommit = () => {
      if (!raced) {
        raced = true
        val key = Layout.statePath(st.root, "test-basin", "g6").toString
        val cur = st.manifest("test-basin", "g6")
        st.backend.putMeta(key,
          Layout.toJsonString(cur.copy(version = cur.version + 7)))
      }
    }
    try {
      val sess = new AppendSession(st, "test-basin", "g6", Some(1000L),
        retryBackoffMs = 1)
      val f1 = sess.submit(AppendInput(Seq(env("a"))))
      val f2 = sess.submit(AppendInput(Seq(env("b"))))
      val r1 = Await.result(f1, 30.seconds)
      val r2 = Await.result(f2, 30.seconds)
      sess.close()
      assert(r1.isRight && r2.isRight, s"group retry failed: $r1 / $r2")
      val rows = st.readBatch("test-basin", "g6",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      assert(rows.map(_.seqNum) == Seq(0L, 1L))
      assert(rows.map(r => new String(r.body)) == Seq("a", "b"))
    } finally st.beforeManifestCommit = () => ()
  }
}
