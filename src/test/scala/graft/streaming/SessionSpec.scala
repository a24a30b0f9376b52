package graft.streaming

import java.nio.file.Files
import scala.concurrent.Await
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.log.{AppendSession, BackendHarness, StreamStore}
import graft.model._

/** A8 poison/ordered-ack + R8 wait-budget/heartbeat session tests,
  * porting the reference matrices (append.rs:95-273 poison typestate;
  * read.rs:603-928 + read_follow.rs wait/heartbeat/limit cases) onto a
  * virtual clock.
  */
class SessionSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def freshStore(): StreamStore = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-session").toString)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st
  }

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  // ---- A8 append session ----

  test("A8: failed append poisons the session; later submits never ack (append.rs:95-273)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "sess")
    val sess = new AppendSession(st, "test-basin", "sess", Some(1000L))
    val f1 = sess.submit(AppendInput(Seq(env("a"))))
    val f2 = sess.submit(AppendInput(Seq(env("b")), matchSeqNum = Some(999))) // CAS fails
    val f3 = sess.submit(AppendInput(Seq(env("c")))) // valid, but must be poisoned
    val r1 = Await.result(f1, 30.seconds)
    val r2 = Await.result(f2, 30.seconds)
    val r3 = Await.result(f3, 30.seconds)
    assert(r1.toOption.get.start.seqNum == 0)
    assert(r2 == Left(sess.SessionError.Append(AppendError.SeqNumMismatch(999, 1))))
    assert(r3 == Left(sess.SessionError.SessionPoisoned))
    // a brand-new submit after the poison also fails
    val r4 = Await.result(sess.submit(AppendInput(Seq(env("d")))), 30.seconds)
    assert(r4 == Left(sess.SessionError.SessionPoisoned))
    sess.close()
    // the store state reflects exactly the pre-failure prefix
    assert(st.checkTail("test-basin", "sess").seqNum == 1)
  }

  test("A8: acks release in submission order and reflect durable state") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "ord")
    val sess = new AppendSession(st, "test-basin", "ord", Some(1000L))
    val futures = (0 until 10).map(i => sess.submit(AppendInput(Seq(env(s"m$i")))))
    val acks = futures.map(f => Await.result(f, 30.seconds).toOption.get)
    sess.close()
    // contiguous, ordered ranges: ack i covers [i, i+1)
    acks.zipWithIndex.foreach { case (a, i) =>
      assert(a.start.seqNum == i && a.end.seqNum == i + 1)
    }
    assert(st.checkTail("test-basin", "ord").seqNum == 10)
  }

  // ---- R8 read session ----

  private class VClock(var now: Long = 0L) { def apply(): Long = now }

  private def session(st: StreamStore, stream: String, clock: VClock,
                      waitMs: Option[Long] = None,
                      limit: ReadLimit = ReadLimit(),
                      until: Option[Long] = None,
                      hbMs: Long = 10L) =
    new ReadSession(st, "test-basin", stream, 0L, limit, until, waitMs,
      () => clock.now, () => hbMs)

  test("R8: transition from catch-up to follow emits batches then heartbeat (read_follow.rs:454)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "f1")
    st.append("test-basin", "f1", AppendInput(Seq(env("a"), env("b"))), Some(100L))
    val clock = new VClock
    val s = session(st, "f1", clock)
    val b = s.poll().asInstanceOf[s.Event.Batch]
    assert(b.records.map(_.seqNum) == Seq(0L, 1L))
    assert(s.poll().isInstanceOf[s.Event.Heartbeat])
    // live data resumes delivery
    st.append("test-basin", "f1", AppendInput(Seq(env("c"))), Some(100L))
    val b2 = s.poll().asInstanceOf[s.Event.Batch]
    assert(b2.records.map(_.seqNum) == Seq(2L))
  }

  test("R8: wait budget is armed at tail and NOT extended by heartbeats (read.rs:603-680)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "w1")
    val clock = new VClock
    val s = session(st, "w1", clock, waitMs = Some(30L), hbMs = 10L)
    // empty stream: immediately at tail -> arm deadline at 30, heartbeat
    assert(s.poll().isInstanceOf[s.Event.Heartbeat])
    clock.now = 10
    assert(s.poll().isInstanceOf[s.Event.Heartbeat]) // cadence heartbeat
    clock.now = 20
    assert(s.poll().isInstanceOf[s.Event.Heartbeat])
    clock.now = 30 // heartbeats did not move the deadline
    assert(s.poll() == s.Event.Closed("wait_expired"))
  }

  test("R8: delivered batch resets the wait budget; heartbeat does not (read.rs:683-760)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "w2")
    val clock = new VClock
    val s = session(st, "w2", clock, waitMs = Some(30L), hbMs = 100L)
    assert(s.poll().isInstanceOf[s.Event.Heartbeat]) // armed at 0 -> deadline 30
    clock.now = 20
    st.append("test-basin", "w2", AppendInput(Seq(env("x"))), Some(100L))
    assert(s.poll().isInstanceOf[s.Event.Batch]) // resets deadline to 50
    clock.now = 40 // would have expired under the original deadline
    assert(s.poll() != s.Event.Closed("wait_expired"))
    clock.now = 50
    assert(s.poll() == s.Event.Closed("wait_expired"))
  }

  test("R8: no wait configured means the session never closes at tail (read.rs:977)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "w3")
    val clock = new VClock
    val s = session(st, "w3", clock, waitMs = None, hbMs = 10L)
    (0 until 5).foreach { i =>
      clock.now = i * 10L
      val e = s.poll()
      assert(e.isInstanceOf[s.Event.Heartbeat] || e == s.Event.Idle)
    }
  }

  test("R8: count limit closes the session exactly at the limit (read_follow.rs:578,637)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "c1")
    st.append("test-basin", "c1", AppendInput((0 until 5).map(i => env(s"r$i"))), Some(100L))
    val clock = new VClock
    val s = session(st, "c1", clock, limit = ReadLimit(count = Some(3)))
    val b = s.poll().asInstanceOf[s.Event.Batch]
    assert(b.records.map(_.seqNum) == Seq(0L, 1L, 2L))
    assert(s.poll() == s.Event.Closed("limit_exhausted"))
  }

  test("R8: bytes limit smaller than the first record closes without a batch (read_follow.rs:810)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "b1")
    st.append("test-basin", "b1", AppendInput(Seq(env("x" * 100))), Some(100L))
    val clock = new VClock
    val s = session(st, "b1", clock, limit = ReadLimit(bytes = Some(50)))
    assert(s.poll().isInstanceOf[s.Event.Closed])
  }

  test("R8: bytes limit truncates the batch then closes (read_follow.rs:743)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "b2")
    // 5 records of 108 metered bytes; budget fits exactly 2
    st.append("test-basin", "b2",
      AppendInput((0 until 5).map(_ => env("x" * 100))), Some(100L))
    val clock = new VClock
    val s = session(st, "b2", clock, limit = ReadLimit(bytes = Some(216)))
    val b = s.poll().asInstanceOf[s.Event.Batch]
    assert(b.records.map(_.seqNum) == Seq(0L, 1L))
    assert(s.poll().isInstanceOf[s.Event.Closed])
  }

  test("R8: until bound truncates delivery and closes (read_follow.rs:869)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "u1")
    st.append("test-basin", "u1", AppendInput(Seq(env("a"), env("b"))), Some(100L),
      ) // ts 100
    st.append("test-basin", "u1", AppendInput(Seq(env("c"))), Some(200L)) // ts 200
    val clock = new VClock
    val s = session(st, "u1", clock, until = Some(150L))
    val b = s.poll().asInstanceOf[s.Event.Batch]
    assert(b.records.map(_.seqNum) == Seq(0L, 1L))
    assert(s.poll().isInstanceOf[s.Event.Closed])
  }

  test("A8: a THROWN append failure still poisons and completes futures (no hang)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "boom")
    // make the data dir path un-creatable: a FILE where the dir must go
    val dataDir = java.nio.file.Paths.get(
      graft.log.Layout.dataDir(st.root, "test-basin", "boom"))
    Files.createDirectories(dataDir.getParent)
    Files.writeString(dataDir, "not a directory")
    val sess = new AppendSession(st, "test-basin", "boom", Some(1000L))
    val f1 = sess.submit(AppendInput(Seq(env("a"))))
    val f2 = sess.submit(AppendInput(Seq(env("b"))))
    val r1 = Await.result(f1, 30.seconds)
    val r2 = Await.result(f2, 30.seconds)
    assert(r1.isLeft) // completed with an error, not hung
    assert(r2 == Left(sess.SessionError.SessionPoisoned))
    sess.close()
  }

  test("R8: retention-masked prefix is skipped, not treated as a close") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "ret",
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Age(60)))) // 60 s
    // all records far older than the cutoff at poll time
    st.append("test-basin", "ret", AppendInput(Seq(env("old1"), env("old2")),
      clientTimestamps = Seq(Some(1000L), Some(1000L))), Some(1000L))
    val clock = new VClock(1000000L) // cutoff = 940000 > 1000
    val s = new ReadSession(st, "test-basin", "ret", 0L, ReadLimit(), None,
      None, () => clock.now, () => 10L)
    // old behavior closed with "until_or_limit"; correct behavior is to
    // skip the expired prefix and enter follow mode at the tail
    assert(s.poll().isInstanceOf[s.Event.Heartbeat])
    // fresh (unexpired) data resumes delivery — retention visibility
    // uses wall-clock, so the new record carries a current timestamp
    val wallNow = System.currentTimeMillis()
    st.append("test-basin", "ret", AppendInput(Seq(env("new")),
      clientTimestamps = Seq(Some(wallNow))), Some(wallNow))
    val b = s.poll().asInstanceOf[s.Event.Batch]
    assert(b.records.map(_.seqNum) == Seq(2L))
  }

  test("R8: trimmed range is skipped like a catch-up scan over missing keys") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "t1")
    st.append("test-basin", "t1", AppendInput((0 until 6).map(i => env(s"r$i"))), Some(100L))
    st.append("test-basin", "t1", AppendInput(Seq(TrimCommand(4))), Some(100L))
    val clock = new VClock
    val s = session(st, "t1", clock)
    val b = s.poll().asInstanceOf[s.Event.Batch]
    // trim dropped 0..3; the trim command itself (seq 6) is visible
    assert(b.records.map(_.seqNum) == Seq(4L, 5L, 6L))
  }
}
