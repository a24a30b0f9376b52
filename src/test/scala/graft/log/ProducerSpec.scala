package graft.log

import java.nio.file.Files
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._

/** A10 producer: per-record acks, batching, match_seq_num chaining,
  * permit-based flow control (A11), terminal-error poisoning; M5
  * server-metrics histograms (sdk/src/producer.rs, lite/src/metrics.rs).
  */
class ProducerSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def freshStore(): StreamStore = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-prod").toString)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st
  }

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  test("per-record acks carry each record's own seq_num across batch boundaries") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p1")
    val p = new Producer(st, "test-basin", "p1", maxRecords = 10,
      nowMs = Some(1000L))
    val futs = (0 until 25).map(i => p.submit(env(s"r$i")))
    p.close()
    val acks = futs.map(f => Await.result(f, 30.seconds).toOption.get)
    assert(acks.map(_.seqNum) == (0L until 25L))
    // batch acks group contiguously and cover each record's seq
    acks.foreach(a =>
      assert(a.seqNum >= a.batch.start.seqNum && a.seqNum < a.batch.end.seqNum))
    assert(st.checkTail("test-basin", "p1").seqNum == 25)
  }

  test("match_seq_num chains across producer batches (batching.rs:138-159)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p2")
    val p = new Producer(st, "test-basin", "p2", maxRecords = 4,
      initialMatchSeqNum = Some(0L), nowMs = Some(1000L))
    val futs = (0 until 10).map(i => p.submit(env(s"r$i")))
    p.close()
    assert(futs.forall(f => Await.result(f, 30.seconds).isRight))
    assert(st.checkTail("test-basin", "p2").seqNum == 10)
  }

  test("permit flow control: unacked bytes never exceed the budget (A11)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p3")
    val budget = 1024L * 1024
    val p = new Producer(st, "test-basin", "p3", maxUnackedBytes = budget,
      nowMs = Some(1000L))
    // 12 records x 300 KiB metered: submission must block rather than
    // let in-flight bytes pass 1 MiB
    val body = "x" * (300 * 1024)
    val futs = (0 until 12).map(_ => p.submit(env(body)))
    p.close()
    assert(futs.forall(f => Await.result(f, 60.seconds).isRight))
    assert(p.highWaterBytes <= budget,
      s"in-flight high-water ${p.highWaterBytes} exceeded budget $budget")
    assert(st.checkTail("test-basin", "p3").seqNum == 12)
  }

  test("oversize record fails its own submit; terminal batch failure poisons the rest") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p4")
    // fence the stream so producer batches with no token fail
    st.append("test-basin", "p4",
      AppendInput(Seq(FenceCommand("owner"))), Some(1000L))
    val p = new Producer(st, "test-basin", "p4",
      fencingToken = Some("intruder"), nowMs = Some(1000L))
    val over = Await.result(
      p.submit(env("z" * (2 * 1024 * 1024))), 30.seconds)
    assert(over == Left(p.ProducerError.Oversize(8L + 2 * 1024 * 1024)))
    // a record under the batch cap but over the permit budget must
    // fail fast, not block forever on an ungrantable permit
    val p2 = new Producer(st, "test-basin", "p4", maxUnackedBytes = 1024 * 1024,
      maxBatchBytes = 4L * 1024 * 1024, fencingToken = Some("owner"),
      nowMs = Some(1000L))
    val big = Await.result(p2.submit(env("w" * (2 * 1024 * 1024))), 30.seconds)
    assert(big == Left(p2.ProducerError.Oversize(8L + 2 * 1024 * 1024)))
    p2.close()
    val f1 = p.submit(env("a"))
    p.flush()
    val r1 = Await.result(f1, 30.seconds)
    assert(r1.isLeft) // fencing mismatch -> terminal
    val f2 = p.submit(env("b"))
    assert(Await.result(f2, 30.seconds).isLeft) // poisoned
    p.close()
    assert(st.checkTail("test-basin", "p4").seqNum == 1) // only the fence
  }

  test("retry policy: transient failures retry with backoff, then succeed (retry.rs)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p5")
    val p = new Producer(st, "test-basin", "p5", nowMs = Some(1000L),
      maxRetries = 3, retryBackoffMs = 1)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val real = p.session.appendGroupOp
    p.session.appendGroupOp = ins => {
      if (attempts.incrementAndGet() <= 2)
        throw new ManifestCasConflict("CAS race")
      real(ins)
    }
    val f = p.submit(env("a"))
    p.close()
    assert(Await.result(f, 30.seconds).isRight)
    assert(attempts.get() == 3) // 2 transient failures + 1 success
    assert(st.checkTail("test-basin", "p5").seqNum == 1)
  }

  test("retry policy: retryable exhausted poisons; non-retryable never retries") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p6")
    val p = new Producer(st, "test-basin", "p6", nowMs = Some(1000L),
      maxRetries = 2, retryBackoffMs = 1)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    p.session.appendGroupOp = _ => {
      attempts.incrementAndGet()
      throw new ManifestCasConflict("CAS race")
    }
    val f = p.submit(env("a"))
    p.flush()
    val r = Await.result(f, 30.seconds)
    assert(r.isLeft)
    assert(attempts.get() == 3) // initial + 2 retries, then poison
    val after = Await.result(p.submit(env("b")), 30.seconds)
    assert(after.isLeft) // poisoned
    p.close()

    // non-retryable (deterministic rejection) fails on the FIRST attempt
    st.catalog.createStream("test-basin", "p7")
    val p2 = new Producer(st, "test-basin", "p7", nowMs = Some(1000L),
      maxRetries = 5, retryBackoffMs = 1)
    val attempts2 = new java.util.concurrent.atomic.AtomicInteger(0)
    p2.session.appendGroupOp = _ => {
      attempts2.incrementAndGet()
      (Nil, Some((0, AppendError.SeqNumMismatch(7, 0))))
    }
    val f2 = p2.submit(env("a"))
    p2.flush()
    assert(Await.result(f2, 30.seconds).isLeft)
    assert(attempts2.get() == 1)
    p2.close()
  }

  test("retry policy: IO failure is deterministic — poisons on the FIRST attempt") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p8")
    val p = new Producer(st, "test-basin", "p8", nowMs = Some(1000L),
      maxRetries = 5, retryBackoffMs = 1)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    p.session.appendGroupOp = _ => {
      attempts.incrementAndGet()
      throw new java.io.IOException("No space left on device")
    }
    val f = p.submit(env("a"))
    p.flush()
    assert(Await.result(f, 30.seconds).isLeft)
    assert(attempts.get() == 1) // disk-full retried 0 times before poison
    p.close()
  }

  test("retry policy: a raced multi-batch group retries whole, once, and acks in order") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p11")
    val session = new AppendSession(st, "test-basin", "p11",
      nowMs = Some(1000L), maxRetries = 3, retryBackoffMs = 1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val groupSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val real = session.appendGroupOp
    session.appendGroupOp = ins => {
      groupSizes.add(ins.size)
      groupSizes.size match {
        // hold the first group so the next five queue behind it
        case 1 => entered.countDown(); release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        // the five-batch group loses its first commit to a CAS race
        case 2 => throw new ManifestCasConflict("CAS race")
        case _ => ()
      }
      real(ins)
    }
    val first = session.submit(AppendInput(Seq(env("b0"))))
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val rest = (1 to 5).map(i => session.submit(AppendInput(Seq(env(s"b$i")))))
    release.countDown()
    session.close()
    val acks = (first +: rest).map(f => Await.result(f, 30.seconds).toOption.get)
    assert(groupSizes.asScala.toSeq == Seq(1, 5, 5),
      s"the raced group must be retried whole, once: ${groupSizes.asScala.toSeq}")
    assert(acks.map(_.start.seqNum) == (0L until 6L))
    assert(st.checkTail("test-basin", "p11").seqNum == 6)
  }

  test("failed manifest commit takes its data file with it — retry leaves no duplicate seq_nums") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p9")
    st.append("test-basin", "p9", AppendInput(Seq(env("base"))), Some(1000L))
    val dataDir = java.nio.file.Paths.get(
      Layout.genDir(st.root, "test-basin", "p9", 0L))
    def parquetCount() = {
      val s = Files.list(dataDir)
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val before = parquetCount()
    // fail the first commit AFTER its data file is written: the append
    // must delete the orphan before rethrowing (ADVICE r3: a retry
    // otherwise re-appends the same seq_nums beside the orphan)
    val failures = new java.util.concurrent.atomic.AtomicInteger(1)
    st.beforeManifestCommit = () => {
      if (failures.getAndDecrement() > 0)
        throw new ManifestCasConflict("injected commit race")
    }
    val p = new Producer(st, "test-basin", "p9", nowMs = Some(2000L),
      maxRetries = 3, retryBackoffMs = 1)
    val f = p.submit(env("retried"))
    p.close()
    st.beforeManifestCommit = () => ()
    assert(Await.result(f, 30.seconds).isRight) // retry succeeded
    assert(parquetCount() == before + 1,
      "the failed attempt's file must be deleted, the retry's kept")
    val rows = st.read("test-basin", "p9",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      .select("seq_num").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(0L, 1L), "no duplicate or phantom seq_nums")
    assert(st.checkTail("test-basin", "p9").seqNum == 2)
  }

  test("crash orphan: a file left before the manifest commit is swept, not duplicated") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "p10")
    st.append("test-basin", "p10", AppendInput(Seq(env("a"))), Some(1000L)) // tail=1
    // simulate a writer that DIED between its data write and manifest
    // commit: a file holding seqs [1,3) with no manifest bump (the
    // exception path deletes this; a process death cannot)
    DirectParquet.writeBatch(Layout.genDir(st.root, "test-basin", "p10", 0L), Seq(
      DirectParquet.Rec(1L, 1500L, Nil, "ghost1".getBytes, 14L),
      DirectParquet.Rec(2L, 1500L, Nil, "ghost2".getBytes, 14L)))
    // the crashed writer's process is gone: recovery happens in a NEW
    // store instance over the same root (the sweep runs on an
    // instance's first commit per stream, not every append)
    val st2 = new StreamStore(spark, st.root)
    def rows() = st2.read("test-basin", "p10",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      .select("seq_num", "body").collect()
      .map(r => (r.getLong(0), new String(r.getAs[Array[Byte]](1)))).sortBy(_._1)
    // the orphan is invisible (reads clamp at the committed tail)
    assert(rows().toSeq == Seq((0L, "a")))
    // the next append re-assigns seqs 1..2 — it must sweep the orphan
    // first or reads would see duplicate seq_nums with ghost bodies
    assert(st2.append("test-basin", "p10",
      AppendInput(Seq(env("b"), env("c"))), Some(2000L)).isRight)
    assert(rows().toSeq == Seq((0L, "a"), (1L, "b"), (2L, "c")),
      "orphan rows must not survive beside the re-assigned seq_nums")
    assert(st2.checkTail("test-basin", "p10").seqNum == 3)
  }

  test("M5: server histograms expose reference buckets in Prometheus text format") {
    ServerMetrics.reset()
    val st = freshStore()
    st.catalog.createStream("test-basin", "m5")
    st.append("test-basin", "m5", AppendInput(Seq(env("a"), env("b"))), Some(1000L))
    val text = ServerMetrics.gather()
    assert(ServerMetrics.appendAckLatency.count == 1)
    assert(ServerMetrics.appendBatchRecords.count == 1)
    assert(text.contains("s2_append_ack_latency_seconds_bucket{le=\"0.005\"}"))
    assert(text.contains("s2_append_batch_records_bucket{le=\"1000.0\"}"))
    assert(text.contains("s2_append_batch_bytes_sum"))
    assert(text.contains("# TYPE s2_append_permit_latency_seconds histogram"))
  }
}
