package graft.log

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import LinModel._

/** Linearizability harness over the unary append/read/tail surface —
  * the analog of the reference's sim layer
  * (sim/src/scenarios/linearizable.rs:1-60, sim/src/history.rs):
  * seeded concurrent clients mixing plain appends, match_seq_num CAS,
  * fencing ops, tail checks and prefix reads against ONE stream
  * through TWO StreamStore instances on one root, recording a
  * start/finish-labeled history that is then checked against a
  * sequential model of the log.
  *
  * Unlike the reference (which ships histories to an offline
  * Porcupine model checker), the checker here needs no linearization
  * search: every committed append carries its linearization evidence
  * — the assigned seq range — so commit order IS the linearization
  * order, and the checker verifies that order directly against
  * real-time bounds, CAS semantics, fencing-token state, tail
  * monotonicity and read consistency. Operations that fail
  * indefinitely (commit-path exception, lost ack) are recorded as
  * `Indefinite` and resolved by the final log read: they may or may
  * not have happened, exactly as the reference treats them. The
  * model + checker live in [[LinModel]], shared with RecoverySpec.
  *
  * Teeth: two injected-bug scenarios (fencing check skipped, CAS
  * check skipped) must produce checker violations — a checker that
  * passes everything proves nothing.
  */
class LinearizabilitySpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private val Basin = "test-basin"
  private val Stream = "lin"

  // ----------------------------------------------------------------
  // Workload
  // ----------------------------------------------------------------

  /** One client's view of the store: lets the teeth tests inject bugs
    * (dropping the CAS/fencing argument while still RECORDING the op
    * as guarded) without touching production code. */
  private final class ClientConn(st: StreamStore,
                                 skipFencing: Boolean = false,
                                 skipCas: Boolean = false) {
    def append(op: LinOp): LinRes = {
      val input = op match {
        case PlainAppend(bs) =>
          AppendInput(bs.map(b => EnvelopeRecord(Nil, b.getBytes("UTF-8"))))
        case CasAppend(bs, expect) =>
          AppendInput(bs.map(b => EnvelopeRecord(Nil, b.getBytes("UTF-8"))),
            matchSeqNum = if (skipCas) None else Some(expect))
        case GuardedAppend(bs, g) =>
          AppendInput(bs.map(b => EnvelopeRecord(Nil, b.getBytes("UTF-8"))),
            fencingToken = if (skipFencing) None else Some(g))
        case FenceSet(tok, g) =>
          AppendInput(Seq(FenceCommand(tok)),
            fencingToken = if (skipFencing) None else g)
        case _ => throw new IllegalArgumentException(s"not an append op: $op")
      }
      try st.append(Basin, Stream, input) match {
        case Right(ack) => Committed(ack.start.seqNum, ack.end.seqNum)
        case Left(AppendError.SeqNumMismatch(exp, act)) => CasFail(exp, act)
        case Left(AppendError.FencingTokenMismatch(cur)) => FenceFail(cur)
        case Left(other) => Unexpected(other.toString)
      } catch { case _: Throwable => Indefinite }
    }
    def tail(): LinRes =
      try TailSeen(st.checkTail(Basin, Stream).seqNum)
      catch { case _: Throwable => Indefinite }
    /** The SAME PlainAppend op executed through the bulk-ingest path
      * (staged Spark write + per-stream tail-CAS commit) instead of
      * the unary path: a committed ingest is model-identical to a
      * committed append at the same seq range, so the checker needs
      * no new op type — what is under test is that the two write
      * paths interleave linearizably on one stream, the ingest
      * aborting cleanly (Indefinite here, files die staged) whenever
      * a unary append moves the tail mid-flight. */
    def bulkIngest(op: PlainAppend): LinRes =
      try {
        val spark = org.apache.spark.sql.SparkSession.active
        val df = spark.createDataFrame(
            op.bodies.zipWithIndex.map { case (b, k) => (Basin, Stream, k.toLong, b) })
          .toDF("basin", "stream", "arrival", "b")
          .selectExpr("basin", "stream",
            "CAST(NULL AS BIGINT) AS ts_client",
            "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
            "CAST(b AS BINARY) AS body", "arrival")
        val ack = st.ingest(df)((Basin, Stream))
        Committed(ack.start.seqNum, ack.end.seqNum)
      } catch { case _: Throwable => Indefinite }
    def read(k: Int): LinRes =
      try st.readUnary(Basin, Stream,
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
          ReadEnd(limit = ReadLimit(count = Some(k.toLong))))) match {
        case Right(recs) => ReadSeen(recs.iterator
          .map(r => (r.seqNum, new String(r.body, "UTF-8"))).toVector)
        case Left(err) => Unexpected(err)
      } catch { case _: Throwable => Indefinite }
  }

  private def newStores(root: String): Vector[StreamStore] = {
    // two instances = two simulated drivers; on an object-backend
    // root they share the registered in-memory "bucket", and with the
    // JVM-global commit monitor BYPASSED (isolateJvmLocks — honored
    // only where the backend has no real writer mutex) every
    // interleaving here is genuinely lockless and resolved by the
    // manifest conditional-put alone, like two real processes on one
    // S3 bucket. On POSIX roots the flag is a no-op and the OS file
    // lock serializes, which is also what production does there.
    val a = new StreamStore(spark, root)
    a.catalog.createBasin(Basin,
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    a.catalog.createStream(Basin, Stream).fold(e => fail(e), identity)
    val out = Vector(a, new StreamStore(spark, root))
    out.foreach(_.isolateJvmLocks = true)
    out
  }

  private def finalState(st: StreamStore): (Vector[(Long, String)], Long) = {
    val tail = st.checkTail(Basin, Stream).seqNum
    val log = st.readBatch(Basin, Stream,
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(e), identity)
      .iterator.map(r => (r.seqNum, new String(r.body, "UTF-8"))).toVector
    (log, tail)
  }

  /** Seeded concurrent workload: `nClients` threads × `opsPerClient`
    * ops over two instances, commit-path failure injection on
    * instance B, lost-ack simulation client-side. Returns the full
    * labeled history plus the final log.
    */
  private def runWorkload(h: BackendHarness, seed: Long, nClients: Int,
                          opsPerClient: Int, bulkEvery: Int = 0,
                          sessEvery: Int = 0)
      : (Seq[LinEvent], Vector[(Long, String)], Long) = {
    val root = h.freshRoot("graft-lin")
    val stores = newStores(root)

    // injected commit failures on instance B: the data file is written,
    // the manifest commit throws, cleanup removes the file — the client
    // observes an exception and cannot know the outcome (Indefinite)
    val hookRnd = new java.util.Random(seed ^ 0x5eedL)
    stores(1).beforeManifestCommit = () =>
      if (hookRnd.synchronized(hookRnd.nextDouble()) < 0.10)
        throw new RuntimeException("injected commit failure")

    val events = Array.fill(nClients)(
      scala.collection.mutable.ArrayBuffer.empty[LinEvent])
    val start = new CountDownLatch(1)
    val threads = (0 until nClients).map { c =>
      new Thread(() => {
        val rnd = new scala.util.Random(seed * 1000003L + c)
        var believedTail = 0L
        var myToken = ""
        var fenceEpoch = 0
        start.await()
        for (i <- 0 until opsPerClient) {
          val conn = new ClientConn(stores(rnd.nextInt(stores.size)))
          def bodies(n: Int): Vector[String] =
            (0 until n).map(k => s"b-$c-$i-$k").toVector
          def record(op: LinOp)(run: => LinRes): LinRes = {
            val t0 = System.nanoTime()
            val res0 = run
            val t1 = System.nanoTime()
            // lost-ack simulation: the op really happened; the client
            // just never learned. Keep believedTail un-updated.
            val res = res0 match {
              case Committed(_, _) if rnd.nextDouble() < 0.05 => Indefinite
              case r => r
            }
            events(c) += LinEvent(c, op, t0, t1, res)
            res
          }
          c % 4 match {
            case 0 => // plain appender + reader (+ bulk ingester / session)
              val p = rnd.nextDouble()
              if (sessEvery > 0 && i % sessEvery == 0) {
                // A8 grouped session: 3 batches through ONE
                // AppendSession whose drain group-commits its backlog
                // — each batch is its own history event (submit time
                // to ack time), so the checker holds the GROUP commit
                // to the same linearizability rules as every other
                // write. Poisoned / thrown batches record Indefinite
                // (sound: they may or may not have committed; the
                // final log resolves them).
                val st = stores(rnd.nextInt(stores.size))
                val sess = new AppendSession(st, Basin, Stream,
                  retryBackoffMs = 1)
                val submitted = (0 until 3).map { k =>
                  val op = PlainAppend((0 until 1 + rnd.nextInt(2))
                    .map(j => s"b-$c-$i-g$k$j").toVector)
                  val t0 = System.nanoTime()
                  val fut = sess.submit(AppendInput(
                    op.bodies.map(b => EnvelopeRecord(Nil, b.getBytes("UTF-8")))))
                  (op, t0, fut)
                }
                submitted.foreach { case (op, t0, fut) =>
                  val res =
                    try scala.concurrent.Await.result(fut,
                      scala.concurrent.duration.Duration(60, "seconds")) match {
                      case Right(ack) => Committed(ack.start.seqNum, ack.end.seqNum)
                      case Left(_) => Indefinite
                    } catch { case _: Throwable => Indefinite }
                  events(c) += LinEvent(c, op, t0, System.nanoTime(), res)
                }
                sess.close()
              } else if (bulkEvery > 0 && i % bulkEvery == 0) {
                val op = PlainAppend(bodies(2 + rnd.nextInt(3)))
                record(op)(conn.bulkIngest(op))
              } else if (p < 0.6) {
                val op = PlainAppend(bodies(1 + rnd.nextInt(3)))
                record(op)(conn.append(op))
              } else if (p < 0.8) record(TailCheck)(conn.tail())
              else {
                val k = 1 + rnd.nextInt(50)
                record(ReadPrefix(k))(conn.read(k))
              }
            case 1 => // CAS client
              if (rnd.nextDouble() < 0.35)
                record(TailCheck)(conn.tail()) match {
                  case TailSeen(t) => believedTail = t
                  case _ =>
                }
              else {
                val op = CasAppend(bodies(1 + rnd.nextInt(2)), believedTail)
                record(op)(conn.append(op)) match {
                  case Committed(_, end) => believedTail = end
                  case CasFail(_, actual) => believedTail = actual
                  case _ =>
                }
              }
            case _ => // two fencing clients fighting over the token
              val p = rnd.nextDouble()
              if (p < 0.25) {
                val tok = s"t$c-$fenceEpoch"; fenceEpoch += 1
                // half the fences are guarded by the client's last
                // known token (often stale), half unconditional
                val op = FenceSet(tok,
                  if (rnd.nextBoolean() && myToken.nonEmpty) Some(myToken) else None)
                record(op)(conn.append(op)) match {
                  case Committed(_, _) => myToken = tok
                  case _ =>
                }
              } else if (p < 0.8 && myToken.nonEmpty) {
                val op = GuardedAppend(bodies(1), myToken)
                record(op)(conn.append(op)) match {
                  case FenceFail(_) => myToken = "" // lost the stream
                  case _ =>
                }
              } else if (p < 0.9) record(TailCheck)(conn.tail())
              else {
                val k = 1 + rnd.nextInt(30)
                record(ReadPrefix(k))(conn.read(k))
              }
          }
        }
      }, s"lin-client-$c")
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    stores(1).beforeManifestCommit = () => ()

    val (log, tail) = finalState(stores(0))
    (events.toSeq.flatten, log, tail)
  }

  // ----------------------------------------------------------------
  // Specs
  // ----------------------------------------------------------------

  for (h <- BackendHarness.all)
  test(s"[${h.label}] concurrent append/CAS/fencing/read histories linearize (5 seeds x 120 ops)") {
    val all = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    for (seed <- 1L to 5L) {
      val (events, log, tail) = runWorkload(h, seed, nClients = 4, opsPerClient = 30)
      val violations = check(events, log, tail)
      assert(violations.isEmpty,
        s"seed $seed: ${violations.size} violations:\n${violations.take(10).mkString("\n")}")
      assert(tail > 0, s"seed $seed: nothing committed")
      all ++= events
    }
    // non-vacuous: across the seeds the workload must exercise every
    // outcome family the checker has rules for
    def has(p: LinEvent => Boolean) = all.exists(p)
    assert(has(e => e.op.isInstanceOf[CasAppend] && e.res.isInstanceOf[Committed]))
    assert(has(e => e.op.isInstanceOf[CasAppend] && e.res.isInstanceOf[CasFail]))
    assert(has(e => e.op.isInstanceOf[GuardedAppend] && e.res.isInstanceOf[Committed]))
    assert(has(e => e.res.isInstanceOf[FenceFail]))
    assert(has(e => e.op.isInstanceOf[FenceSet] && e.res.isInstanceOf[Committed]))
    assert(has(_.res == Indefinite), "no indefinite outcomes — failure " +
      "injection never fired, the may-or-may-not path is untested")
    assert(has(e => e.op.isInstanceOf[ReadPrefix] && e.res.isInstanceOf[ReadSeen]))
    assert(has(e => e.op == TailCheck && e.res.isInstanceOf[TailSeen]))
  }

  for (h <- BackendHarness.all)
  test(s"[${h.label}] bulk ingest interleaved with unary appends/CAS/fencing linearizes " +
    "(the two write paths share one log)") {
    // Same harness, with client 0 pushing every 6th op through the
    // staged-commit bulk path instead of the unary path (model-
    // identical: a committed ingest is a committed append at its seq
    // range). Under the concurrent mix the ingest's tail-CAS loses
    // races (unary appends move the tail mid-flight) and the injected
    // commit failures now also fire INSIDE the ingest commit (after
    // the staged files moved into the live dir), so the checker
    // verifies both the winning interleavings and the rollback: any
    // dup/gap/out-of-thin-air row a partial ingest left behind would
    // be a violation.
    val all = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    for (seed <- 11L to 13L) {
      val (events, log, tail) =
        runWorkload(h, seed, nClients = 4, opsPerClient = 18, bulkEvery = 6)
      val violations = check(events, log, tail)
      assert(violations.isEmpty,
        s"seed $seed: ${violations.size} violations:\n${violations.take(10).mkString("\n")}")
      assert(tail > 0, s"seed $seed: nothing committed")
      all ++= events
    }
    // Deterministic fault coverage — by construction, not seed luck:
    // one bulk ingest driven through a forced commit failure (must end
    // Indefinite, files die staged) and one clean ingest (must
    // commit), both history-checked against the final log.
    all ++= directedBulkFaults(h)
    // non-vacuous: at least one bulk ingest actually COMMITTED
    // (multi-record plain appends from client 0's bulk slots), and at
    // least one ended Indefinite (lost race or injected commit
    // failure — the rollback path ran)
    // bulk slots are identifiable from the body naming: client 0,
    // op index i % bulkEvery == 0 (encoded as "b-<client>-<i>-<k>")
    val bulkSlots = all.filter(e => e.client == 0 &&
      e.op.isInstanceOf[PlainAppend] &&
      e.op.asInstanceOf[PlainAppend].bodies.head.split("-")(2).toInt % 6 == 0)
    assert(bulkSlots.exists(_.res.isInstanceOf[Committed]),
      "no bulk ingest ever committed — the mixed-path claim is vacuous")
    assert(bulkSlots.exists(_.res == Indefinite),
      "no bulk ingest ever aborted — the rollback path went untested")
  }

  /** Deterministic bulk-ingest fault coverage: one ingest is forced
    * through a `beforeManifestCommit` failure (the same seam
    * StagedCommitSpec uses) so it MUST end Indefinite with its files
    * dead staged, then a clean ingest MUST commit. The resulting
    * history is checked against the final log like any other, so the
    * forced abort leaving any row behind would be a violation. */
  private def directedBulkFaults(h: BackendHarness): Seq[LinEvent] = {
    val root = h.freshRoot("graft-lin-dbulk")
    val stores = newStores(root)
    val events = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    def runBulk(i: Int): Unit = {
      val conn = new ClientConn(stores(1))
      val op = PlainAppend(Vector(s"b-0-$i-0", s"b-0-$i-1"))
      val t0 = System.nanoTime()
      val res = conn.bulkIngest(op)
      events += LinEvent(0, op, t0, System.nanoTime(), res)
    }
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    stores(1).beforeManifestCommit = () =>
      if (failOnce.getAndSet(false))
        throw new RuntimeException("forced bulk commit failure")
    runBulk(0) // i % 6 == 0: counted as a bulk slot by the filter
    stores(1).beforeManifestCommit = () => ()
    runBulk(6)
    val (log, tail) = finalState(stores(0))
    val violations = check(events.toSeq, log, tail)
    assert(violations.isEmpty,
      s"directed bulk faults: ${violations.size} violations:\n${violations.take(10).mkString("\n")}")
    assert(events.head.res == Indefinite,
      s"forced-failure ingest did not end Indefinite: ${events.head.res}")
    assert(events.last.res.isInstanceOf[Committed],
      s"clean ingest did not commit: ${events.last.res}")
    events.toSeq
  }

  for (h <- BackendHarness.all)
  test(s"[${h.label}] grouped append sessions (A8 group commit) interleave " +
    "linearizably with unary appends/CAS/fencing") {
    // Client 0 pushes every 6th slot through an AppendSession whose
    // drain GROUP-COMMITS its backlog (one data object + one manifest
    // CAS for several batches): under the concurrent mix the group's
    // CAS loses races to unary appends on the other store and retries
    // in place, and the injected commit failures fire inside the
    // group commit after its object entered the live dir — any
    // dup/gap/out-of-thin-air row the rollback or retry left behind
    // is a checker violation, exactly as for the other write paths.
    val all = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    for (seed <- 21L to 23L) {
      val (events, log, tail) =
        runWorkload(h, seed, nClients = 4, opsPerClient = 18, sessEvery = 6)
      val violations = check(events, log, tail)
      assert(violations.isEmpty,
        s"seed $seed: ${violations.size} violations:\n${violations.take(10).mkString("\n")}")
      assert(tail > 0, s"seed $seed: nothing committed")
      all ++= events
    }
    // Deterministic fault coverage — by construction, not seed luck
    // (the seeded sweep above stays as the exploration layer): one
    // group forced through a beforeManifestCommit failure (every batch
    // must end Indefinite — rollback + poison ran), one group forced
    // through a real ManifestCasConflict (the session must retry the
    // whole group in place and commit).
    all ++= directedGroupFaults(h)
    def sessEvents = all.filter(e => e.client == 0 &&
      e.op.isInstanceOf[PlainAppend] &&
      e.op.asInstanceOf[PlainAppend].bodies.head.contains("-g"))
    // non-vacuous: some session batch really committed, and some ended
    // Indefinite (injected commit failure inside a group, or a
    // poisoned successor) — the group rollback/poison path ran
    assert(sessEvents.exists(_.res.isInstanceOf[Committed]),
      "no grouped session batch ever committed — the claim is vacuous")
    assert(sessEvents.exists(_.res == Indefinite),
      "no grouped session batch ever failed — rollback/poison untested")
  }

  /** Deterministic A8 group-commit fault coverage, same devices
    * AppendGroupSpec/StagedCommitSpec use:
    *  (a) a forced `beforeManifestCommit` RuntimeException on the
    *      group's one commit — the whole group must end Indefinite
    *      (first batch rolled back, successors poisoned) and leave no
    *      row in the log;
    *  (b) a forced foreign manifest write between the group's manifest
    *      read and its CAS — a real ManifestCasConflict the session
    *      must absorb by retrying the whole group in place, so every
    *      batch commits on the second attempt.
    * Both histories are checked against the final log: a leaked row
    * from (a) or a duplicate seq from (b)'s retry is a violation. */
  private def directedGroupFaults(h: BackendHarness): Seq[LinEvent] = {
    val root = h.freshRoot("graft-lin-dgroup")
    val stores = newStores(root)
    val events = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    def runSession(tag: String): Seq[LinRes] = {
      val st = stores(1)
      val sess = new AppendSession(st, Basin, Stream, retryBackoffMs = 1)
      val submitted = (0 until 3).map { k =>
        val op = PlainAppend(Vector(s"b-0-9$tag-g$k"))
        val t0 = System.nanoTime()
        val fut = sess.submit(AppendInput(
          op.bodies.map(b => EnvelopeRecord(Nil, b.getBytes("UTF-8")))))
        (op, t0, fut)
      }
      val out = submitted.map { case (op, t0, fut) =>
        val res =
          try scala.concurrent.Await.result(fut,
            scala.concurrent.duration.Duration(60, "seconds")) match {
            case Right(ack) => Committed(ack.start.seqNum, ack.end.seqNum)
            case Left(_) => Indefinite
          } catch { case _: Throwable => Indefinite }
        events += LinEvent(0, op, t0, System.nanoTime(), res)
        res
      }
      sess.close()
      out
    }
    // (a) forced commit failure: non-retryable, fires exactly once on
    // this store's next (= the group's) manifest commit
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    stores(1).beforeManifestCommit = () =>
      if (failOnce.getAndSet(false))
        throw new RuntimeException("forced group commit failure")
    val aborted = runSession("f")
    stores(1).beforeManifestCommit = () => ()
    assert(aborted.forall(_ == Indefinite),
      s"forced-failure group did not fully abort: $aborted")
    // (b) forced CAS race: a foreign manifest write invalidates the
    // group's etag mid-commit; the session retries the group in place
    val raceOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    stores(1).beforeManifestCommit = () =>
      if (raceOnce.getAndSet(false)) {
        val key = Layout.statePath(stores(1).root, Basin, Stream).toString
        val cur = stores(1).manifest(Basin, Stream)
        stores(1).backend.putMeta(key,
          Layout.toJsonString(cur.copy(version = cur.version + 7)))
      }
    val retried = runSession("c")
    stores(1).beforeManifestCommit = () => ()
    assert(retried.forall(_.isInstanceOf[Committed]),
      s"CAS-raced group did not commit after in-place retry: $retried")
    val (log, tail) = finalState(stores(0))
    val violations = check(events.toSeq, log, tail)
    assert(violations.isEmpty,
      s"directed group faults: ${violations.size} violations:\n${violations.take(10).mkString("\n")}")
    events.toSeq
  }

  test("teeth: a store that skips the fencing check is caught") {
    val root = BackendHarness.tempDir("graft-lin-bug").toString
    val stores = newStores(root)
    val good = new ClientConn(stores(0))
    val buggy = new ClientConn(stores(1), skipFencing = true)
    val events = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    def rec(conn: ClientConn, op: LinOp): Unit = {
      val t0 = System.nanoTime()
      val res = conn.append(op)
      events += LinEvent(0, op, t0, System.nanoTime(), res)
    }
    rec(good, FenceSet("tA", None))
    rec(good, GuardedAppend(Vector("x1"), "tA")) // fine: token is tA
    rec(good, FenceSet("tB", None))
    // stale guard tA — a correct store rejects; the buggy one commits
    rec(buggy, GuardedAppend(Vector("x2"), "tA"))
    val (log, tail) = finalState(stores(0))
    val violations = check(events.toSeq, log, tail)
    assert(violations.exists(_.contains("guard 'tA' committed while token was 'tB'")),
      s"checker missed the fencing bug; violations=$violations")
  }

  test("teeth: a store that skips the CAS check is caught") {
    val root = BackendHarness.tempDir("graft-lin-bug2").toString
    val stores = newStores(root)
    val good = new ClientConn(stores(0))
    val buggy = new ClientConn(stores(1), skipCas = true)
    val events = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    def rec(conn: ClientConn, op: LinOp): Unit = {
      val t0 = System.nanoTime()
      val res = conn.append(op)
      events += LinEvent(0, op, t0, System.nanoTime(), res)
    }
    rec(good, PlainAppend(Vector("p1")))
    // stale CAS on tail 0 — a correct store rejects; the buggy one commits at 1
    rec(buggy, CasAppend(Vector("p2"), 0L))
    val (log, tail) = finalState(stores(0))
    val violations = check(events.toSeq, log, tail)
    assert(violations.exists(_.contains("CAS expected tail 0 but linearized at 1")),
      s"checker missed the CAS bug; violations=$violations")
  }

  test("teeth: a fabricated out-of-thin-air ack is caught") {
    val root = BackendHarness.tempDir("graft-lin-bug3").toString
    val stores = newStores(root)
    val good = new ClientConn(stores(0))
    val events = scala.collection.mutable.ArrayBuffer.empty[LinEvent]
    val t0 = System.nanoTime()
    val res = good.append(PlainAppend(Vector("real")))
    events += LinEvent(0, PlainAppend(Vector("real")), t0, System.nanoTime(), res)
    // an ack for records that never became durable
    events += LinEvent(1, PlainAppend(Vector("ghost")),
      System.nanoTime(), System.nanoTime(), Committed(1L, 2L))
    val (log, tail) = finalState(stores(0))
    val violations = check(events.toSeq, log, tail)
    assert(violations.exists(_.contains("acked append absent from final log")),
      s"checker missed the lost ack; violations=$violations")
  }

  test("object backend: sweepOrphans cannot strand an acked tail on a deleted object " +
    "(fence-by-manifest-CAS; the cross-driver race the no-op mutex cannot exclude)") {
    // Deterministic repro of the race class: driver A is mid-commit
    // (data object PUT, manifest CAS not yet issued) when driver B's
    // commit path runs its orphan sweep and lists A's object above the
    // committed tail. B's append then FAILS its own precondition (bad
    // match_seq_num) so B never moves the manifest itself — in a
    // sweep-without-fence design A's CAS would still succeed and the
    // acked tail would point at B-deleted data. The fence makes one of
    // two outcomes the only possibilities: A's CAS fails (tag was
    // bumped) and a retry re-puts, or the sweep lost and deleted
    // nothing. Either way: every acked record must be readable.
    val h = BackendHarness.all.find(_.label == "object").get
    val root = h.freshRoot("graft-sweeprace")
    val stores = newStores(root) // isolateJvmLocks: genuinely lockless
    // a committed prefix so the race is about records above a real tail
    stores(0).append(Basin, Stream, AppendInput(Seq(
      EnvelopeRecord(Nil, "base".getBytes))), Some(1000L))
      .fold(e => fail(e.toString), identity)

    val aPutDone = new CountDownLatch(1)
    val bSweepDone = new CountDownLatch(1)
    stores(0).beforeManifestCommit = () => {
      aPutDone.countDown()
      assert(bSweepDone.await(20, java.util.concurrent.TimeUnit.SECONDS),
        "driver B never ran")
    }
    @volatile var aRes: Either[Throwable, Either[AppendError, AppendAck]] = null
    val aThread = new Thread(() => {
      aRes = try Right(stores(0).append(Basin, Stream,
        AppendInput(Seq(EnvelopeRecord(Nil, "a-inflight".getBytes))), Some(2000L)))
      catch { case t: Throwable => Left(t) }
    }, "driver-a")
    aThread.start()
    assert(aPutDone.await(20, java.util.concurrent.TimeUnit.SECONDS))

    // driver B: first commit on a fresh instance -> sweep runs; the
    // append itself is rejected by CAS precondition so B's own commit
    // never lands (sweep side effects are all that B leaves behind)
    val bRes = stores(1).append(Basin, Stream,
      AppendInput(Seq(EnvelopeRecord(Nil, "b".getBytes)), matchSeqNum = Some(99L)),
      Some(2000L))
    assert(bRes == Left(AppendError.SeqNumMismatch(99L, 1L)))
    bSweepDone.countDown()
    aThread.join(20000)
    stores(0).beforeManifestCommit = () => ()

    // resolve A like a real producer: exception = indefinite -> retry
    aRes match {
      case Right(Right(_)) => () // A's commit won (sweep lost its race)
      case Right(Left(e)) => fail(s"unexpected append error: $e")
      case Left(_) =>
        stores(0).append(Basin, Stream,
          AppendInput(Seq(EnvelopeRecord(Nil, "a-retry".getBytes))), Some(3000L))
          .fold(e => fail(s"retry failed: $e"), identity)
      case null => fail("driver A never finished")
    }

    // THE invariant the unfenced sweep violated: every seq below the
    // acked tail is present and readable (no tail over deleted data)
    val tail = stores(1).checkTail(Basin, Stream).seqNum
    val log = stores(1).readBatch(Basin, Stream,
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(s"read failed: $e"), identity)
    assert(log.map(_.seqNum) == (0L until tail), s"gap below tail $tail")
    assert(log.size == 2, s"expected base + one A record, got ${log.size}")
  }
}
