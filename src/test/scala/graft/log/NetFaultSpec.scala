package graft.log

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import LinModel._

/** Network-fault suite for the HTTP object adapter (VERDICT r16 #4) —
  * the reference's sim/net.rs discipline applied to the one backend
  * that talks a real wire: requests dropped, responses lost,
  * duplicates replayed, all between the commit protocol and its
  * object server, with the S3 retry-after-timeout double-PUT front
  * and center.
  *
  * Teeth: the lost-response and duplicate-replay scenarios FAIL
  * against a client that treats a 412-after-replay as a foreign
  * winner (the pre-r17 behavior would error the append and delete the
  * group's data object while its manifest commit stood — stranding
  * committed records). The foreign-write-during-outage scenario pins
  * the only honest remaining answer — IndeterminateCommit with the
  * data object KEPT — and proves sweepOrphans resolves the ambiguity
  * on the next append with no duplicate or ghost rows.
  */
class NetFaultSpec extends AnyFunSuite with LocalSpark {

  private val Basin = "fault-basin"

  /** Fresh real server + fresh proxy + proxied root + store. */
  private def faultRig(): (StreamStore, NetFaultProxy.Controls,
                           HttpObjectBackend, String) = {
    val realEp = BackendHarness.sharedHttpEndpoint
    val (_, proxyEp, controls) = NetFaultProxy.start(realEp, seed = 99L)
    val root = Files.createTempDirectory("graft-netfault").toString
    HttpObjectBackend.install(root, proxyEp)
    val st = new StreamStore(spark, root)
    st.catalog.createBasin(Basin,
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    // a DIRECT (unproxied) client of the same server, for foreign
    // writes and authoritative assertions
    val direct = new HttpObjectBackend(realEp)
    (st, controls, direct, root)
  }

  private def env(b: String) = EnvelopeRecord(Nil, b.getBytes("UTF-8"))

  private def bodies(st: StreamStore, stream: String): Seq[(Long, String)] =
    st.readBatch(Basin, stream, ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(e), identity)
      .map(r => (r.seqNum, new String(r.body, "UTF-8")))

  /** Script matcher: the stream's conditional manifest PUT. */
  private def manifestPut(stream: String)(
      method: String, pathQ: String): Boolean =
    method == "PUT" && pathQ.startsWith("/meta") && pathQ.contains(stream)

  test("lost response on the manifest conditional PUT: the commit APPLIED " +
    "server-side; the put-nonce probe must turn the outage into an ack " +
    "(slatedb's put-id re-read, sim/s3.rs:57-62)") {
    val (st, controls, _, _) = faultRig()
    st.catalog.createStream(Basin, "nf1").fold(e => fail(e), identity)
    @volatile var fired = false
    controls.script = (m, p, _) =>
      if (!fired && manifestPut("nf1")(m, p)) {
        fired = true; NetFaultProxy.Fault.DropResponse
      } else null
    val ack = st.append(Basin, "nf1", AppendInput(Seq(env("a"), env("b"))),
      Some(1000L))
    assert(fired, "the scripted fault never fired — scenario is vacuous")
    assert(ack.isRight, s"lost-response commit must ack after the nonce probe: $ack")
    assert(ack.toOption.get.end.seqNum == 2)
    assert(bodies(st, "nf1") == Seq((0L, "a"), (1L, "b")))
    assert(st.checkTail(Basin, "nf1").seqNum == 2)
  }

  test("S3 double-PUT: the network replays the conditional PUT and the " +
    "client is answered by the duplicate's 412 — it must recognize its " +
    "own committed write, not treat the 412 as a foreign winner") {
    val (st, controls, _, _) = faultRig()
    st.catalog.createStream(Basin, "nf2").fold(e => fail(e), identity)
    @volatile var fired = false
    controls.script = (m, p, _) =>
      if (!fired && manifestPut("nf2")(m, p)) {
        fired = true; NetFaultProxy.Fault.DuplicateAnswerSecond
      } else null
    val ack = st.append(Basin, "nf2", AppendInput(Seq(env("x"))), Some(1000L))
    assert(fired)
    assert(ack.isRight, s"replay 412 misread as foreign winner: $ack")
    // exactly once: the duplicate PUT must not have double-applied
    assert(bodies(st, "nf2") == Seq((0L, "x")))
    assert(st.checkTail(Basin, "nf2").seqNum == 1)
    // and the next append proceeds normally (no stranded state)
    assert(st.append(Basin, "nf2", AppendInput(Seq(env("y"))), Some(1001L)).isRight)
    assert(bodies(st, "nf2") == Seq((0L, "x"), (1L, "y")))
  }

  test("foreign write during the outage, commit APPLIED: the applied-nonce " +
    "history still decides — the append ACKS, the data object stays, the " +
    "committed records survive exactly once") {
    val (st, controls, direct, root) = faultRig()
    st.catalog.createStream(Basin, "nf3").fold(e => fail(e), identity)
    val stateKey = Layout.statePath(
      Catalog.canonicalRoot(root), Basin, "nf3").toString
    @volatile var fired = false
    controls.duringOutage = () => {
      // a foreign writer lands while our response is lost: rewrite the
      // manifest (same content, bumped version -> new etag, no nonce)
      val (json, _) = direct.getMeta(stateKey, fresh = true).get
      val m = Layout.fromJsonString[StreamManifest](json)
      direct.putMeta(stateKey, Layout.toJsonString(m.copy(version = m.version + 7)))
    }
    controls.script = (m, p, _) =>
      if (!fired && manifestPut("nf3")(m, p)) {
        fired = true; NetFaultProxy.Fault.DropResponse
      } else null
    val ack = st.append(Basin, "nf3", AppendInput(Seq(env("kept"))), Some(1000L))
    assert(fired)
    // even though the current manifest is the FOREIGN write, the nonce
    // history proves our conditional put applied first: ack, keep
    assert(ack.isRight, s"applied commit behind a foreign overwrite must ack: $ack")
    controls.reset()
    assert(bodies(st, "nf3") == Seq((0L, "kept")))
    assert(st.checkTail(Basin, "nf3").seqNum == 1)
    // data object present exactly once
    val gen = st.manifest(Basin, "nf3").generation
    val files = direct.listData(
      java.nio.file.Paths.get(Layout.genDir(Catalog.canonicalRoot(root), Basin, "nf3", gen)))
    assert(files.size == 1, files)
  }

  test("foreign write during the outage, commit NEVER applied: the " +
    "applied-nonce history proves the loss — clean conflict, the loser " +
    "deletes its own object, no ghost rows ever") {
    val (st, controls, direct, root) = faultRig()
    st.catalog.createStream(Basin, "nf4").fold(e => fail(e), identity)
    val stateKey = Layout.statePath(
      Catalog.canonicalRoot(root), Basin, "nf4").toString
    @volatile var fired = false
    controls.duringOutage = () => {
      // the victim's CREATE never reached the server (manifests are
      // born on first append), so the foreign writer creates one from
      // scratch: empty stream, alien version, no nonce
      direct.putMeta(stateKey,
        Layout.toJsonString(StreamManifest().copy(version = 5)))
    }
    controls.script = (m, p, _) =>
      if (!fired && manifestPut("nf4")(m, p)) {
        fired = true; NetFaultProxy.Fault.DropRequest // PUT never reaches the server
      } else null
    val thrown = intercept[ManifestCasConflict] {
      st.append(Basin, "nf4", AppendInput(Seq(env("ghost"))), Some(1000L))
    }
    assert(fired)
    assert(thrown.getMessage.contains("lost race"), thrown.getMessage)
    controls.reset()
    // the commit provably lost: tail unmoved, no ghost row, and the
    // loser DELETED its own object (definite conflicts clean up
    // eagerly; only trutruncated-history outcomes park objects)
    assert(st.checkTail(Basin, "nf4").seqNum == 0)
    assert(bodies(st, "nf4") == Nil)
    val gen = st.manifest(Basin, "nf4").generation
    val genDir = java.nio.file.Paths.get(
      Layout.genDir(Catalog.canonicalRoot(root), Basin, "nf4", gen))
    assert(direct.listData(genDir).isEmpty, "definite loser must delete its object")
    // and the stream proceeds cleanly
    val ack = st.append(Basin, "nf4", AppendInput(Seq(env("real"))), Some(2000L))
    assert(ack.isRight, ack.toString)
    assert(bodies(st, "nf4") == Seq((0L, "real")))
  }

  test("TRUNCATED nonce history: the outcome is honestly indeterminate — " +
    "the object is KEPT, the append surfaces IndeterminateCommit, and " +
    "the stream stays consistent afterwards") {
    // dedicated rig with a tiny nonce-history cap so the probe answers
    // `unknown` after a burst of foreign writes
    val (_, realEp) = HttpObjectServer.start(nonceHistoryCap = 4)
    val (_, proxyEp, controls) = NetFaultProxy.start(realEp, seed = 7L)
    val root = Files.createTempDirectory("graft-netfault-trunc").toString
    HttpObjectBackend.install(root, proxyEp)
    val st = new StreamStore(spark, root)
    st.catalog.createBasin(Basin,
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    val direct = new HttpObjectBackend(realEp)
    st.catalog.createStream(Basin, "nf6").fold(e => fail(e), identity)
    val stateKey = Layout.statePath(
      Catalog.canonicalRoot(root), Basin, "nf6").toString
    @volatile var fired = false
    controls.duringOutage = () => {
      // our applied create is evicted from the 4-deep history by a
      // burst of foreign manifest rewrites
      (0 until 6).foreach { i =>
        val (json, _) = direct.getMeta(stateKey, fresh = true).get
        val m = Layout.fromJsonString[StreamManifest](json)
        direct.putMeta(stateKey, Layout.toJsonString(m.copy(version = m.version + 1)))
      }
    }
    controls.script = (m, p, _) =>
      if (!fired && manifestPut("nf6")(m, p)) {
        fired = true; NetFaultProxy.Fault.DropResponse
      } else null
    val thrown = intercept[IndeterminateCommit] {
      st.append(Basin, "nf6", AppendInput(Seq(env("maybe"))), Some(1000L))
    }
    assert(fired)
    assert(thrown.getMessage.contains("truncated"), thrown.getMessage)
    controls.reset()
    // in truth the commit applied (DropResponse forwards first): the
    // record is live, the object was kept, nothing was rolled back
    assert(bodies(st, "nf6") == Seq((0L, "maybe")))
    assert(st.checkTail(Basin, "nf6").seqNum == 1)
    // the stream proceeds: next append re-sweeps (no stale memo) and
    // appends after the live record
    assert(st.append(Basin, "nf6", AppendInput(Seq(env("next"))), Some(2000L)).isRight)
    assert(bodies(st, "nf6") == Seq((0L, "maybe"), (1L, "next")))
  }

  test("reader overlap guard: duplicate-range objects below the tail are " +
    "never served — the read re-lists until the loser vanishes, and fails " +
    "loudly if the overlap persists") {
    val (st, controls, direct, root) = faultRig()
    st.catalog.createStream(Basin, "nf7").fold(e => fail(e), identity)
    assert(st.append(Basin, "nf7", AppendInput(Seq(env("real"))), Some(1000L)).isRight)
    val gen = st.manifest(Basin, "nf7").generation
    val genDir = java.nio.file.Paths.get(
      Layout.genDir(Catalog.canonicalRoot(root), Basin, "nf7", gen))
    def plantGhost(): java.nio.file.Path = {
      // a loser twin covering the SAME committed range with a
      // different body — what a crashed/slow loser leaves listed in
      // the ms between the winner's commit and its own delete
      val scratch = Files.createTempDirectory("graft-nf7")
      val f = java.nio.file.Paths.get(DirectParquet.writeBatch(scratch.toString,
        Seq(DirectParquet.Rec(0L, 999L, Nil, "ghost".getBytes("UTF-8"), 13L))))
      val dest = genDir.resolve(f.getFileName)
      direct.putData(f, dest)
      dest
    }
    // resolving case: the loser's delete lands while the reader waits
    val ghost1 = plantGhost()
    val deleter = new Thread(() => { Thread.sleep(200); direct.deleteData(ghost1) })
    deleter.start()
    val rows = bodies(st, "nf7")
    deleter.join()
    assert(rows == Seq((0L, "real")),
      s"reader served a transient loser twin: $rows")
    // persisting case: no one deletes — the read must refuse loudly,
    // never serve duplicate seq_nums (budget lowered so the pinned
    // refusal doesn't stall the suite for the full 10 s default)
    plantGhost()
    st.overlapRefusalMs = 500L
    val res = st.readBatch(Basin, "nf7", ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
    assert(res.isLeft && res.swap.toOption.get.contains("OverlappingDataObjects"),
      s"persistent overlap must fail loudly: $res")
  }

  test("seeded chaos: concurrent appends/CAS/reads through the flaky " +
    "proxy linearize — retries absorb the faults, the checker sees no " +
    "violations, and faults really were injected") {
    val (st, controls, _, root) = faultRig()
    st.catalog.createStream(Basin, "nf5").fold(e => fail(e), identity)
    val st2 = new StreamStore(spark, root)
    Seq(st, st2).foreach(_.isolateJvmLocks = true)
    controls.faultP = 0.25
    val stores = Vector(st, st2)
    val events = Array.fill(3)(
      scala.collection.mutable.ArrayBuffer.empty[LinEvent])
    val start = new CountDownLatch(1)
    val threads = (0 until 3).map { c =>
      new Thread(() => {
        val rnd = new scala.util.Random(1000L + c)
        var believedTail = 0L
        start.await()
        for (i <- 0 until 15) {
          val s = stores(rnd.nextInt(2))
          def rec(op: LinOp)(run: => LinRes): LinRes = {
            val t0 = System.nanoTime()
            val res = run
            events(c) += LinEvent(c, op, t0, System.nanoTime(), res)
            res
          }
          def toRes(r: Either[AppendError, AppendAck]): LinRes = r match {
            case Right(a) => Committed(a.start.seqNum, a.end.seqNum)
            case Left(AppendError.SeqNumMismatch(e, a)) => CasFail(e, a)
            case Left(other) => Unexpected(other.toString)
          }
          val p = rnd.nextDouble()
          if (c == 1 && p < 0.5) {
            val op = CasAppend(Vector(s"c-$c-$i"), believedTail)
            rec(op)(try toRes(s.append(Basin, "nf5",
              AppendInput(Seq(env(s"c-$c-$i")), matchSeqNum = Some(believedTail)),
              Some(1000L)))
            catch { case _: Throwable => Indefinite }) match {
              case Committed(_, end) => believedTail = end
              case CasFail(_, actual) => believedTail = actual
              case _ =>
            }
          } else if (p < 0.6) {
            val op = PlainAppend(Vector(s"b-$c-$i"))
            rec(op)(try toRes(s.append(Basin, "nf5",
              AppendInput(Seq(env(s"b-$c-$i"))), Some(1000L)))
            catch { case _: Throwable => Indefinite })
          } else if (p < 0.8) {
            rec(TailCheck)(
              try TailSeen(s.checkTail(Basin, "nf5").seqNum)
              catch { case _: Throwable => Indefinite }) match {
              case TailSeen(t) => believedTail = t
              case _ =>
            }
          } else {
            val k = 1 + rnd.nextInt(30)
            rec(ReadPrefix(k))(
              try s.readUnary(Basin, "nf5",
                ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
                  ReadEnd(limit = ReadLimit(count = Some(k.toLong))))) match {
                case Right(rs) => ReadSeen(rs.iterator
                  .map(r => (r.seqNum, new String(r.body, "UTF-8"))).toVector)
                case Left(e) => Unexpected(e)
              } catch { case _: Throwable => Indefinite })
          }
        }
      }, s"nf-chaos-$c")
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    controls.reset()
    val tail = st.checkTail(Basin, "nf5").seqNum
    val log = st.readBatch(Basin, "nf5",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(e), identity)
      .map(r => (r.seqNum, new String(r.body, "UTF-8"))).toVector
    val all = events.toSeq.flatten
    val violations = check(all, log, tail)
    assert(violations.isEmpty,
      s"${violations.size} violations under network faults:\n${violations.take(10).mkString("\n")}")
    assert(tail > 0, "nothing committed under faults — workload vacuous")
    assert(controls.injected.get() > 0,
      "no fault was ever injected — the chaos run proves nothing")
    // log density: seq_nums are exactly 0..tail-1, no dup, no gap
    assert(log.map(_._1) == (0L until tail).toVector, log.take(20))
  }
}
