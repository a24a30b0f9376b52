package graft.log

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import LinModel._

/** Crash-recovery simulation — the environment-fault half of the
  * reference's sim layer (sim/src/scenarios/smoke.rs:1-22,
  * sim/src/s3.rs): a seeded workload runs against two StreamStore
  * instances, one append is then KILLED at a chosen commit fault
  * point, the "process" restarts (fresh instances on the same root),
  * the indefinite op is retried through an AppendSession, and the
  * workload continues. The stitched pre/post-restart history must
  * still linearize ([[LinModel.check]]), with no seq gap, no
  * duplicate, and no orphan or torn data file visible to reads.
  *
  * Kill simulation: the in-process exception path MUST clean up its
  * data file (and does); a killed process cannot. So the commit hook
  * snapshots the in-flight data file and the test restores it after
  * the exception-path cleanup — reproducing byte-for-byte the disk
  * state a `kill -9` at that point leaves behind:
  *
  *  - `KillAfterDataFile`  — complete orphan data file at the
  *    committed tail, manifest not advanced.
  *  - `KillMidManifestRename` — same orphan, plus a torn manifest
  *    temp file in the state dir (casMeta is write-tmp + atomic
  *    rename; a kill between the two leaves the tmp).
  *  - `KillMidDataWrite`   — data file truncated mid-write: no
  *    parquet footer at all.
  *  - `KillAfterCommit`    — the commit fully landed but the ack
  *    never reached the client (lost-ack).
  *
  * Recovery contract exercised: reads clamp at the committed tail and
  * skip footerless files (FileIndex.tryStats), so the orphan is
  * invisible immediately after restart; the first commit on a fresh
  * instance sweeps it (StreamStore.sweepOrphans) so the re-assigned
  * seq range cannot produce duplicates; torn manifest temp files are
  * ignored (the manifest is only ever the atomically-renamed path);
  * and the CAS-guarded session retry resolves the indefinite op
  * exactly-once in every fault case.
  */
/** Round 13: the whole crash matrix runs against BOTH storage
  * backends ([[BackendHarness]]) — POSIX (rename/flock/mtime) and
  * object-store semantics (conditional put, no locks, no torn
  * objects). On the object backend the two write-tearing faults
  * change physics: a PUT is atomic, so `KillMidDataWrite` means the
  * object never landed (nothing to sweep), and there is no manifest
  * temp file to tear (`KillMidManifestRename` degenerates to the
  * whole-orphan case). The protocol-level verdicts — committed tail
  * preserved, orphan invisible then swept, CAS retry exactly-once,
  * stitched history linearizes — are identical.
  */
class RecoverySpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private val Basin = "rec-basin"
  private val Stream = "rec"

  sealed trait Fault
  case object KillAfterDataFile extends Fault
  case object KillMidManifestRename extends Fault
  case object KillMidDataWrite extends Fault
  case object KillAfterCommit extends Fault
  private val Faults =
    Vector(KillAfterDataFile, KillMidManifestRename, KillMidDataWrite, KillAfterCommit)

  // ----------------------------------------------------------------
  // Store plumbing
  // ----------------------------------------------------------------

  private def newRoot(h: BackendHarness): String = {
    val root = h.freshRoot("graft-rec")
    val st = new StreamStore(spark, root)
    st.catalog.createBasin(Basin,
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e.toString), identity)
    st.catalog.createStream(Basin, Stream).fold(e => fail(e.toString), identity)
    root
  }

  private def dataDir(root: String): Path =
    Paths.get(Layout.genDir(root, Basin, Stream, 0L))

  private def listData(h: BackendHarness, root: String): Set[String] =
    h.listData(root, dataDir(root))

  private def appendInput(bodies: Vector[String],
                          matchSeq: Option[Long] = None): AppendInput =
    AppendInput(bodies.map(b => EnvelopeRecord(Nil, b.getBytes("UTF-8"))),
      matchSeqNum = matchSeq)

  private def finalState(st: StreamStore): (Vector[(Long, String)], Long) = {
    val tail = st.checkTail(Basin, Stream).seqNum
    val log = st.readBatch(Basin, Stream,
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(e.toString), identity)
      .iterator.map(r => (r.seqNum, new String(r.body, "UTF-8"))).toVector
    (log, tail)
  }

  // ----------------------------------------------------------------
  // Workload phases (sequential, seeded; concurrency is
  // LinearizabilitySpec's job — this spec is about crash points)
  // ----------------------------------------------------------------

  private def runPhase(stores: Vector[StreamStore], rnd: scala.util.Random,
                       client: Int, ops: Int, tag: String,
                       events: ArrayBuffer[LinEvent]): Unit = {
    var believedTail = -1L
    for (i <- 0 until ops) {
      val st = stores(rnd.nextInt(stores.size))
      def rec(op: LinOp)(run: => LinRes): LinRes = {
        val t0 = System.nanoTime()
        val res = run
        events += LinEvent(client, op, t0, System.nanoTime(), res)
        res
      }
      def doAppend(op: LinOp, input: AppendInput): LinRes =
        try st.append(Basin, Stream, input) match {
          case Right(ack) => Committed(ack.start.seqNum, ack.end.seqNum)
          case Left(AppendError.SeqNumMismatch(exp, act)) => CasFail(exp, act)
          case Left(other) => Unexpected(other.toString)
        } catch { case _: Throwable => Indefinite }
      val p = rnd.nextDouble()
      if (p < 0.45) {
        val bodies = (0 until 1 + rnd.nextInt(3))
          .map(k => s"$tag-$client-$i-$k").toVector
        rec(PlainAppend(bodies))(doAppend(PlainAppend(bodies), appendInput(bodies)))
      } else if (p < 0.65 && believedTail >= 0) {
        val bodies = Vector(s"$tag-$client-$i-cas")
        val op = CasAppend(bodies, believedTail)
        rec(op)(doAppend(op, appendInput(bodies, Some(believedTail)))) match {
          case Committed(_, end) => believedTail = end
          case CasFail(_, actual) => believedTail = actual
          case _ =>
        }
      } else if (p < 0.85) {
        rec(TailCheck)(
          try TailSeen(st.checkTail(Basin, Stream).seqNum)
          catch { case _: Throwable => Indefinite }) match {
          case TailSeen(t) => believedTail = t
          case _ =>
        }
      } else {
        val k = 1 + rnd.nextInt(30)
        rec(ReadPrefix(k))(
          try st.readUnary(Basin, Stream,
            ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
              ReadEnd(limit = ReadLimit(count = Some(k.toLong))))) match {
            case Right(recs) => ReadSeen(recs.iterator
              .map(r => (r.seqNum, new String(r.body, "UTF-8"))).toVector)
            case Left(err) => Unexpected(err.toString)
          } catch { case _: Throwable => Indefinite })
      }
    }
  }

  // ----------------------------------------------------------------
  // The kill
  // ----------------------------------------------------------------

  /** Runs `input` against `st` and kills it at `fault`; returns the
    * data-file names the dead process left in the stream directory.
    */
  private def crashAppend(h: BackendHarness, st: StreamStore, root: String,
                          input: AppendInput, fault: Fault,
                          seed: Long): Set[String] = {
    val dir = dataDir(root)
    val before = listData(h, root)
    val saved = ArrayBuffer.empty[(String, Array[Byte])]
    st.beforeManifestCommit = () => {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !before(p.getFileName.toString))
        .foreach(p => saved += ((p.getFileName.toString, Files.readAllBytes(p))))
      finally s.close()
      throw new RuntimeException("injected kill")
    }
    try {
      st.append(Basin, Stream, input)
      fail("append survived an injected kill")
    } catch {
      case e: RuntimeException if e.getMessage == "injected kill" => ()
    } finally st.beforeManifestCommit = () => ()
    assert(saved.nonEmpty, "kill hook saw no in-flight data file")
    // the exception path cleaned up (it must); a killed process cannot
    // — restore the dead writer's put. Backend physics differ exactly
    // here: a mid-write kill leaves a footerless file on POSIX but
    // NOTHING on an object store (PUT is atomic — the upload that
    // never completed never existed).
    if (fault == KillMidDataWrite && !h.supportsTorn) return Set.empty
    saved.foreach { case (name, bytes) =>
      val out = fault match {
        case KillMidDataWrite => bytes.take(bytes.length / 2) // no footer
        case _ => bytes
      }
      h.restoreDead(root, dir, name, out)
    }
    if (fault == KillMidManifestRename && h.supportsTorn) {
      // rename mechanics: only POSIX has a manifest temp file to tear
      val state = Layout.statePath(root, Basin, Stream)
      Files.writeString(
        state.resolveSibling(s".tmp-torn-$seed.json"),
        "{\"tailSeq\": 9")
    }
    saved.map(_._1).toSet
  }

  // ----------------------------------------------------------------
  // One full kill/restart/retry scenario
  // ----------------------------------------------------------------

  private def runScenario(h: BackendHarness, seed: Long, fault: Fault): Unit = {
    val root = newRoot(h)
    val rnd = new scala.util.Random(seed)
    val events = ArrayBuffer.empty[LinEvent]

    // phase 1: two clients over two instances
    val stores1 = Vector(new StreamStore(spark, root), new StreamStore(spark, root))
    runPhase(stores1, rnd, client = 0, ops = 12, tag = "p1", events)
    runPhase(stores1, rnd, client = 1, ops = 12, tag = "p1", events)

    // the doomed op: CAS-guarded so its retry is exactly-once
    val tailAtCrash = stores1(0).checkTail(Basin, Stream).seqNum
    val crashBodies = (0 until 2).map(k => s"crash-$seed-$k").toVector
    val crashInput = appendInput(crashBodies, Some(tailAtCrash))
    val crashT0 = System.nanoTime()
    val deadFiles: Set[String] = fault match {
      case KillAfterCommit =>
        // commit fully lands; only the ack is lost
        stores1(rnd.nextInt(2)).append(Basin, Stream, crashInput)
          .fold(e => fail(s"append failed: $e"), _ => ())
        Set.empty
      case f => crashAppend(h, stores1(rnd.nextInt(2)), root, crashInput, f, seed)
    }

    // ---- restart: the process is gone; fresh instances on the root
    val stores2 = Vector(new StreamStore(spark, root), new StreamStore(spark, root))

    // orphan/torn files are ON DISK but invisible to reads and tail
    val committedTail =
      if (fault == KillAfterCommit) tailAtCrash + crashBodies.size else tailAtCrash
    if (fault != KillAfterCommit) {
      assert(deadFiles.subsetOf(listData(h, root)),
        "kill simulation lost the dead writer's file")
    }
    val (logAfterRestart, tailAfterRestart) = finalState(stores2(0))
    assert(tailAfterRestart == committedTail,
      s"restart tail $tailAfterRestart != committed $committedTail")
    assert(logAfterRestart.size.toLong == committedTail,
      "read saw records beyond the committed tail after restart")
    if (fault == KillAfterCommit)
      assert(logAfterRestart.takeRight(crashBodies.size).map(_._2) == crashBodies,
        "lost-ack commit missing from the restarted log")
    else
      assert(!logAfterRestart.exists(r => crashBodies.contains(r._2)),
        "uncommitted records visible after restart")

    // ---- retry the indefinite op through an AppendSession
    val session = new AppendSession(stores2(0), Basin, Stream)
    val retryRes =
      try Await.result(session.submit(crashInput), 30.seconds)
      finally session.close()
    val resolved: LinRes = retryRes match {
      case Right(ack) => Committed(ack.start.seqNum, ack.end.seqNum)
      case Left(session.SessionError.Append(AppendError.SeqNumMismatch(exp, _))) =>
        // tail moved past our CAS: either OUR original landed there, or
        // someone else took the range. Resolve by reading it back —
        // exactly what a producer resuming after a crash does.
        val slice = stores2(0).readUnary(Basin, Stream,
          ReadSpec(ReadStart(ReadFrom.SeqNum(exp)),
            ReadEnd(limit = ReadLimit(count = Some(crashBodies.size.toLong)))))
          .fold(e => fail(e.toString), identity)
          .iterator.map(r => new String(r.body, "UTF-8")).toVector
        if (slice == crashBodies) Committed(exp, exp + crashBodies.size)
        else CasFail(exp, stores2(0).checkTail(Basin, Stream).seqNum)
      case other => fail(s"unexpected retry outcome: $other")
    }
    events += LinEvent(2, CasAppend(crashBodies, tailAtCrash),
      crashT0, System.nanoTime(), resolved)
    resolved match {
      case Committed(a, b) =>
        assert(a == tailAtCrash && b == tailAtCrash + crashBodies.size,
          s"retry resolved to [$a,$b), expected [$tailAtCrash,...)")
      case other => fail(s"crash op failed to resolve exactly-once: $other")
    }

    // the first commit on a fresh instance swept the dead writer's file
    if (fault != KillAfterCommit)
      assert(deadFiles.intersect(listData(h, root)).isEmpty,
        "recovery did not sweep the dead writer's file")

    // ---- phase 2: workload continues on the restarted instances
    runPhase(stores2, rnd, client = 3, ops = 12, tag = "p2", events)
    runPhase(stores2, rnd, client = 4, ops = 12, tag = "p2", events)

    // ---- verdicts over the stitched history
    val (log, tail) = finalState(stores2(1))
    assert(log.map(_._1) == (0L until tail).toVector,
      s"seed $seed $fault: seq gap or duplicate in the final log")
    assert(log.map(_._2).distinct.size == log.size,
      s"seed $seed $fault: duplicate bodies — a record committed twice")
    assert(log.count(r => crashBodies.contains(r._2)) == crashBodies.size,
      s"seed $seed $fault: crash op not exactly-once in the final log")
    val violations = LinModel.check(events.toSeq, log, tail)
    assert(violations.isEmpty,
      s"seed $seed $fault: ${violations.size} violations:\n" +
        violations.take(10).mkString("\n"))
    assert(tail > committedTail, s"seed $seed $fault: phase 2 committed nothing")
  }

  // ----------------------------------------------------------------
  // Specs: every fault point, ≥2 seeds each
  // ----------------------------------------------------------------

  for (h <- BackendHarness.all)
    for ((fault, fi) <- Faults.zipWithIndex)
      for (s <- 0 until 2) {
        val seed = 100L * (fi + 1) + s
        test(s"[${h.label}] kill/restart at $fault recovers exactly-once (seed $seed)") {
          runScenario(h, seed, fault)
        }
      }

  test("torn data file alone: reads skip it, recovery deletes it") {
    // No committed records at all — the very first append dies
    // mid-write. The footerless file must not wedge reads (the
    // pre-fix behavior: ParquetFileReader throws through listStats)
    // and must be gone after the first successful commit.
    val h = BackendHarness.PosixHarness // torn files are POSIX physics
    val root = newRoot(h)
    val st1 = new StreamStore(spark, root)
    val dead = crashAppend(h, st1, root,
      appendInput(Vector("t0", "t1")), KillMidDataWrite, seed = 999L)
    val st2 = new StreamStore(spark, root)
    assert(st2.checkTail(Basin, Stream).seqNum == 0L)
    val log = st2.readBatch(Basin, Stream,
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(e.toString), identity)
    assert(log.isEmpty, "torn file leaked records into a read")
    st2.append(Basin, Stream, appendInput(Vector("fresh")))
      .fold(e => fail(e.toString), identity)
    assert(dead.intersect(listData(h, root)).isEmpty, "torn file survived recovery")
    val (log2, tail2) = finalState(st2)
    assert(tail2 == 1L && log2.map(_._2) == Vector("fresh"))
  }

  test("footer magic intact but unreadable stats: loud failure, never swept") {
    // The torn-file classification must be PROVABLE tornness (missing
    // parquet tail magic), not "any stats failure": a corrupt-but-
    // footer-terminated file is indistinguishable from a transient
    // I/O error on a COMMITTED file, and silently skipping (or worse,
    // sweeping) it would drop committed records. tryStats must
    // propagate the error; only the magicless file reads as None.
    val dir = BackendHarness.tempDir("graft-torncheck")
    val withMagic = dir.resolve("fake-committed.parquet")
    java.nio.file.Files.write(withMagic,
      ("not a parquet file at all" + "PAR1").getBytes)
    val noMagic = dir.resolve("torn.parquet")
    java.nio.file.Files.write(noMagic, "truncated mid-write".getBytes)
    assert(graft.log.FileIndex.tryStats(noMagic.toString).isEmpty,
      "magicless file must classify as torn")
    intercept[Exception] {
      graft.log.FileIndex.tryStats(withMagic.toString)
    }
  }
}
