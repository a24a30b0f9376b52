package graft.log


import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._

/** The reference's `sim meta` check (sim/README.md:1-25): run one
  * seeded fault scenario TWICE and diff the traces — the cheap
  * regression guard that catches nondeterminism creeping into a
  * "seeded" suite (an unseeded random, a wall-clock leak, an
  * iteration-order dependence). Here the scenario is a single-client
  * seeded workload speaking real HTTP through the fault-injecting
  * [[NetFaultProxy]] to a records server with a pinned clock; the
  * trace is the full operation history (request descriptor → status +
  * normalized body). Byte-identical histories across runs = the
  * workload, the proxy's seeded fault schedule, and the engine's
  * visible behavior are all replayable.
  *
  * Teeth: the meta-check must FAIL when nondeterminism is injected —
  * the canonical example is an unseeded shuffle of the op order
  * (sim/README's own motivating case).
  */
class DeterminismSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  /** One op: (label, method, path+query, body). Built from the seed
    * only, so two runs with one seed issue identical request
    * sequences — the proxy's at-most-once fault memo then fires on
    * identical request identities in identical order. */
  private def buildOps(seed: Long): Seq[(String, String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val ops = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String)]
    var believedTail = 0L
    for (i <- 0 until 40) rnd.nextInt(6) match {
      case 0 | 1 => // plain append, 1-3 records
        val recs = (0 until 1 + rnd.nextInt(3))
          .map(k => s"""{"body":"d-$i-$k"}""").mkString(",")
        ops += (("append", "POST", "/v1/streams/det/records",
          s"""{"records":[$recs]}"""))
        believedTail += 1
      case 2 => // CAS append at the client's (possibly stale) belief
        ops += (("cas", "POST", "/v1/streams/det/records",
          s"""{"records":[{"body":"c-$i"}],"match_seq_num":${believedTail % 7}}"""))
      case 3 =>
        ops += (("tail", "GET", "/v1/streams/det/records/tail", null))
      case 4 =>
        ops += (("read", "GET",
          s"/v1/streams/det/records?seq_num=${rnd.nextInt(5)}&count=${1 + rnd.nextInt(8)}",
          null))
      case 5 => // fence with a seed-derived token
        ops += (("fence", "POST", "/v1/streams/det/records",
          s"""{"records":[{"headers":[["","fence"]],"body":"t-$i"}]}"""))
    }
    ops.toSeq
  }

  /** Execute the scenario on a FRESH root and return its trace. */
  private def runScenario(seed: Long,
                          shuffleUnseeded: Boolean = false): String = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-det").toString)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st.catalog.createStream("test-basin", "det")
    val (server, ep) = HttpRecordsServer.start(st, Some(1000L))
    val (proxy, pep, controls) = NetFaultProxy.start(ep, seed)
    controls.faultP = 0.3
    try {
      val ops0 = buildOps(seed)
      val ops =
        if (shuffleUnseeded) new scala.util.Random().shuffle(ops0) else ops0
      val hdr = Seq("s2-basin" -> "test-basin")
      val trace = new StringBuilder
      ops.zipWithIndex.foreach { case ((label, method, pathQ, body), i) =>
        val outcome =
          try {
            val (code, resp) = HttpRecordsClient.request(method, pep + pathQ,
              hdr, if (body == null) null else body.getBytes("UTF-8"))
            // normalize the one legitimately volatile field (SSE pings
            // are not used; everything else is pinned by nowMs)
            s"$code:${resp.replaceAll(""""created_at":"[^"]*"""", "")}"
          } catch {
            // a dropped request/response surfaces as an IO error; the
            // CLASS of failure is deterministic under the seeded
            // schedule even though the exception text may not be
            case _: java.io.IOException => "io-error"
          }
        trace.append(s"$i $label $method $pathQ -> $outcome\n")
      }
      // close with the final durable state: tail + full log bodies —
      // replayed faults must land the SAME committed history
      val m = st.manifest("test-basin", "det")
      val bodies = st.readBatch("test-basin", "det",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
        .map(r => new String(r.body, "UTF-8")).mkString(",")
      trace.append(s"final tail=${m.tailSeq} log=$bodies\n")
      trace.toString
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("sim-meta: one seeded fault scenario replays byte-identically") {
    for (seed <- Seq(7L, 23L)) {
      val a = runScenario(seed)
      val b = runScenario(seed)
      // byte-identical trace, not just same final state
      assert(a == b, {
        val diffAt = a.zip(b).indexWhere { case (x, y) => x != y }
        s"seed $seed: traces diverge at char $diffAt:\n" +
          s"A: ...${a.slice(diffAt - 80, diffAt + 80)}\n" +
          s"B: ...${b.slice(diffAt - 80, diffAt + 80)}"
      })
      assert(a.contains("io-error"),
        s"seed $seed: vacuous — no fault ever fired under faultP=0.3")
    }
  }

  test("teeth: an unseeded shuffle in the workload is caught by the diff") {
    val a = runScenario(7L, shuffleUnseeded = true)
    val b = runScenario(7L, shuffleUnseeded = true)
    // 40 ops shuffled by an unseeded RNG: identical order has
    // probability ~1/40! — a hit means the shuffle wasn't applied
    assert(a != b, "unseeded shuffle went undetected by the meta-check")
  }
}
