package graft.log


import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** The v1 records/catalog serving layer under NetFaultProxy (VERDICT
  * r17 task #4): the storage backend has had fault discipline since
  * r16; this puts the CLIENT-facing API under the same proxy. Four
  * directed cases pin the reference SDK's retry contract, then a
  * seeded sweep drives a chained-CAS client through randomized faults
  * and asserts exactly-once content:
  *
  *  (a) unary append POST, response lost, retry WITH match_seq_num →
  *      exactly-once: the retry answers 412 whose `seq_num_mismatch`
  *      equals the chained position + batch size, which IS the SDK's
  *      "my batch landed" signal (sdk/src/batching.rs:138-159 chains
  *      match_seq_num precisely so a blind resend can never
  *      double-append);
  *  (b) the same lost response retried WITHOUT match_seq_num →
  *      documented at-least-once: the batch lands twice — the server
  *      cannot distinguish a retry from a new append without the
  *      condition, exactly why the SDK always chains it;
  *  (c) SSE connection killed MID-FRAME (not the clean post-event
  *      hang-up e2e_http_records covers): reconnecting with the last
  *      COMPLETE event's `Last-Event-ID` delivers exactly the
  *      remainder — no duplicate of the processed prefix, no loss of
  *      the torn batch (records.rs:49-65 apply_last_event_id);
  *  (d) idempotent `s2-request-token` create under a network-level
  *      duplicate (forwarded twice, client answered from the second):
  *      one basin, 201 + noop provision result on the duplicate
  *      (basins.rs:60-120 retry contract).
  */
class RecordsApiFaultSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def utf8(s: String) = s.getBytes("UTF-8")

  /** store + real server + fault proxy in front of it. */
  private def harness(): (StreamStore, com.sun.net.httpserver.HttpServer,
      com.sun.net.httpserver.HttpServer, String, NetFaultProxy.Controls) = {
    val st = new StreamStore(spark, BackendHarness.tempDir("graft-rafault").toString)
    st.catalog.createBasin("fault-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    val (server, endpoint) = HttpRecordsServer.start(st)
    val (proxy, proxyEp, controls) = NetFaultProxy.start(endpoint)
    (st, server, proxy, proxyEp, controls)
  }

  private val hdr = Seq("s2-basin" -> "fault-basin")

  /** POST through the proxy; a dropped request/response surfaces as an
    * IOException → None (the client's view of a timeout). */
  private def tryPost(url: String, body: String): Option[(Int, String)] =
    try Some(HttpRecordsClient.request("POST", url, hdr, utf8(body)))
    catch { case _: java.io.IOException => None }

  private def bodiesIn(st: StreamStore, stream: String): Seq[String] =
    st.readBatch("fault-basin", stream, ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .toOption.get.map(r => new String(r.body, "UTF-8"))

  test("(a) lost append response + retry WITH match_seq_num = exactly-once") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      st.catalog.createStream("fault-basin", "cas")
      val url = s"$proxyEp/v1/streams/cas/records"
      val body = """{"records":[{"body":"a0"},{"body":"a1"}],"match_seq_num":0}"""
      // exactly one DropResponse, on this POST only
      var armed = true
      controls.script = (m, p, _) =>
        if (m == "POST" && p.endsWith("/cas/records") && armed) {
          armed = false; NetFaultProxy.Fault.DropResponse
        } else NetFaultProxy.Fault.None
      assert(tryPost(url, body).isEmpty, "response should have been swallowed")
      // blind resend of the SAME conditioned request: the chain makes
      // the duplicate decidable — 412 carrying tail == 0 + 2
      val Some((code, resp)) = tryPost(url, body)
      assert(code == 412, s"expected 412, got $code: $resp")
      assert(resp.contains("\"seq_num_mismatch\":2"),
        s"mismatch must reveal the landed batch: $resp")
      assert(bodiesIn(st, "cas") == Seq("a0", "a1")) // once, not twice
      assert(controls.injected.get() == 1)
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("(b) lost append response + retry WITHOUT match_seq_num = at-least-once (documented)") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      st.catalog.createStream("fault-basin", "blind")
      val url = s"$proxyEp/v1/streams/blind/records"
      val body = """{"records":[{"body":"b0"}]}"""
      var armed = true
      controls.script = (m, p, _) =>
        if (m == "POST" && p.endsWith("/blind/records") && armed) {
          armed = false; NetFaultProxy.Fault.DropResponse
        } else NetFaultProxy.Fault.None
      assert(tryPost(url, body).isEmpty)
      val Some((code, _)) = tryPost(url, body)
      assert(code == 200)
      // the unconditioned retry DOUBLE-APPENDS — this is the
      // at-least-once outcome the SDK's chaining exists to prevent
      assert(bodiesIn(st, "blind") == Seq("b0", "b0"))
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("(c) SSE killed mid-frame: Last-Event-ID resume delivers exactly the remainder") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      st.catalog.createStream("fault-basin", "sse")
      st.append("fault-basin", "sse",
        AppendInput(Seq(EnvelopeRecord(Nil, utf8("s0")), EnvelopeRecord(Nil, utf8("s1")))))
        .fold(e => fail(e.toString), identity)
      // live follow DIRECTLY against the server (the kill is client-
      // side); proxy plays no role here
      val base = s"http://${server.getAddress.getHostString}:${server.getAddress.getPort}"
      val c = new java.net.URL(s"$base/v1/streams/sse/records?seq_num=0&wait=30")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestProperty("Accept", "text/event-stream")
      hdr.foreach { case (k, v) => c.setRequestProperty(k, v) }
      assert(c.getResponseCode == 200)
      val in = c.getInputStream
      // consume complete events (each terminated by \n\n) until the
      // catch-up batch arrives — a ping may legitimately precede it
      def nextEvent(): String = {
        val ev = new StringBuilder
        while (!ev.toString.endsWith("\n\n")) ev.append(in.read().toChar)
        ev.toString
      }
      var ev1 = nextEvent()
      while (!ev1.contains("event: batch")) ev1 = nextEvent()
      assert(ev1.contains("\"body\":\"s0\"") &&
        ev1.contains("\"body\":\"s1\""), s"first batch event: $ev1")
      val id1 = "id: ([^\n]+)".r.findFirstMatchIn(ev1).get.group(1)
      // a second batch lands while connected; its event starts flowing
      st.append("fault-basin", "sse",
        AppendInput(Seq(EnvelopeRecord(Nil, utf8("s2")), EnvelopeRecord(Nil, utf8("s3")))))
        .fold(e => fail(e.toString), identity)
      // read INTO the next frame (a few bytes, never to its \n\n
      // boundary), then kill the connection — the torn frame was
      // received but never processed
      val torn = new StringBuilder
      (0 until 3).foreach(_ => torn.append(in.read().toChar))
      assert(!torn.toString.endsWith("\n\n"), "kill must land mid-frame")
      c.disconnect()
      // reconnect from the last COMPLETE event: exactly s2,s3 —
      // nothing duplicated, nothing lost
      val resumed = HttpRecordsClient.readSse(
        s"$base/v1/streams/sse/records?wait=1", hdr :+ ("Last-Event-ID" -> id1))
      val bodies = resumed.collect {
        case HttpRecordsClient.SseEvent(Some("batch"), _, d) =>
          """"body":"([^"]+)"""".r.findAllMatchIn(d).map(_.group(1)).toSeq
      }.flatten
      assert(bodies == Seq("s2", "s3"), s"resume delivered $bodies")
      assert(resumed.lastOption.exists(_.data == "[DONE]"))
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("(d) s2-request-token create under a network duplicate: one basin, noop replay") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      controls.script = (m, p, _) =>
        if (m == "POST" && p == "/v1/basins")
          NetFaultProxy.Fault.DuplicateAnswerSecond
        else NetFaultProxy.Fault.None
      val (code, body, headers) = HttpRecordsClient.requestAny("POST",
        s"$proxyEp/v1/basins", Seq("s2-request-token" -> "rf-tok-1"),
        utf8("""{"basin":"rf-dup-basin"}"""))
      // client's answer comes from the SECOND forward: the replay is
      // a noop create, same 201, same basin — not a 409 and not a twin
      assert(code == 201, s"duplicate create answered $code: $body")
      assert(headers.firstValue("s2-provision-result").orElse("?") == "noop")
      assert(st.catalog.getBasin("rf-dup-basin").isDefined)
      assert(controls.injected.get() == 1)
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("(e) S2S framed append session, response lost: chained retry answers an in-band terminal 412 = exactly-once") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      st.catalog.createStream("fault-basin", "s2scas")
      val url = s"$proxyEp/v1/streams/s2scas/records"
      // the SDK chain, framed: every input conditions on its own
      // position, so a replay of the WHOLE session is decidable
      val inputs = Seq(
        """{"records":[{"body":"c0"},{"body":"c1"}],"match_seq_num":0}""",
        """{"records":[{"body":"c2"},{"body":"c3"}],"match_seq_num":2}""")
      var armed = true
      controls.script = (m, p, _) =>
        if (m == "POST" && p.endsWith("/s2scas/records") && armed) {
          armed = false; NetFaultProxy.Fault.DropResponse
        } else NetFaultProxy.Fault.None
      // first attempt: applied server-side (both frames), acks swallowed
      val lost = try Some(HttpRecordsClient.s2sAppendSession(url, hdr, inputs))
        catch { case _: java.io.IOException => None }
      assert(lost.isEmpty, "ack frames should have been swallowed")
      // blind resend of the same framed session: the first frame's
      // condition fails against the landed tail — the 412 rides IN a
      // terminal frame (not an HTTP error), and its mismatch equals
      // chain start + total records, the "my whole session landed"
      // signal (sdk/src/batching.rs:138-159 over s2s framing)
      val frames = HttpRecordsClient.s2sAppendSession(url, hdr, inputs)
      assert(frames.size == 1 && frames.head.terminal,
        s"expected a lone terminal frame, got $frames")
      assert(frames.head.status == 412, s"terminal status ${frames.head.status}")
      assert(frames.head.payloadUtf8.contains("\"seq_num_mismatch\":4"),
        s"mismatch must reveal the landed session: ${frames.head.payloadUtf8}")
      assert(bodiesIn(st, "s2scas") == Seq("c0", "c1", "c2", "c3")) // once
      assert(controls.injected.get() == 1)
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("(f) S2S framed read killed mid-frame: seq resume delivers exactly the remainder") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      st.catalog.createStream("fault-basin", "s2sread")
      st.append("fault-basin", "s2sread",
        AppendInput(Seq(EnvelopeRecord(Nil, utf8("f0")), EnvelopeRecord(Nil, utf8("f1")))))
        .fold(e => fail(e.toString), identity)
      // live framed follow directly against the server (the kill is
      // client-side, as in (c))
      val base = s"http://${server.getAddress.getHostString}:${server.getAddress.getPort}"
      val c = new java.net.URL(s"$base/v1/streams/s2sread/records?seq_num=0&wait=30")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestProperty("Content-Type", S2sCodec.ContentType)
      hdr.foreach { case (k, v) => c.setRequestProperty(k, v) }
      assert(c.getResponseCode == 200)
      val in = c.getInputStream
      def bodiesOf(f: S2sCodec.Frame): Seq[String] =
        """"body":"([^"]+)"""".r.findAllMatchIn(f.payloadUtf8).map(_.group(1)).toSeq
      def lastRecordSeq(f: S2sCodec.Frame): Long = {
        val recordsOnly = f.payloadUtf8.replaceAll(""""tail":\{[^}]*\}""", "")
        """"seq_num":(\d+)""".r.findAllMatchIn(recordsOnly).map(_.group(1).toLong).max
      }
      // first COMPLETE frame carrying records = the catch-up batch (an
      // empty-batch heartbeat frame may legitimately precede it)
      var f1 = S2sCodec.readFrame(in).getOrElse(fail("no catch-up frame"))
      while (bodiesOf(f1).isEmpty)
        f1 = S2sCodec.readFrame(in).getOrElse(fail("session closed before catch-up"))
      assert(bodiesOf(f1) == Seq("f0", "f1"), s"catch-up frame: ${f1.payloadUtf8}")
      // a second batch lands while connected; its frame starts flowing
      st.append("fault-basin", "s2sread",
        AppendInput(Seq(EnvelopeRecord(Nil, utf8("f2")), EnvelopeRecord(Nil, utf8("f3")))))
        .fold(e => fail(e.toString), identity)
      // read INTO the next frame (2 bytes — inside its length prefix,
      // never to a boundary), then kill: received but never processed
      assert(in.read() >= 0 && in.read() >= 0, "next frame never started")
      c.disconnect()
      // resume from the last COMPLETE frame's last record: exactly the
      // remainder — nothing duplicated, nothing lost
      val resumed = HttpRecordsClient.s2sReadSession(
        s"$base/v1/streams/s2sread/records?seq_num=${lastRecordSeq(f1) + 1}&count=2", hdr)
      assert(resumed.flatMap(bodiesOf) == Seq("f2", "f3"),
        s"resume delivered ${resumed.map(_.payloadUtf8)}")
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("(g) s2s/proto framed session, response lost: the chained-retry contract holds on the protobuf wire") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      st.catalog.createStream("fault-basin", "pbcas")
      val url = s"$proxyEp/v1/streams/pbcas/records"
      def env(s: String) = EnvelopeRecord(Nil, utf8(s))
      // the SDK chain as PROTO frames: same conditioning, binary wire
      val inputs = Seq(
        AppendInput(Seq(env("g0"), env("g1")), matchSeqNum = Some(0L),
          clientTimestamps = Seq(None, None)),
        AppendInput(Seq(env("g2"), env("g3")), matchSeqNum = Some(2L),
          clientTimestamps = Seq(None, None)))
      val frames = inputs.map(ProtoCodec.encodeAppendInput)
      var armed = true
      controls.script = (m, p, _) =>
        if (m == "POST" && p.endsWith("/pbcas/records") && armed) {
          armed = false; NetFaultProxy.Fault.DropResponse
        } else NetFaultProxy.Fault.None
      val lost = try Some(HttpRecordsClient.s2sAppendSessionRaw(url, hdr,
        frames, gzip = false, S2sCodec.ProtoContentType))
        catch { case _: java.io.IOException => None }
      assert(lost.isEmpty, "ack frames should have been swallowed")
      // blind framed-proto resend: in-band terminal 412, mismatch =
      // chain start + total records — identical to the JSON wire (e)
      val replay = HttpRecordsClient.s2sAppendSessionRaw(url, hdr,
        frames, gzip = false, S2sCodec.ProtoContentType)
      assert(replay.size == 1 && replay.head.terminal &&
        replay.head.status == 412, s"expected lone terminal 412: $replay")
      assert(replay.head.payloadUtf8.contains("\"seq_num_mismatch\":4"),
        s"terminal body: ${replay.head.payloadUtf8}")
      assert(bodiesIn(st, "pbcas") == Seq("g0", "g1", "g2", "g3")) // once
      assert(controls.injected.get() == 1)
      // and the unary proto wire: the same lost-response retry answers
      // 412 whose body is JSON ErrorInfo even under Accept: protobuf
      val unaryUrl = s"$proxyEp/v1/streams/pbcas/records"
      val one = ProtoCodec.encodeAppendInput(AppendInput(Seq(env("g4")),
        matchSeqNum = Some(4L), clientTimestamps = Seq(None)))
      armed = true
      controls.script = (m, p, _) =>
        if (m == "POST" && p.endsWith("/pbcas/records") && armed) {
          armed = false; NetFaultProxy.Fault.DropResponse
        } else NetFaultProxy.Fault.None
      val protoHdr = hdr ++ Seq("Content-Type" -> ProtoCodec.ContentType,
        "Accept" -> ProtoCodec.ContentType)
      val lostUnary = try Some(HttpRecordsClient.requestBinary(
        "POST", unaryUrl, protoHdr, one))
        catch { case _: java.io.IOException => None }
      assert(lostUnary.isEmpty)
      val (rc, rbody, rct) = HttpRecordsClient.requestBinary(
        "POST", unaryUrl, protoHdr, one)
      assert(rc == 412 && rct.startsWith("application/json"),
        s"unary proto retry: $rc $rct")
      assert(new String(rbody, "UTF-8").contains("\"seq_num_mismatch\":5"))
      assert(bodiesIn(st, "pbcas") == Seq("g0", "g1", "g2", "g3", "g4"))
    } finally { proxy.stop(0); server.stop(0) }
  }

  test("seeded sweep: chained-CAS client sustains randomized faults with exactly-once content") {
    val (st, server, proxy, proxyEp, controls) = harness()
    try {
      controls.faultP = 0.5
      controls.delayMs = 5
      val streams = (0 until 4).map(i => s"sw-$i")
      streams.foreach(s => st.catalog.createStream("fault-basin", s))
      def tailOf(stream: String): Long = {
        // reads are idempotent: plain bounded retry
        (0 until 3).foreach { _ =>
          try {
            val (c, b) = HttpRecordsClient.request("GET",
              s"$proxyEp/v1/streams/$stream/records/tail", hdr)
            if (c == 200)
              return """"seq_num":(\d+)""".r.findFirstMatchIn(b).get.group(1).toLong
          } catch { case _: java.io.IOException => () }
        }
        fail(s"tail of $stream unreachable after 3 attempts")
      }
      // the SDK contract under test: every append chains match_seq_num
      // from the last KNOWN position; on a swallowed response the
      // resend's 412 mismatch==pos+n proves the first landed
      def appendChained(stream: String, bodies: Seq[String]): Unit = {
        val pos = tailOf(stream)
        val req = s"""{"records":[${bodies.map(b => s"""{"body":"$b"}""").mkString(",")}],"match_seq_num":$pos}"""
        val url = s"$proxyEp/v1/streams/$stream/records"
        (0 until 3).foreach { _ =>
          tryPost(url, req) match {
            case Some((200, _)) => return
            case Some((412, resp)) =>
              val got = """"seq_num_mismatch":(\d+)""".r
                .findFirstMatchIn(resp).get.group(1).toLong
              assert(got == pos + bodies.size,
                s"foreign interleave on $stream: $resp (expected ${pos + bodies.size})")
              return // our batch landed on a prior swallowed attempt
            case Some((code, resp)) => fail(s"append $stream: HTTP $code $resp")
            case None => () // dropped request or response: resend
          }
        }
        fail(s"append to $stream made no progress in 3 attempts")
      }
      val rounds = 15
      (0 until rounds).foreach { r =>
        streams.foreach(s => appendChained(s, Seq(s"$s-r$r-x", s"$s-r$r-y")))
      }
      streams.foreach { s =>
        val expect = (0 until rounds).flatMap(r => Seq(s"$s-r$r-x", s"$s-r$r-y"))
        assert(bodiesIn(st, s) == expect, s"$s content diverged")
      }
      assert(controls.injected.get() > 0, "sweep injected no faults — vacuous")
    } finally { proxy.stop(0); server.stop(0) }
  }
}
