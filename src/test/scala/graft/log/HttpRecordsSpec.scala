package graft.log

import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import HttpRecordsClient._

/** The v1 records serving surface (HttpRecordsServer) against the
  * reference handler semantics (lite/src/handlers/v1/records.rs):
  * unary append/read JSON shapes, condition-failed 412 bodies,
  * 404/416 mapping, base64 format, encryption-key header, long-poll
  * unary reads, and the SSE session's Last-Event-ID budget
  * arithmetic (records.rs:49-65). The e2e demo covers the happy
  * reconnect path inside the oracle gate; this spec covers the edges.
  */
class HttpRecordsSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def served(cipher: Option[CipherAlgo] = None)
      : (StreamStore, com.sun.net.httpserver.HttpServer, String) = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-http-records").toString)
    st.catalog.createBasin("rec-basin",
      BasinConfig(
        defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
        streamCipher = cipher))
    st.catalog.createStream("rec-basin", "s")
    val (server, endpoint) = HttpRecordsServer.start(st, Some(1000L))
    (st, server, endpoint)
  }

  private val hdr = Seq("s2-basin" -> "rec-basin")

  test("unary append ack, tail check, and unary read round-trip the " +
    "reference JSON shapes (headers as [name,value] pairs, tail present)") {
    val (_, server, ep) = served()
    try {
      val (code, ack) = request("POST", s"$ep/v1/streams/s/records", hdr,
        """{"records":[{"body":"a","headers":[["k","v"]]},{"body":"b"}]}"""
          .getBytes("UTF-8"))
      assert(code == 200, ack)
      assert(ack.contains(""""start":{"seq_num":0,"timestamp":1000}"""), ack)
      assert(ack.contains(""""end":{"seq_num":2"""), ack)
      assert(ack.contains(""""tail":{"seq_num":2"""), ack)
      val (tc, tail) = request("GET", s"$ep/v1/streams/s/records/tail", hdr)
      assert(tc == 200 && tail == """{"tail":{"seq_num":2,"timestamp":1000}}""", tail)
      val (rc, batch) = request("GET", s"$ep/v1/streams/s/records?seq_num=0", hdr)
      assert(rc == 200, batch)
      assert(batch.contains(""""headers":[["k","v"]]"""), batch)
      assert(batch.contains(""""body":"a""""), batch)
      assert(batch.contains(""""tail":{"seq_num":2"""), batch)
      // count limit honored
      val (_, one) = request("GET", s"$ep/v1/streams/s/records?seq_num=0&count=1", hdr)
      assert(one.contains(""""body":"a"""") && !one.contains(""""body":"b""""), one)
    } finally server.stop(0)
  }

  test("412 condition-failed bodies carry the EXPECTED value: next seq " +
    "for CAS, current token for fencing (api AppendConditionFailed)") {
    val (st, server, ep) = served()
    try {
      st.append("rec-basin", "s", AppendInput(Seq(EnvelopeRecord(Nil, "x".getBytes))),
        Some(1000L))
      val (c1, b1) = request("POST", s"$ep/v1/streams/s/records", hdr,
        """{"records":[{"body":"y"}],"match_seq_num":0}""".getBytes("UTF-8"))
      assert(c1 == 412 && b1 == """{"seq_num_mismatch":1}""", s"$c1 $b1")
      st.append("rec-basin", "s", AppendInput(Seq(FenceCommand("tok-A"))), Some(1000L))
      val (c2, b2) = request("POST", s"$ep/v1/streams/s/records", hdr,
        """{"records":[{"body":"y"}],"fencing_token":"stale"}""".getBytes("UTF-8"))
      assert(c2 == 412 && b2 == """{"fencing_token_mismatch":"tok-A"}""", s"$c2 $b2")
    } finally server.stop(0)
  }

  test("error mapping: 404 for a missing stream, 416 with the tail for " +
    "an unsatisfiable start, clamp=true reads from the tail instead") {
    val (st, server, ep) = served()
    try {
      val (c1, b1) = request("POST", s"$ep/v1/streams/nope/records", hdr,
        """{"records":[{"body":"x"}]}""".getBytes("UTF-8"))
      assert(c1 == 404, s"$c1 $b1")
      val (c2, _) = request("GET", s"$ep/v1/streams/nope/records?seq_num=0", hdr)
      assert(c2 == 404)
      val (c3, b3) = request("GET", s"$ep/v1/streams/s/records?seq_num=99", hdr)
      assert(c3 == 416 && b3 == """{"tail":{"seq_num":0,"timestamp":0}}""", s"$c3 $b3")
      val (c4, b4) = request("GET",
        s"$ep/v1/streams/s/records?seq_num=99&clamp=true&wait=0", hdr)
      assert(c4 == 200 && b4.contains(""""records":[]"""), s"$c4 $b4")
      // two start positions at once is a validation error — the
      // Invalid class answers 422 (api/src/v1/error.rs:76)
      val (c5, _) = request("GET",
        s"$ep/v1/streams/s/records?seq_num=0&timestamp=5", hdr)
      assert(c5 == 422, c5.toString)
      // start timestamp >= until rejected (records.rs:38-47), 422
      val (c6, b6) = request("GET",
        s"$ep/v1/streams/s/records?timestamp=5&until=5", hdr)
      assert(c6 == 422 && b6.contains("exceeds or equal to `until`"), s"$c6 $b6")
      // JSON SYNTAX garbage is the 400 class, not a 500
      val (c7, b7) = request("POST", s"$ep/v1/streams/s/records", hdr,
        """{"records": [}""".getBytes("UTF-8"))
      assert(c7 == 400 && b7.contains("malformed json"), s"$c7 $b7")
      // invalid bounds NEVER auto-create: validation precedes stream
      // resolution even on a create_stream_on_read basin
      // (records.rs invalid_read_bounds_do_not_auto_create_stream)
      st.catalog.createBasin("rec-auto",
        BasinConfig(createStreamOnRead = true))
      val (c8, _) = request("GET",
        s"$ep/v1/streams/ghost/records?timestamp=5&until=5",
        Seq("s2-basin" -> "rec-auto"))
      assert(c8 == 422, c8.toString)
      assert(st.catalog.listStreams("rec-auto").items.isEmpty,
        "invalid read bounds must not auto-create the stream")
    } finally server.stop(0)
  }

  test("s2-format: base64 round-trips arbitrary binary bodies and headers") {
    val (_, server, ep) = served()
    try {
      val body = Array[Byte](0, 1, -1, 127, -128, 64)
      val b64 = Base64.getEncoder.encodeToString(body)
      val fmt = hdr :+ ("s2-format" -> "base64")
      val (c1, _) = request("POST", s"$ep/v1/streams/s/records", fmt,
        s"""{"records":[{"body":"$b64","headers":[["${
          Base64.getEncoder.encodeToString("k".getBytes)}","${
          Base64.getEncoder.encodeToString(Array[Byte](-5, 9))}"]]}]}"""
          .getBytes("UTF-8"))
      assert(c1 == 200)
      val (c2, read) = request("GET", s"$ep/v1/streams/s/records?seq_num=0", fmt)
      assert(c2 == 200 && read.contains(s""""body":"$b64""""), read)
      assert(read.contains(Base64.getEncoder.encodeToString(Array[Byte](-5, 9))), read)
    } finally server.stop(0)
  }

  test("s2-encryption-key header: encrypted basin round-trips through " +
    "HTTP append and read with the key applied server-side") {
    val (st, server, ep) = served(Some(CipherAlgo.Aegis256))
    try {
      val key = Array.fill(32)(0x42.toByte)
      val keyHdr = hdr :+ ("s2-encryption-key" -> Base64.getEncoder.encodeToString(key))
      val (c1, _) = request("POST", s"$ep/v1/streams/s/records", keyHdr,
        """{"records":[{"body":"secret","headers":[["h","v"]]}]}""".getBytes("UTF-8"))
      assert(c1 == 200)
      val (c2, read) = request("GET", s"$ep/v1/streams/s/records?seq_num=0", keyHdr)
      assert(c2 == 200 && read.contains(""""body":"secret""""), read)
      assert(read.contains(""""headers":[["h","v"]]"""), read)
      // stored form is sealed: no cleartext headers on disk
      assert(st.visible("rec-basin", "s").collect().head.isNullAt(2))
    } finally server.stop(0)
  }

  test("encrypted SESSION reads: s2s without the key rejects 400 bad_header " +
    "BEFORE the stream opens; with the key, frames decrypt (records.rs:838-900); " +
    "SSE likewise threads the key") {
    val (st, server, ep) = served(Some(CipherAlgo.Aegis256))
    try {
      val key = Array.fill(32)(0x42.toByte)
      val keyB64 = Base64.getEncoder.encodeToString(key)
      val keyHdr = hdr :+ ("s2-encryption-key" -> keyB64)
      request("POST", s"$ep/v1/streams/s/records", keyHdr,
        """{"records":[{"body":"secret"}]}""".getBytes("UTF-8"))
      // (1) s2s read, NO key: HTTP 400 bad_header before any frame
      val (c1, b1, _) = HttpRecordsClient.requestBinary("GET",
        s"$ep/v1/streams/s/records?seq_num=0&count=1",
        hdr :+ ("Content-Type" -> S2sCodec.ProtoContentType))
      assert(c1 == 400, s"expected pre-stream rejection, got $c1")
      val e1 = new String(b1, "UTF-8")
      assert(e1.contains("\"bad_header\"") &&
        e1.contains("missing encryption key"), e1)
      // (2) s2s read WITH the key: a proto batch frame carrying the
      // decrypted body
      val frames = HttpRecordsClient.s2sReadSession(
        s"$ep/v1/streams/s/records?seq_num=0&count=1", keyHdr,
        contentType = S2sCodec.ProtoContentType)
      val recs = frames.filterNot(_.terminal)
        .flatMap(f => ProtoCodec.decodeReadBatch(f.payload)._1)
      assert(recs.map(r => new String(r.body, "UTF-8")) == Seq("secret"),
        s"frames: ${frames.map(_.payloadUtf8)}")
      // (3) SSE with the key: decrypted body in the event stream; and
      // without it, the same pre-stream 400
      val evs = HttpRecordsClient.readSse(
        s"$ep/v1/streams/s/records?seq_num=0&count=1", keyHdr)
      assert(evs.exists(_.data.contains(""""body":"secret"""")),
        evs.map(_.data).mkString("|"))
      val (c2, b2, _) = HttpRecordsClient.requestBinary("GET",
        s"$ep/v1/streams/s/records?seq_num=0&count=1",
        hdr :+ ("Accept" -> "text/event-stream"))
      assert(c2 == 400 && new String(b2, "UTF-8").contains("bad_header"),
        s"$c2 ${new String(b2, "UTF-8")}")
    } finally server.stop(0)
  }

  test("WRONG key (right length): unary read answers 400 decryption_failed " +
    "(records.rs wrong-key test); an s2s session surfaces it as an in-band " +
    "terminal frame") {
    val (st, server, ep) = served(Some(CipherAlgo.Aegis256))
    try {
      val rightHdr = hdr :+ ("s2-encryption-key" ->
        Base64.getEncoder.encodeToString(Array.fill(32)(0x42.toByte)))
      val wrongHdr = hdr :+ ("s2-encryption-key" ->
        Base64.getEncoder.encodeToString(Array.fill(32)(0x24.toByte)))
      request("POST", s"$ep/v1/streams/s/records", rightHdr,
        """{"records":[{"body":"secret"}]}""".getBytes("UTF-8"))
      val (c1, b1) = request("GET", s"$ep/v1/streams/s/records?seq_num=0", wrongHdr)
      assert(c1 == 400, s"$c1 $b1")
      assert(b1.contains("\"decryption_failed\"") &&
        b1.contains("record decryption failed"), b1)
      // session form: the 200 + stream already started, so the error
      // is an in-band terminal decryption_failed frame
      val frames = HttpRecordsClient.s2sReadSession(
        s"$ep/v1/streams/s/records?seq_num=0&count=1", wrongHdr,
        contentType = S2sCodec.ProtoContentType)
      assert(frames.nonEmpty && frames.last.terminal &&
        frames.last.status == 400 &&
        frames.last.payloadUtf8.contains("decryption_failed"),
        s"frames: ${frames.map(f => (f.terminal, f.status, f.payloadUtf8))}")
    } finally server.stop(0)
  }

  test("long-poll unary read: wait blocks until a record lands, then " +
    "returns it (MAX_UNARY_READ_WAIT long-poll, records.rs:78-81)") {
    val (st, server, ep) = served()
    try {
      val t0 = System.nanoTime()
      val fut = scala.concurrent.Future {
        request("GET", s"$ep/v1/streams/s/records?seq_num=0&wait=30", hdr)
      }(scala.concurrent.ExecutionContext.global)
      Thread.sleep(300)
      st.append("rec-basin", "s", AppendInput(Seq(EnvelopeRecord(Nil, "late".getBytes))),
        Some(1000L))
      val (code, body) = scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(30, "seconds"))
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(code == 200 && body.contains(""""body":"late""""), body)
      assert(elapsedSec < 20, s"long-poll did not return early: $elapsedSec s")
    } finally server.stop(0)
  }

  test("SSE Last-Event-ID arithmetic: count budget is decremented by the " +
    "records already delivered (apply_last_event_id, records.rs:49-65)") {
    val (st, server, ep) = served()
    try {
      (0 until 3).foreach(i => st.append("rec-basin", "s",
        AppendInput(Seq(EnvelopeRecord(Nil, s"r$i".getBytes))), Some(1000L)))
      // conn 1: count=2 -> r0,r1 then [DONE]
      val conn1 = readSse(s"$ep/v1/streams/s/records?seq_num=0&count=2", hdr)
      val batch1 = conn1.collect { case SseEvent(Some("batch"), id, d) => (id, d) }
      assert(batch1.size == 1, conn1)
      assert(batch1.head._2.contains("r0") && batch1.head._2.contains("r1") &&
        !batch1.head._2.contains("r2"), batch1)
      assert(batch1.head._1.contains("1,2,20"), batch1) // seq 1, 2 records, 20 bytes
      assert(conn1.last.data == "[DONE]", conn1)
      // reconnect asking count=3 with that id: only 3-2=1 record remains
      val conn2 = readSse(s"$ep/v1/streams/s/records?seq_num=0&count=3", hdr :+
        ("Last-Event-ID" -> batch1.head._1.get))
      val batch2 = conn2.collect { case SseEvent(Some("batch"), id, d) => (id, d) }
      assert(batch2.size == 1 && batch2.head._2.contains("r2") &&
        !batch2.head._2.contains("r1"), conn2)
      assert(batch2.head._1.contains("2,1,10"), batch2)
      assert(conn2.last.data == "[DONE]", conn2)
    } finally server.stop(0)
  }

  test("SSE wait budget: at the tail the session emits one immediate ping " +
    "then [DONE] on expiry; heartbeats never extend the budget") {
    val (st, server, ep) = served()
    try {
      st.append("rec-basin", "s", AppendInput(Seq(EnvelopeRecord(Nil, "x".getBytes))),
        Some(1000L))
      val events = readSse(s"$ep/v1/streams/s/records?seq_num=0&wait=1", hdr)
      val kinds = events.map {
        case SseEvent(Some("batch"), _, _) => "batch"
        case SseEvent(Some("ping"), _, _) => "ping"
        case SseEvent(None, _, "[DONE]") => "done"
        case other => other.toString
      }
      assert(kinds == Seq("batch", "ping", "done"), kinds)
      // ping carries the tail
      val ping = events.collect { case SseEvent(Some("ping"), _, d) => d }.head
      assert(ping.contains(""""tail":{"seq_num":1"""), ping)
    } finally server.stop(0)
  }

  test("unknown s2s/* content types answer 415, never a mis-framed JSON " +
    "fallback (the reference recognizes exactly s2s/proto)") {
    val (_, server, ep) = served()
    try {
      val (c1, b1) = request("POST", s"$ep/v1/streams/s/records",
        hdr :+ ("Content-Type" -> "s2s/foo"), "junk".getBytes("UTF-8"))
      assert(c1 == 415, s"$c1 $b1")
      val (c2, _) = request("GET", s"$ep/v1/streams/s/records?seq_num=0",
        hdr :+ ("Content-Type" -> "s2s/msgpack"))
      assert(c2 == 415)
      // the two known types still open framed sessions (not 415):
      // covered end-to-end by e2e_http_s2s / e2e_http_proto
    } finally server.stop(0)
  }

  test("JsonOpt: a whitespace-only body with a json Content-Type is a 400 " +
    "syntax error, not the no-body default (OptionalFromRequest parity)") {
    val (st, server, ep) = served()
    try {
      // truly empty body with json CT = None -> ensure with defaults (201)
      val (c0, _) = request("PUT", s"$ep/v1/streams/ws-none",
        hdr :+ ("Content-Type" -> "application/json"), Array.emptyByteArray)
      assert(c0 == 201, c0.toString)
      // whitespace-only body falls through to the parser: 400 malformed
      val (c1, b1) = request("PUT", s"$ep/v1/streams/ws-bad",
        hdr :+ ("Content-Type" -> "application/json"), "  \n\t".getBytes("UTF-8"))
      assert(c1 == 400 && b1.contains("malformed json"), s"$c1 $b1")
      assert(st.catalog.getStream("rec-basin", "ws-bad").isEmpty,
        "a 400 body must not create the stream")
    } finally server.stop(0)
  }

  test("/ping and /health probe the backend: 200 OK live, 503 with the " +
    "error once the storage endpoint is gone (db_status parity)") {
    val (objServer, objEp) = HttpObjectServer.start()
    val root = BackendHarness.tempDir("graft-http-health").toString
    HttpObjectBackend.install(root, objEp)
    val st = new StreamStore(spark, root)
    st.catalog.createBasin("rec-basin", BasinConfig())
    val (server, ep) = HttpRecordsServer.start(st, Some(1000L))
    try {
      val (pc, pb) = request("GET", s"$ep/ping")
      val (hc, hb) = request("GET", s"$ep/health")
      assert(pc == 200 && pb == "OK", s"$pc $pb")
      assert(hc == 200 && hb == "OK", s"$hc $hb")
      // boundary guard: /pingjunk is an unknown route, not a probe
      val (nc, _) = request("GET", s"$ep/pingjunk")
      assert(nc == 404)
      // kill the object endpoint: the probe's fresh meta GET fails
      objServer.stop(0)
      val (fc, fb) = request("GET", s"$ep/health")
      assert(fc == 503 && fb.nonEmpty, s"$fc $fb")
      val (fpc, _) = request("GET", s"$ep/ping")
      assert(fpc == 503)
    } finally server.stop(0)
  }

  test("CORS very_permissive parity: preflight mirrors method+headers, " +
    "responses mirror Origin with credentials; --no-cors disables it") {
    val (_, server, ep) = served()
    try {
      // preflight short-circuits 200 with the mirrored grant
      val (pc, _, ph) = requestAny("OPTIONS", s"$ep/v1/streams/s/records", Seq(
        "Origin" -> "http://ui.example",
        "Access-Control-Request-Method" -> "POST",
        "Access-Control-Request-Headers" -> "s2-basin, content-type"))
      assert(pc == 200, pc.toString)
      assert(ph.firstValue("Access-Control-Allow-Origin").orElse("") == "http://ui.example")
      assert(ph.firstValue("Access-Control-Allow-Credentials").orElse("") == "true")
      assert(ph.firstValue("Access-Control-Allow-Methods").orElse("") == "POST")
      assert(ph.firstValue("Access-Control-Allow-Headers").orElse("")
        == "s2-basin, content-type")
      // an actual cross-origin request on every route family carries
      // the mirrored origin
      for (url <- Seq(s"$ep/v1/streams/s/records/tail", s"$ep/v1/basins",
          s"$ep/v1/locations", s"$ep/health", s"$ep/metrics")) {
        val (_, _, h) = requestAny("GET", url,
          hdr :+ ("Origin" -> "http://ui.example"))
        assert(h.firstValue("Access-Control-Allow-Origin").orElse("")
          == "http://ui.example", url)
      }
      // same-origin requests (no Origin header) carry no CORS headers
      val (_, _, plain) = requestAny("GET", s"$ep/v1/streams/s/records/tail", hdr)
      assert(plain.firstValue("Access-Control-Allow-Origin").isEmpty)
    } finally server.stop(0)

    // --no-cors: the layer is absent entirely (server.rs:222-223)
    val st2 = new StreamStore(spark,
      BackendHarness.tempDir("graft-http-nocors").toString)
    st2.catalog.createBasin("rec-basin", BasinConfig())
    st2.catalog.createStream("rec-basin", "s")
    val (server2, ep2) = HttpRecordsServer.start(st2, Some(1000L), noCors = true)
    try {
      val (_, _, h2) = requestAny("GET", s"$ep2/v1/streams/s/records/tail",
        hdr :+ ("Origin" -> "http://ui.example"))
      assert(h2.firstValue("Access-Control-Allow-Origin").isEmpty)
    } finally server2.stop(0)
  }

  test("zstd content-coding: requests inflate, responses prefer zstd over " +
    "gzip at >=1 KiB, and a zstd bomb is refused (decompression parity)") {
    val (_, server, ep) = served()
    try {
      val base = s"$ep/v1/streams/s/records"
      // zstd request body (the SDK's compressed-append path)
      val (c1, _) = request("POST", base, hdr :+ ("Content-Encoding" -> "zstd"),
        S2sCodec.zstd("""{"records":[{"body":"zz"}]}""".getBytes("UTF-8")))
      assert(c1 == 200, c1.toString)
      // seed >1 KiB of readable data
      request("POST", base, hdr, (s"""{"records":[""" +
        (0 until 4).map(i => s"""{"body":"${("cd" * 512) + i}"}""").mkString(",") +
        "]}").getBytes("UTF-8"))
      val url = s"$base?seq_num=1&count=4"
      val (_, plain) = request("GET", url, hdr)
      // zstd alone
      val (_, zb, ze) = requestRaw("GET", url, hdr :+ ("Accept-Encoding" -> "zstd"))
      assert(ze.contains("zstd"), ze.toString)
      assert(new String(S2sCodec.unzstd(zb, 1 << 24), "UTF-8") == plain)
      // zstd preferred when both offered, in either order
      val (_, _, e2) = requestRaw("GET", url, hdr :+ ("Accept-Encoding" -> "zstd, gzip"))
      val (_, _, e3) = requestRaw("GET", url, hdr :+ ("Accept-Encoding" -> "gzip, zstd"))
      assert(e2.contains("zstd") && e3.contains("zstd"), s"$e2 $e3")
      // gzip still negotiates alone
      val (_, _, e4) = requestRaw("GET", url, hdr :+ ("Accept-Encoding" -> "gzip"))
      assert(e4.contains("gzip"), e4.toString)
      // a zstd bomb beyond the 16 MiB request cap is a 400, not an OOM
      val bomb = S2sCodec.zstd(new Array[Byte](24 * 1024 * 1024))
      val (cb, bb) = request("POST", base, hdr :+ ("Content-Encoding" -> "zstd"), bomb)
      assert(cb == 400 && bb.contains("zstd"), s"$cb $bb")
    } finally server.stop(0)
  }
}
