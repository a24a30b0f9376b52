package graft.log


import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import HttpRecordsClient.requestAny

/** The v1 ACCOUNT serving surface — access tokens, locations, metrics
  * (lite/src/handlers/v1/{access_tokens,locations,metrics}.rs declare
  * these and return NotImplemented; the repo serves them for real at
  * the documented api/src/v1 wire shapes). Pinned-clock servers make
  * the metric buckets deterministic.
  */
class HttpAccountApiSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def served(nowMs: Option[Long] = Some(120000L))
      : (StreamStore, com.sun.net.httpserver.HttpServer, String) = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-http-account").toString)
    val (server, endpoint) = HttpRecordsServer.start(st, nowMs)
    (st, server, endpoint)
  }

  private def utf8(s: String) = s.getBytes("UTF-8")

  test("access tokens: issue 201 with bearer string, info round-trips " +
    "scope wire shape, 409 duplicate, validation 422s, revoke 204/404") {
    val (_, server, ep) = served()
    try {
      val url = s"$ep/v1/access-tokens"
      val issue =
        """{"id":"tok-alpha","expires_at":"2027-01-01T00:00:00Z",
          |"auto_prefix_streams":true,
          |"scope":{"basins":{"exact":"prod-basin-9"},
          |  "streams":{"prefix":"tenant1-"},
          |  "op_groups":{"stream":{"read":true,"write":true}},
          |  "ops":["append","get-default-location"]}}""".stripMargin
      val (c1, b1, _) = requestAny("POST", url, Nil, utf8(issue))
      assert(c1 == 201 && b1 == """{"access_token":"tok-alpha"}""", s"$c1 $b1")

      val (_, list, _) = requestAny("GET", url)
      assert(list.contains(""""id":"tok-alpha""""), list)
      assert(list.contains(""""expires_at":"2027-01-01T00:00:00Z""""), list)
      assert(list.contains(""""auto_prefix_streams":true"""), list)
      assert(list.contains(""""basins":{"exact":"prod-basin-9"}"""), list)
      assert(list.contains(""""streams":{"prefix":"tenant1-"}"""), list)
      assert(list.contains(""""stream":{"read":true,"write":true}"""), list)
      assert(list.contains(""""ops":["append","get-default-location"]"""), list)

      val (c2, _, _) = requestAny("POST", url, Nil, utf8(issue))
      assert(c2 == 409)
      // 97-byte id: over the 96-byte cap (caps.rs MAX_ACCESS_TOKEN_ID_LEN)
      val (c3, _, _) = requestAny("POST", url, Nil,
        utf8(s"""{"id":"${"x" * 97}","scope":{}}"""))
      assert(c3 == 422) // validation class: 422 Invalid (error.rs:76)
      // auto_prefix_streams without a prefix stream scope (access.rs:355-357)
      val (c4, _, _) = requestAny("POST", url, Nil,
        utf8("""{"id":"tok-bad-auto","auto_prefix_streams":true,
          |"scope":{"streams":{"exact":"one-stream"}}}""".stripMargin))
      assert(c4 == 422)
      // empty exact string = ResourceSet::None (MaybeEmpty::Empty) — valid
      val (c5, _, _) = requestAny("POST", url, Nil,
        utf8("""{"id":"tok-none-set","scope":{"basins":{"exact":""}}}"""))
      assert(c5 == 201)
      val (_, l2, _) = requestAny("GET", s"$url?prefix=tok-none")
      assert(!l2.contains(""""basins""""), l2) // None set omitted (to_opt)

      val (r1, _, _) = requestAny("DELETE", s"$url/tok-alpha")
      assert(r1 == 204)
      val (r2, _, _) = requestAny("DELETE", s"$url/tok-alpha")
      assert(r2 == 404)
      val (_, l3, _) = requestAny("GET", url)
      assert(!l3.contains("tok-alpha"), l3)
    } finally server.stop(0)
  }

  test("token registry persists across store instances and pages with " +
    "prefix/start_after/limit") {
    val root = BackendHarness.tempDir("graft-http-account-p").toString
    val st = new StreamStore(spark, root)
    val (server, ep) = HttpRecordsServer.start(st, Some(120000L))
    try {
      Seq("pg-a", "pg-b", "pg-c", "zz-d").foreach { id =>
        val (c, b, _) = requestAny("POST", s"$ep/v1/access-tokens", Nil,
          utf8(s"""{"id":"$id","scope":{"op_groups":{"account":{"read":true}}}}"""))
        assert(c == 201, s"$id: $c $b")
      }
      val (_, p1, _) = requestAny("GET", s"$ep/v1/access-tokens?prefix=pg-&limit=2")
      assert(p1.contains("pg-a") && p1.contains("pg-b") && !p1.contains("pg-c") &&
        p1.contains(""""has_more":true"""), p1)
      val (_, p2, _) = requestAny("GET",
        s"$ep/v1/access-tokens?prefix=pg-&start_after=pg-b")
      assert(p2.contains("pg-c") && !p2.contains("pg-b") &&
        p2.contains(""""has_more":false"""), p2)
      // second instance on the same root sees the registry (persisted)
      val st2 = new StreamStore(spark, root)
      val tok = st2.catalog.getToken("pg-a")
      assert(tok.isDefined && tok.get.authorize(Op.Read, "", ""), tok)
    } finally server.stop(0)
  }

  test("locations: list, default get/put with the bare-string request " +
    "body (SetDefaultLocationRequest = LocationName)") {
    val (st, server, ep) = served()
    try {
      val (l0, b0, _) = requestAny("GET", s"$ep/v1/locations")
      assert(l0 == 200 && b0 == "[]", b0)
      val (d0, _, _) = requestAny("GET", s"$ep/v1/locations/default")
      assert(d0 == 404)
      // locations are operator-provisioned (no HTTP registration route
      // in the reference paths) — register through the catalog
      st.catalog.registerLocation("aws:us-east-1")
      st.catalog.registerLocation("gcp:eu-w4", isPrivate = true)
      val (_, b1, _) = requestAny("GET", s"$ep/v1/locations")
      assert(b1 == """[{"name":"aws:us-east-1","is_private":false},""" +
        """{"name":"gcp:eu-w4","is_private":true}]""", b1)
      val (p0, _, _) = requestAny("PUT", s"$ep/v1/locations/default", Nil,
        utf8(""""nope:region""""))
      assert(p0 == 404)
      val (p1, b2, _) = requestAny("PUT", s"$ep/v1/locations/default", Nil,
        utf8(""""aws:us-east-1""""))
      assert(p1 == 200 && b2.contains(""""name":"aws:us-east-1""""), b2)
      val (d1, b3, _) = requestAny("GET", s"$ep/v1/locations/default")
      assert(d1 == 200 && b3 == """{"name":"aws:us-east-1","is_private":false}""", b3)
      // basin infos now carry the account default location
      requestAny("POST", s"$ep/v1/basins", Nil, utf8("""{"basin":"loc-basin-1"}"""))
      val (_, lb, _) = requestAny("GET", s"$ep/v1/basins")
      assert(lb.contains(""""location":"aws:us-east-1""""), lb)
    } finally server.stop(0)
  }

  test("metrics: RPC-metered accumulations bucket on the pinned clock, " +
    "storage gauge equals metered append throughput, 404/400 mapping") {
    val (_, server, ep) = served(Some(120000L)) // minute bucket 120
    try {
      requestAny("POST", s"$ep/v1/basins", Nil, utf8(
        """{"basin":"met-basin-a1","config":{"default_stream_config":
          |{"retention_policy":{"infinite":{}}}}}""".stripMargin))
      val hdr = Seq("s2-basin" -> "met-basin-a1")
      requestAny("POST", s"$ep/v1/streams", hdr, utf8("""{"stream":"m"}"""))
      val rec = s"$ep/v1/streams/m/records"
      val (a1, _, _) = requestAny("POST", rec, hdr,
        utf8("""{"records":[{"body":"r0"},{"body":"r1"}]}"""))
      val (a2, _, _) = requestAny("POST", rec, hdr,
        utf8("""{"records":[{"body":"r2"}]}"""))
      assert(a1 == 200 && a2 == 200)
      val (r1, _, _) = requestAny("GET", s"$rec?seq_num=0", hdr)
      assert(r1 == 200)

      def value(json: String): Double =
        """\[(\d+),([0-9.]+)\]""".r.findFirstMatchIn(json)
          .map(_.group(2).toDouble).getOrElse(-1d)
      def bucket(json: String): Long =
        """\[(\d+),([0-9.]+)\]""".r.findFirstMatchIn(json)
          .map(_.group(1).toLong).getOrElse(-1L)

      // account-ops = append RPC count (metrics.rs AccountOps doc)
      val (_, ao, _) = requestAny("GET",
        s"$ep/v1/metrics?set=account-ops&start=0&end=300")
      assert(value(ao) == 2d && bucket(ao) == 120L, ao)
      // hour re-bucketing folds minute 120 into bucket 0
      val (_, aoH, _) = requestAny("GET",
        s"$ep/v1/metrics?set=account-ops&start=0&end=300&interval=hour")
      assert(bucket(aoH) == 0L && aoH.contains(""""interval":"hour""""), aoH)
      val (_, ab, _) = requestAny("GET",
        s"$ep/v1/metrics?set=active-basins&start=0&end=300")
      assert(ab.contains(""""values":["met-basin-a1"]"""), ab)

      val (_, ro, _) = requestAny("GET",
        s"$ep/v1/metrics/met-basin-a1?set=read-ops&start=0&end=300")
      assert(value(ro) == 1d, ro)
      val (_, bo, _) = requestAny("GET",
        s"$ep/v1/metrics/met-basin-a1?set=basin-ops&start=0&end=300")
      assert(value(bo) == 1d, bo) // one stream-create RPC

      // metered append bytes == stored bytes (same records, same meter)
      val (_, tp, _) = requestAny("GET",
        s"$ep/v1/metrics/met-basin-a1?set=append-throughput&start=0&end=300")
      val (_, sg, _) = requestAny("GET",
        s"$ep/v1/metrics/met-basin-a1/m?set=storage")
      assert(value(tp) > 0d && value(tp) == value(sg), s"$tp vs $sg")
      assert(sg.contains(""""gauge""""), sg)
      // read bytes: unary read returned all three records
      val (_, rt, _) = requestAny("GET",
        s"$ep/v1/metrics/met-basin-a1?set=read-throughput&start=0&end=300")
      assert(value(rt) == value(tp), s"$rt vs $tp")

      val (m404, _, _) = requestAny("GET", s"$ep/v1/metrics/no-such-basin?set=storage")
      assert(m404 == 404)
      val (m400, _, _) = requestAny("GET", s"$ep/v1/metrics?set=wat")
      assert(m400 == 400)
      val (s404, _, _) = requestAny("GET",
        s"$ep/v1/metrics/met-basin-a1/nope?set=storage")
      assert(s404 == 404)

      // malformed start/end are 400s like every other param
      val (t400a, _, _) = requestAny("GET", s"$ep/v1/metrics?set=account-ops&start=abc")
      assert(t400a == 400)
      val (t400b, _, _) = requestAny("GET", s"$ep/v1/metrics?set=account-ops&end=xyz")
      assert(t400b == 400)

      // root /metrics: the Prometheus text exposition (lite
      // handlers/mod.rs:15) — M5 histograms observed by the appends
      val (pc, pb, ph) = requestAny("GET", s"$ep/metrics")
      assert(pc == 200 &&
        ph.firstValue("Content-Type").orElse("").startsWith("text/plain"), pb)
      assert(pb.contains("s2_append_ack_latency_seconds_bucket"), pb.take(300))
    } finally server.stop(0)
  }

  test("JDK raw-prefix context matching is boundary-guarded: " +
    "/v1/basinsjunk is an unknown route, not basin 'junk'") {
    val (_, server, ep) = served()
    try {
      assert(requestAny("GET", s"$ep/v1/basinsjunk")._1 == 404)
      assert(requestAny("GET", s"$ep/v1/streamsjunk")._1 == 404)
      assert(requestAny("GET", s"$ep/v1/access-tokensjunk")._1 == 404)
      assert(requestAny("GET", s"$ep/v1/locationsx")._1 == 404)
      assert(requestAny("GET", s"$ep/v1/metricsx?set=account-ops")._1 == 404)
      assert(requestAny("GET", s"$ep/metricsx")._1 == 404)
      // negative token-list limit: 400 like the catalog lists
      assert(requestAny("GET", s"$ep/v1/access-tokens?limit=-1")._1 == 400)
      assert(requestAny("GET", s"$ep/v1/access-tokens?limit=wat")._1 == 400)
    } finally server.stop(0)
  }
}
