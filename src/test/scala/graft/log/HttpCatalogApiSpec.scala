package graft.log


import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import HttpRecordsClient.requestAny

/** The v1 CATALOG serving surface (HttpRecordsServer's basins/streams
  * routes) against the reference handler semantics
  * (lite/src/handlers/v1/{basins.rs,streams.rs} + the api wire shapes
  * in api/src/v1/{basin.rs,stream/mod.rs,config.rs}): status codes
  * (201/200/202/404/409/400), the `s2-provision-result` header, the
  * `s2-request-token` idempotent create retry, list pagination
  * (prefix / start_after / limit / has_more), config JSON round-trips
  * (kebab-case enums, externally-tagged retention), and the tri-state
  * PATCH semantics (absent keeps, null resets, value sets).
  */
class HttpCatalogApiSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def served(): (StreamStore, com.sun.net.httpserver.HttpServer, String) = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-http-catalog").toString)
    val (server, endpoint) = HttpRecordsServer.start(st, Some(1000L))
    (st, server, endpoint)
  }

  private def provision(h: java.net.http.HttpHeaders): String =
    h.firstValue("s2-provision-result").orElse("<absent>")

  test("basin create/list/get/delete lifecycle: 201+created, 409 on " +
    "duplicate, idempotent token retry is 201+noop, 202 delete, 404 after") {
    val (_, server, ep) = served()
    try {
      val (c1, b1, h1) = requestAny("POST", s"$ep/v1/basins", Nil,
        """{"basin":"cat-basin-a"}""".getBytes("UTF-8"))
      assert(c1 == 201 && provision(h1) == "created", s"$c1 $b1")
      assert(b1.contains(""""name":"cat-basin-a"""") &&
        b1.contains(""""state":"active"""") &&
        b1.contains(""""created_at":"""), b1)

      // plain duplicate (no token): 409 conflict (basins.rs CreateOnly)
      val (c2, b2, _) = requestAny("POST", s"$ep/v1/basins", Nil,
        """{"basin":"cat-basin-a"}""".getBytes("UTF-8"))
      assert(c2 == 409, s"$c2 $b2")

      // same token + same config: idempotent retry acks as noop
      val tok = Seq("s2-request-token" -> "tok-1")
      val (c3, _, _) = requestAny("POST", s"$ep/v1/basins", tok,
        """{"basin":"cat-basin-b"}""".getBytes("UTF-8"))
      val (c4, b4, h4) = requestAny("POST", s"$ep/v1/basins", tok,
        """{"basin":"cat-basin-b"}""".getBytes("UTF-8"))
      assert(c3 == 201 && c4 == 201 && provision(h4) == "noop", s"$c4 $b4")

      // list: prefix + limit + has_more + start_after paging
      requestAny("POST", s"$ep/v1/basins", Nil,
        """{"basin":"cat-basin-c"}""".getBytes("UTF-8"))
      val (_, l1, _) = requestAny("GET", s"$ep/v1/basins?prefix=cat-basin-&limit=2")
      assert(l1.contains("cat-basin-a") && l1.contains("cat-basin-b") &&
        !l1.contains("cat-basin-c") && l1.contains(""""has_more":true"""), l1)
      val (_, l2, _) = requestAny("GET",
        s"$ep/v1/basins?prefix=cat-basin-&start_after=cat-basin-b")
      assert(l2.contains("cat-basin-c") && !l2.contains("cat-basin-b") &&
        l2.contains(""""has_more":false"""), l2)

      // get config of a fresh basin: defaults (null cipher, flags off)
      val (gc, gb, _) = requestAny("GET", s"$ep/v1/basins/cat-basin-a")
      assert(gc == 200 && gb.contains(""""stream_cipher":null""") &&
        gb.contains(""""create_stream_on_append":false"""), gb)

      // delete: 202 Accepted; config 404s after; list excludes it
      val (dc, _, _) = requestAny("DELETE", s"$ep/v1/basins/cat-basin-c")
      assert(dc == 202)
      val (gc2, _, _) = requestAny("GET", s"$ep/v1/basins/cat-basin-c")
      assert(gc2 == 404)
      val (dc2, _, _) = requestAny("DELETE", s"$ep/v1/basins/cat-basin-c")
      assert(dc2 == 404)
    } finally server.stop(0)
  }

  test("basin config JSON round-trips the full wire shape and PATCH " +
    "is tri-state: absent keeps, null resets, value sets") {
    val (_, server, ep) = served()
    try {
      val full =
        """{"basin":"cat-full-1","config":{
          |  "default_stream_config":{
          |    "storage_class":"standard",
          |    "retention_policy":{"age":3600},
          |    "timestamping":{"mode":"client-require","uncapped":true},
          |    "delete_on_empty":{"min_age_secs":60}},
          |  "stream_cipher":"aegis-256",
          |  "create_stream_on_append":true}}""".stripMargin
      val (cc, cb, _) = requestAny("POST", s"$ep/v1/basins", Nil,
        full.getBytes("UTF-8"))
      assert(cc == 201, cb)
      val (_, g, _) = requestAny("GET", s"$ep/v1/basins/cat-full-1")
      assert(g.contains(""""storage_class":"standard"""") &&
        g.contains(""""retention_policy":{"age":3600}""") &&
        g.contains(""""mode":"client-require"""") &&
        g.contains(""""uncapped":true""") &&
        g.contains(""""min_age_secs":60""") &&
        g.contains(""""stream_cipher":"aegis-256"""") &&
        g.contains(""""create_stream_on_append":true"""), g)

      // PATCH: flip one flag; everything else untouched (absent = keep)
      val (p1, pb1, _) = requestAny("PATCH", s"$ep/v1/basins/cat-full-1", Nil,
        """{"create_stream_on_read":true}""".getBytes("UTF-8"))
      assert(p1 == 200 && pb1.contains(""""create_stream_on_read":true""") &&
        pb1.contains(""""stream_cipher":"aegis-256"""") &&
        pb1.contains(""""retention_policy":{"age":3600}"""), pb1)

      // PATCH null: resets the cipher to default (plaintext)
      val (p2, pb2, _) = requestAny("PATCH", s"$ep/v1/basins/cat-full-1", Nil,
        """{"stream_cipher":null}""".getBytes("UTF-8"))
      assert(p2 == 200 && pb2.contains(""""stream_cipher":null""") &&
        pb2.contains(""""create_stream_on_read":true"""), pb2)

      // nested partial PATCH: set timestamping.mode only — uncapped
      // (true, set at create) must survive the nested merge
      val (p3, pb3, _) = requestAny("PATCH", s"$ep/v1/basins/cat-full-1", Nil,
        """{"default_stream_config":{"timestamping":{"mode":"arrival"}}}"""
          .getBytes("UTF-8"))
      assert(p3 == 200 && pb3.contains(""""mode":"arrival"""") &&
        pb3.contains(""""uncapped":true"""), pb3)

      // PATCH a missing basin: 404
      val (p4, _, _) = requestAny("PATCH", s"$ep/v1/basins/cat-missing-1", Nil,
        """{"create_stream_on_read":true}""".getBytes("UTF-8"))
      assert(p4 == 404)
    } finally server.stop(0)
  }

  test("basin ensure (PUT) is create-or-update: 201 created, then " +
    "200 noop on same config, 200 updated on change") {
    val (_, server, ep) = served()
    try {
      val url = s"$ep/v1/basins/cat-ensure-1"
      val cfgA = """{"config":{"create_stream_on_append":true}}"""
      val (e1, _, h1) = requestAny("PUT", url, Nil, cfgA.getBytes("UTF-8"))
      assert(e1 == 201 && provision(h1) == "created")
      val (e2, _, h2) = requestAny("PUT", url, Nil, cfgA.getBytes("UTF-8"))
      assert(e2 == 200 && provision(h2) == "noop")
      val (e3, _, h3) = requestAny("PUT", url, Nil,
        """{"config":{"create_stream_on_append":false}}""".getBytes("UTF-8"))
      assert(e3 == 200 && provision(h3) == "updated")
      // bodyless PUT is EnsureBasinRequest with no config (JsonOpt)
      val (e4, _, h4) = requestAny("PUT", s"$ep/v1/basins/cat-ensure-2")
      assert(e4 == 201 && provision(h4) == "created")
    } finally server.stop(0)
  }

  test("stream CRUD via the s2-basin header: create/list/get-merged/" +
    "ensure/reconfigure/delete with reference status codes") {
    val (_, server, ep) = served()
    try {
      requestAny("POST", s"$ep/v1/basins", Nil,
        ("""{"basin":"cat-str-basin","config":{"stream_cipher":"aes-256-gcm",""" +
          """"default_stream_config":{"retention_policy":{"infinite":{}}}}}""")
          .getBytes("UTF-8"))
      val hdr = Seq("s2-basin" -> "cat-str-basin")

      // create: 201 + StreamInfo carrying the basin cipher
      val (c1, b1, h1) = requestAny("POST", s"$ep/v1/streams", hdr,
        """{"stream":"logs/a"}""".getBytes("UTF-8"))
      assert(c1 == 201 && provision(h1) == "created" &&
        b1.contains(""""name":"logs/a"""") &&
        b1.contains(""""cipher":"aes-256-gcm""""), b1)
      val (c2, _, _) = requestAny("POST", s"$ep/v1/streams", hdr,
        """{"stream":"logs/a"}""".getBytes("UTF-8"))
      assert(c2 == 409)
      // create in a missing basin: 404 (streams.rs NOT_FOUND)
      val (c3, _, _) = requestAny("POST", s"$ep/v1/streams",
        Seq("s2-basin" -> "cat-no-basin"),
        """{"stream":"x"}""".getBytes("UTF-8"))
      assert(c3 == 404)

      // merged GET: stream has no explicit config → basin default
      // (infinite retention) resolved into the full wire shape
      val (g1, gb1, _) = requestAny("GET", s"$ep/v1/streams/logs/a", hdr)
      assert(g1 == 200 &&
        gb1.contains(""""retention_policy":{"infinite":{}}""") &&
        gb1.contains(""""storage_class":"express""""), gb1)

      // PATCH storage class only; retention default untouched
      val (p1, pb1, _) = requestAny("PATCH", s"$ep/v1/streams/logs/a", hdr,
        """{"storage_class":"standard"}""".getBytes("UTF-8"))
      assert(p1 == 200 && pb1.contains(""""storage_class":"standard""""), pb1)
      val (g2, gb2, _) = requestAny("GET", s"$ep/v1/streams/logs/a", hdr)
      assert(gb2.contains(""""storage_class":"standard"""") &&
        gb2.contains(""""retention_policy":{"infinite":{}}"""), gb2)

      // ensure: PUT body IS the stream config (JsonOpt<StreamConfig>)
      val (e1, _, eh1) = requestAny("PUT", s"$ep/v1/streams/logs/b", hdr,
        """{"retention_policy":{"age":60}}""".getBytes("UTF-8"))
      assert(e1 == 201 && provision(eh1) == "created")
      val (e2, _, eh2) = requestAny("PUT", s"$ep/v1/streams/logs/b", hdr,
        """{"retention_policy":{"age":60}}""".getBytes("UTF-8"))
      assert(e2 == 200 && provision(eh2) == "noop")
      val (e3, _, eh3) = requestAny("PUT", s"$ep/v1/streams/logs/b", hdr,
        """{"retention_policy":{"age":90}}""".getBytes("UTF-8"))
      assert(e3 == 200 && provision(eh3) == "updated")

      // list with prefix/limit/has_more
      requestAny("POST", s"$ep/v1/streams", hdr,
        """{"stream":"metrics/a"}""".getBytes("UTF-8"))
      val (_, l1, _) = requestAny("GET", s"$ep/v1/streams?prefix=logs/&limit=1", hdr)
      assert(l1.contains("logs/a") && !l1.contains("logs/b") &&
        l1.contains(""""has_more":true"""), l1)
      val (_, l2, _) = requestAny("GET",
        s"$ep/v1/streams?prefix=logs/&start_after=logs/a", hdr)
      assert(l2.contains("logs/b") && l2.contains(""""has_more":false"""), l2)

      // delete: 202, then GET/DELETE 404, list excludes
      val (d1, _, _) = requestAny("DELETE", s"$ep/v1/streams/metrics/a", hdr)
      assert(d1 == 202)
      val (g3, _, _) = requestAny("GET", s"$ep/v1/streams/metrics/a", hdr)
      assert(g3 == 404)
      val (d2, _, _) = requestAny("DELETE", s"$ep/v1/streams/metrics/a", hdr)
      assert(d2 == 404)
      val (_, l3, _) = requestAny("GET", s"$ep/v1/streams?prefix=metrics/", hdr)
      assert(!l3.contains("metrics/a"), l3)
    } finally server.stop(0)
  }

  test("validation splits 422 vs 400 like the reference error taxonomy: " +
    "data/value errors (bad name, bad retention, unknown enum values) are " +
    "422 Invalid; malformed query/header are 400") {
    val (_, server, ep) = served()
    try {
      // value/shape errors on a well-formed JSON document: the
      // DataError/Validation class, 422 (api/src/v1/error.rs:76,
      // data.rs classify_sonic_error TypeUnmatched/NotFound)
      val (v1, b1, _) = requestAny("POST", s"$ep/v1/basins", Nil,
        """{"basin":"NOPE"}""".getBytes("UTF-8")) // uppercase + too short
      assert(v1 == 422, s"$v1 $b1")
      val (v2, _, _) = requestAny("POST", s"$ep/v1/basins", Nil,
        """{"basin":"cat-bad-cfg1","config":{"default_stream_config":{
          |"retention_policy":{"age":0}}}}""".stripMargin.getBytes("UTF-8"))
      assert(v2 == 422) // age must be > 0 (config.rs:54-62 validate)
      val (v3, _, _) = requestAny("POST", s"$ep/v1/basins", Nil,
        """{"basin":"cat-bad-cfg2","config":{"default_stream_config":{
          |"storage_class":"hyper"}}}""".stripMargin.getBytes("UTF-8"))
      assert(v3 == 422)
      val (v4, _, _) = requestAny("POST", s"$ep/v1/basins", Nil,
        """{"basin":"cat-bad-cfg3","config":{"stream_cipher":"rot13"}}"""
          .getBytes("UTF-8"))
      assert(v4 == 422)
      // malformed query string / missing required header: 400
      // (BadQuery / BadHeader class)
      val (v5, _, _) = requestAny("GET", s"$ep/v1/basins?limit=wat")
      assert(v5 == 400)
      // missing s2-basin header on stream routes
      val (v6, _, _) = requestAny("GET", s"$ep/v1/streams")
      assert(v6 == 400)
    } finally server.stop(0)
  }

  test("catalog + records compose over one endpoint: provision a basin " +
    "and stream over HTTP, append and read through the same server") {
    val (_, server, ep) = served()
    try {
      requestAny("POST", s"$ep/v1/basins", Nil,
        ("""{"basin":"cat-e2e-basin","config":{"default_stream_config":""" +
          """{"retention_policy":{"infinite":{}}}}}""").getBytes("UTF-8"))
      val hdr = Seq("s2-basin" -> "cat-e2e-basin")
      requestAny("POST", s"$ep/v1/streams", hdr,
        """{"stream":"t"}""".getBytes("UTF-8"))
      val (ac, ab, _) = requestAny("POST", s"$ep/v1/streams/t/records", hdr,
        """{"records":[{"body":"hello"}]}""".getBytes("UTF-8"))
      assert(ac == 200, ab)
      val (rc, rb, _) = requestAny("GET", s"$ep/v1/streams/t/records?seq_num=0", hdr)
      assert(rc == 200 && rb.contains(""""body":"hello""""), rb)
    } finally server.stop(0)
  }
}
