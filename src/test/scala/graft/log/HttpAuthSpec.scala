package graft.log


import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import HttpRecordsClient.requestAny

/** Bearer enforcement over the v1 serving surface: the C7 scope model
  * gating every route (401 for missing/unknown/expired bearers, 403
  * for live-but-out-of-scope, per-route Operation mapping), plus
  * `auto_prefix_streams` namespacing at the serving edge — stream
  * name arguments prefixed before scope checks and dispatch, the
  * prefix stripped from listings (api access.rs:355-357).
  */
class HttpAuthSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  /** Store with one scoped basin/stream and a guarded server; tokens
    * are seeded through the catalog (the operator bootstrap path —
    * token serving itself requires a token). */
  private def served(): (StreamStore, com.sun.net.httpserver.HttpServer, String) = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-http-auth").toString)
    st.catalog.createBasin("auth-basin-a1", BasinConfig(
      defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("auth-basin-a1", "app-x")
    val (server, endpoint) = HttpRecordsServer.start(st, Some(120000L),
      requireAuth = true)
    (st, server, endpoint)
  }

  private def utf8(s: String) = s.getBytes("UTF-8")
  private def hdr(tok: String): Seq[(String, String)] =
    Seq("s2-basin" -> "auth-basin-a1", "Authorization" -> s"Bearer $tok")

  test("401 for missing, malformed, unknown, and expired bearers; " +
    "403 for live tokens whose scope excludes the op or resource") {
    val (st, server, ep) = served()
    try {
      st.catalog.issueToken(AccessToken("rw-tok", AccessTokenScope(
        basins = ResourceSet.Exact("auth-basin-a1"),
        streams = ResourceSet.Prefix("app-"),
        opGroups = PermittedOperationGroups(
          streamRead = true, streamWrite = true))))
      st.catalog.issueToken(AccessToken("old-tok", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        opGroups = PermittedOperationGroups(accountRead = true,
          accountWrite = true)), expiresAtMs = Some(100000L))) // < pinned now

      val rec = s"$ep/v1/streams/app-x/records"
      val body = utf8("""{"records":[{"body":"a"}]}""")
      assert(requestAny("POST", rec, Seq("s2-basin" -> "auth-basin-a1"),
        body)._1 == 401) // no header
      assert(requestAny("POST", rec, Seq("s2-basin" -> "auth-basin-a1",
        "Authorization" -> "Basic xyz"), body)._1 == 401) // not bearer
      assert(requestAny("POST", rec, hdr("nope-tok"), body)._1 == 401)
      assert(requestAny("POST", rec, hdr("old-tok"), body)._1 == 401) // expired

      // in scope: append + read + tail all pass
      assert(requestAny("POST", rec, hdr("rw-tok"), body)._1 == 200)
      assert(requestAny("GET", s"$rec?seq_num=0", hdr("rw-tok"))._1 == 200)
      assert(requestAny("GET", s"$rec/tail", hdr("rw-tok"))._1 == 200)
      // out of scope: foreign stream prefix, foreign basin, basin-level op
      assert(requestAny("GET",
        s"$ep/v1/streams/sys-y/records?seq_num=0", hdr("rw-tok"))._1 == 403)
      assert(requestAny("POST", rec, Seq("s2-basin" -> "other-basin-b2",
        "Authorization" -> "Bearer rw-tok"), body)._1 == 403)
      assert(requestAny("DELETE", s"$ep/v1/streams/app-x",
        hdr("rw-tok"))._1 == 403) // DeleteStream is basin-level write
      assert(requestAny("GET", s"$ep/v1/basins", hdr("rw-tok"))._1 == 403)
    } finally server.stop(0)
  }

  test("explicit ops union with groups over HTTP, and account groups " +
    "gate the catalog routes") {
    val (st, server, ep) = served()
    try {
      st.catalog.issueToken(AccessToken("append-only", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        ops = Set(Op.Append))))
      st.catalog.issueToken(AccessToken("acct-ro", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        opGroups = PermittedOperationGroups(accountRead = true))))

      val rec = s"$ep/v1/streams/app-x/records"
      val body = utf8("""{"records":[{"body":"b"}]}""")
      assert(requestAny("POST", rec, hdr("append-only"), body)._1 == 200)
      assert(requestAny("GET", s"$rec?seq_num=0", hdr("append-only"))._1 == 403)

      // account read: list basins + read config, but no create
      assert(requestAny("GET", s"$ep/v1/basins",
        Seq("Authorization" -> "Bearer acct-ro"))._1 == 200)
      assert(requestAny("GET", s"$ep/v1/basins/auth-basin-a1",
        Seq("Authorization" -> "Bearer acct-ro"))._1 == 200)
      assert(requestAny("POST", s"$ep/v1/basins",
        Seq("Authorization" -> "Bearer acct-ro"),
        utf8("""{"basin":"auth-basin-c3"}"""))._1 == 403)
      // metrics are read-group ops
      assert(requestAny("GET", s"$ep/v1/metrics?set=account-ops",
        Seq("Authorization" -> "Bearer acct-ro"))._1 == 200)
    } finally server.stop(0)
  }

  test("auto_prefix_streams namespaces the serving edge: create and " +
    "append land on the prefixed stream, listings strip the prefix") {
    val (st, server, ep) = served()
    try {
      st.catalog.createStream("auth-basin-a1", "t1-existing")
      st.catalog.createStream("auth-basin-a1", "other-s")
      st.catalog.issueToken(AccessToken("tenant1", AccessTokenScope(
        basins = ResourceSet.Exact("auth-basin-a1"),
        streams = ResourceSet.Prefix("t1-"),
        opGroups = PermittedOperationGroups(
          basinRead = true, basinWrite = true,
          streamRead = true, streamWrite = true)),
        autoPrefixStreams = true))

      // create "orders" → physically t1-orders
      val (cc, cb, _) = requestAny("POST", s"$ep/v1/streams", hdr("tenant1"),
        utf8("""{"stream":"orders"}"""))
      assert(cc == 201, cb)
      assert(st.catalog.getStream("auth-basin-a1", "t1-orders").isDefined)
      assert(st.catalog.getStream("auth-basin-a1", "orders").isEmpty)

      // append through the unprefixed name; verify via the raw store
      val (ac, ab, _) = requestAny("POST",
        s"$ep/v1/streams/orders/records", hdr("tenant1"),
        utf8("""{"records":[{"body":"tenant-data"}]}"""))
      assert(ac == 200, ab)
      val got = st.readBatch("auth-basin-a1", "t1-orders",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      assert(got.map(r => new String(r.body)) == Seq("tenant-data"))

      // listing strips the prefix and hides foreign streams
      val (_, lst, _) = requestAny("GET", s"$ep/v1/streams", hdr("tenant1"))
      assert(lst.contains(""""name":"orders"""") &&
        lst.contains(""""name":"existing"""") &&
        !lst.contains("other-s") && !lst.contains("t1-"), lst)

      // a name outside the tenant prefix is still authorized (it maps
      // INTO the prefix) but hits the namespaced absence: 404, not 403
      assert(requestAny("GET",
        s"$ep/v1/streams/zz/records?seq_num=0", hdr("tenant1"))._1 == 404)
    } finally server.stop(0)
  }

  test("in-band trim/fence commands on the append route require the " +
    "Trim/Fence ops, not just Append") {
    val (st, server, ep) = served()
    try {
      st.catalog.issueToken(AccessToken("append-only2", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        ops = Set(Op.Append))))
      st.catalog.issueToken(AccessToken("maintainer", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        ops = Set(Op.Append, Op.Trim, Op.Fence))))
      val rec = s"$ep/v1/streams/app-x/records"
      // seed three data records
      assert(requestAny("POST", rec, hdr("maintainer"),
        utf8("""{"records":[{"body":"a"},{"body":"b"},{"body":"c"}]}"""))._1 == 200)
      // trim command: single header ["", "trim"], body = 8-byte BE seq
      // (base64 format keeps the binary payload JSON-safe)
      val b64 = Seq("s2-format" -> "base64")
      val trimBody =
        """{"records":[{"headers":[["","dHJpbQ=="]],"body":"AAAAAAAAAAI="}]}"""
      val (t1, tb1, _) = requestAny("POST", rec, hdr("append-only2") ++ b64,
        utf8(trimBody))
      assert(t1 == 403, s"$t1 $tb1")
      val (t2, tb2, _) = requestAny("POST", rec, hdr("maintainer") ++ b64,
        utf8(trimBody))
      assert(t2 == 200, s"$t2 $tb2")
      assert(st.manifest("auth-basin-a1", "app-x").trimPoint == 2L)
      // fence: ["", "fence"], body = token bytes
      val fenceBody =
        """{"records":[{"headers":[["","ZmVuY2U="]],"body":"enp6"}]}"""
      assert(requestAny("POST", rec, hdr("append-only2") ++ b64,
        utf8(fenceBody))._1 == 403)
      assert(requestAny("POST", rec, hdr("maintainer") ++ b64,
        utf8(fenceBody))._1 == 200)
      assert(st.manifest("auth-basin-a1", "app-x").fencingToken == "zzz")
    } finally server.stop(0)
  }

  test("issuance is scope-subset-gated: a token cannot mint a grant " +
    "beyond its own, and expiry is inherited and capped") {
    val (st, server, ep) = served()
    try {
      st.catalog.issueToken(AccessToken("issuer-ltd", AccessTokenScope(
        streams = ResourceSet.Prefix("t9-"),
        accessTokens = ResourceSet.Prefix("sub-"),
        opGroups = PermittedOperationGroups(streamRead = true),
        ops = Set(Op.IssueAccessToken)),
        expiresAtMs = Some(500000L))) // pinned now is 120000
      val url = s"$ep/v1/access-tokens"
      def auth = Seq("Authorization" -> "Bearer issuer-ltd")
      // escalation attempts: wider resource set, wider ops — 403
      assert(requestAny("POST", url, auth,
        utf8("""{"id":"sub-esc1","scope":{"streams":{"prefix":""}}}"""))._1 == 403)
      assert(requestAny("POST", url, auth,
        utf8("""{"id":"sub-esc2","scope":{"op_groups":{"account":{"write":true}}}}"""))
        ._1 == 403)
      assert(requestAny("POST", url, auth,
        utf8("""{"id":"sub-esc3","scope":{"ops":["append"]}}"""))._1 == 403)
      // within the grant: narrower stream prefix + a subset op — 201,
      // and the unset expiry inherits the issuer's
      assert(requestAny("POST", url, auth,
        utf8("""{"id":"sub-ok","scope":{"streams":{"prefix":"t9-app-"},
          |"op_groups":{"stream":{"read":true}}}}""".stripMargin))._1 == 201)
      assert(st.catalog.getToken("sub-ok").get.expiresAtMs.contains(500000L))
      // expiry beyond the issuer's: 403
      assert(requestAny("POST", url, auth,
        utf8("""{"id":"sub-late","expires_at":"2030-01-01T00:00:00Z",
          |"scope":{}}""".stripMargin))._1 == 403)
    } finally server.stop(0)
  }

  test("denied and anonymous probes never pollute usage metrics, and " +
    "metrics paths honor auto_prefix_streams") {
    val (st, server, ep) = served()
    try {
      st.catalog.issueToken(AccessToken("admin-t", AccessTokenScope(
        basins = ResourceSet.Prefix(""), streams = ResourceSet.Prefix(""),
        opGroups = PermittedOperationGroups(accountRead = true,
          accountWrite = true))))
      st.catalog.issueToken(AccessToken("tenant9", AccessTokenScope(
        basins = ResourceSet.Exact("auth-basin-a1"),
        streams = ResourceSet.Prefix("t9-"),
        opGroups = PermittedOperationGroups(
          basinRead = true, basinWrite = true,
          streamRead = true, streamWrite = true),
        ops = Set(Op.StreamMetrics)),
        autoPrefixStreams = true))
      def admin = Seq("Authorization" -> "Bearer admin-t")
      // anonymous + out-of-scope probes against attacker-chosen names
      requestAny("GET", s"$ep/v1/basins/evil-basin-name1")
      requestAny("DELETE", s"$ep/v1/basins/evil-basin-name2",
        Seq("Authorization" -> "Bearer tenant9"))
      val (_, ab, _) = requestAny("GET",
        s"$ep/v1/metrics?set=active-basins&start=0&end=9999999", admin)
      assert(!ab.contains("evil-basin-name"), ab)

      // tenant appends through the unprefixed name, then reads its
      // storage metric through the SAME unprefixed name
      requestAny("POST", s"$ep/v1/streams", hdr("tenant9"),
        utf8("""{"stream":"orders"}"""))
      requestAny("POST", s"$ep/v1/streams/orders/records", hdr("tenant9"),
        utf8("""{"records":[{"body":"x"}]}"""))
      val (mc, mb, _) = requestAny("GET",
        s"$ep/v1/metrics/auth-basin-a1/orders?set=storage",
        Seq("Authorization" -> "Bearer tenant9"))
      assert(mc == 200 && mb.contains(""""gauge""""), s"$mc $mb")
    } finally server.stop(0)
  }

  test("scoped listings page over exactly the visible rows (scope " +
    "pushed into the catalog listing, not post-filtered)") {
    val (st, server, ep) = served()
    try {
      (0 until 5).foreach(i => st.catalog.createBasin(f"zz-basin-$i%02d"))
      st.catalog.issueToken(AccessToken("zz-only", AccessTokenScope(
        basins = ResourceSet.Prefix("zz-"),
        opGroups = PermittedOperationGroups(accountRead = true))))
      def auth = Seq("Authorization" -> "Bearer zz-only")
      // auth-basin-a1 sorts before zz-*: a post-filter would return an
      // empty first page with has_more=true and no cursor to advance
      val (_, p1, _) = requestAny("GET", s"$ep/v1/basins?limit=2", auth)
      assert(p1.contains("zz-basin-00") && p1.contains("zz-basin-01") &&
        !p1.contains("auth-basin-a1") && p1.contains(""""has_more":true"""), p1)
      val (_, p2, _) = requestAny("GET",
        s"$ep/v1/basins?start_after=zz-basin-03", auth)
      assert(p2.contains("zz-basin-04") && p2.contains(""""has_more":false"""), p2)
      // Exact scope: the listing is the point lookup
      st.catalog.issueToken(AccessToken("one-basin", AccessTokenScope(
        basins = ResourceSet.Exact("zz-basin-02"),
        opGroups = PermittedOperationGroups(accountRead = true))))
      val (_, p3, _) = requestAny("GET", s"$ep/v1/basins",
        Seq("Authorization" -> "Bearer one-basin"))
      assert(p3.contains("zz-basin-02") && !p3.contains("zz-basin-01") &&
        p3.contains(""""has_more":false"""), p3)
    } finally server.stop(0)
  }

  test("token management is resource-gated by the access_tokens set") {
    val (st, server, ep) = served()
    try {
      st.catalog.issueToken(AccessToken("mgr-sub", AccessTokenScope(
        accessTokens = ResourceSet.Prefix("sub-"),
        ops = Set(Op.IssueAccessToken, Op.RevokeAccessToken,
          Op.ListAccessTokens))))
      st.catalog.issueToken(AccessToken("mgr-none", AccessTokenScope(
        ops = Set(Op.IssueAccessToken))))

      val url = s"$ep/v1/access-tokens"
      def auth(t: String) = Seq("Authorization" -> s"Bearer $t")
      // in the managed prefix: allowed
      assert(requestAny("POST", url, auth("mgr-sub"),
        utf8("""{"id":"sub-a","scope":{}}"""))._1 == 201)
      // outside it: 403 despite holding the IssueAccessToken op
      assert(requestAny("POST", url, auth("mgr-sub"),
        utf8("""{"id":"other-a","scope":{}}"""))._1 == 403)
      assert(requestAny("POST", url, auth("mgr-none"),
        utf8("""{"id":"sub-b","scope":{}}"""))._1 == 403) // None set
      // listing is filtered to the managed prefix
      val (_, lst, _) = requestAny("GET", url, auth("mgr-sub"))
      assert(lst.contains("sub-a") && !lst.contains("mgr-none"), lst)
      // revoke gated the same way
      assert(requestAny("DELETE", s"$url/mgr-none", auth("mgr-sub"))._1 == 403)
      assert(requestAny("DELETE", s"$url/sub-a", auth("mgr-sub"))._1 == 204)
    } finally server.stop(0)
  }
}
