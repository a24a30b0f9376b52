package graft.log

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.model._
import graft.tools.Cli

/** The `graft.tools.Cli` front end driven against a REAL records
  * server — the reference's `s2` CLI surface (`cli/src/cli.rs`) and
  * the text|json|base64 record renderings of
  * `cli/src/record_format.rs`. The e2e oracle (`e2e_cli_roundtrip`)
  * pins the happy-path formatting; this spec covers the listing
  * commands, error discipline (exit codes + stderr), config-file
  * resolution, follow mode, and TLS flags.
  */
class CliSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit = {
    HttpRecordsClient.clientTls(None)
    try super.afterAll() finally BackendHarness.cleanup()
  }

  private def served(): (StreamStore, com.sun.net.httpserver.HttpServer, String) = {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-clispec").toString)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    val (server, ep) = HttpRecordsServer.start(st, Some(1000L))
    (st, server, ep)
  }

  private def cli(args: String*): (Int, String, String) = {
    val o = new ByteArrayOutputStream
    val e = new ByteArrayOutputStream
    val rc = Cli.run(args.toSeq,
      new PrintStream(o, true, "UTF-8"), new PrintStream(e, true, "UTF-8"))
    (rc, new String(o.toByteArray, "UTF-8"), new String(e.toByteArray, "UTF-8"))
  }

  test("ls lists basins, ls <basin> lists streams; prefix and limit page through") {
    val (st, server, ep) = served()
    try {
      st.catalog.createBasin("cli-basin-b")
      for (n <- Seq("app/a", "app/b", "sys/x"))
        st.catalog.createStream("test-basin", n)
      val (rc1, basins, _) = cli("ls", "--endpoint", ep)
      assert(rc1 == 0 && basins.linesIterator.toSeq ==
        Seq("cli-basin-b", "test-basin"))
      val (rc2, streams, _) = cli("ls", "s2://test-basin", "--endpoint", ep)
      assert(rc2 == 0 && streams.linesIterator.toSeq ==
        Seq("app/a", "app/b", "sys/x"))
      val (_, pref, _) = cli("list-streams", "test-basin",
        "--prefix", "app/", "--limit", "1", "--endpoint", ep)
      assert(pref.linesIterator.toSeq == Seq("app/a"))
    } finally server.stop(0)
  }

  test("error discipline: unknown command, missing endpoint, HTTP errors → rc=1 on stderr") {
    val (_, server, ep) = served()
    try {
      val (rc1, _, e1) = cli("frobnicate", "--endpoint", ep)
      assert(rc1 == 1 && e1.contains("unknown command"))
      // missing endpoint resolves from nothing → actionable error
      val cfg = BackendHarness.tempDir("graft-clicfg")
        .resolve("none.json").toString
      val (rc2, _, e2) = cli("ls", "--config", cfg)
      assert(rc2 == 1 && e2.contains("no endpoint"))
      // 404 surfaces as rc=1 with the server's error body
      // (check-tail is deliberately lenient server-side; config is not)
      val (rc3, _, e3) = cli("get-stream-config", "s2://test-basin/nope",
        "--endpoint", ep)
      assert(rc3 == 1 && e3.contains("404"), s"$rc3 $e3")
      // fencing-token mismatch on append: the 412 surfaces
      cli("create-stream", "s2://test-basin/fs", "--endpoint", ep)
      cli("fence", "s2://test-basin/fs", "tokA", "--endpoint", ep)
      val in = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".txt")
      Files.writeString(in, "x\n")
      val (rc4, _, e4) = cli("append", "s2://test-basin/fs",
        "-i", in.toString, "--fencing-token", "tokB", "--endpoint", ep)
      assert(rc4 == 1 && e4.contains("412"), s"$rc4 $e4")
    } finally server.stop(0)
  }

  test("config file: set/get/ls/unset round-trip and endpoint resolution order") {
    val cfg = BackendHarness.tempDir("graft-clicfg")
      .resolve("config.json").toString
    val (_, server, ep) = served()
    try {
      assert(cli("config", "set", "endpoint", ep, "--config", cfg)._1 == 0)
      assert(cli("config", "set", "format", "json", "--config", cfg)._1 == 0)
      val (_, got, _) = cli("config", "get", "endpoint", "--config", cfg)
      assert(got.trim == ep)
      val (_, all, _) = cli("config", "ls", "--config", cfg)
      assert(all.contains(s"endpoint=$ep") && all.contains("format=json"))
      // the configured endpoint AND format drive a real command
      val (rc, out, _) = cli("ls", "--config", cfg)
      assert(rc == 0 && out.contains("test-basin"))
      // an explicit flag beats the config
      val (rcBad, _, _) = cli("ls", "--config", cfg,
        "--endpoint", "http://127.0.0.1:1")
      assert(rcBad == 1)
      assert(cli("config", "unset", "format", "--config", cfg)._1 == 0)
      val (rcGone, _, _) = cli("config", "get", "format", "--config", cfg)
      assert(rcGone == 1)
    } finally server.stop(0)
  }

  test("json format round-trips headers through append and read") {
    val (_, server, ep) = served()
    try {
      cli("create-stream", "s2://test-basin/js", "--endpoint", ep)
      val in = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".jsonl")
      Files.writeString(in,
        """{"headers":[["h1","v1"],["h2","v2"]],"body":"payload"}""" + "\n" +
          """{"body":"plain"}""" + "\n")
      assert(cli("append", "s2://test-basin/js", "-i", in.toString,
        "--format", "json", "--endpoint", ep)._1 == 0)
      val (_, out, _) = cli("cat", "s2://test-basin/js",
        "--format", "json", "--endpoint", ep)
      val lines = out.linesIterator.toSeq
      assert(lines.size == 2)
      assert(lines.head ==
        """{"seq_num":0,"timestamp":1000,"headers":[["h1","v1"],["h2","v2"]],"body":"payload"}""")
      // empty headers/body are OMITTED, not rendered empty
      // (record_format.rs skip_serializing_if)
      assert(lines(1) == """{"seq_num":1,"timestamp":1000,"body":"plain"}""")
    } finally server.stop(0)
  }

  test("tail -f follows via SSE and the server-side count closes the session") {
    val (_, server, ep) = served()
    try {
      cli("create-stream", "s2://test-basin/tf", "--endpoint", ep)
      val in = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".txt")
      Files.writeString(in, "f0\nf1\n")
      cli("append", "s2://test-basin/tf", "-i", in.toString, "--endpoint", ep)
      // a record lands 150 ms AFTER the follow starts
      val late = new Thread(() => {
        Thread.sleep(150)
        val in2 = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".txt")
        Files.writeString(in2, "f2\n")
        cli("append", "s2://test-basin/tf", "-i", in2.toString,
          "--endpoint", ep)
      })
      late.start()
      val (rc, out, errs) = cli("tail", "s2://test-basin/tf", "-n", "2", "-f",
        "--count", "3", "--endpoint", ep)
      late.join()
      assert(rc == 0, s"rc=$rc err=$errs out=$out")
      assert(out.linesIterator.toSeq == Seq("f0", "f1", "f2"), out)
    } finally server.stop(0)
  }

  test("access tokens, metrics, and apply drive their route families") {
    val (st, server, ep) = served()
    try {
      // issue → list → the token actually authorizes → revoke → gone
      val (rcI, outI, _) = cli("issue-access-token", "cli-tok",
        "--scope", """{"op_groups":{"account":{"read":true},"basin":{"read":true}}}""",
        "--endpoint", ep)
      assert(rcI == 0 && outI.contains(""""access_token":"cli-tok""""), outI)
      val (_, listed, _) = cli("list-access-tokens", "--prefix", "cli-",
        "--endpoint", ep)
      assert(listed.contains(""""id":"cli-tok""""), listed)
      assert(cli("revoke-access-token", "cli-tok", "--endpoint", ep)._1 == 0)
      val (_, after, _) = cli("list-access-tokens", "--endpoint", ep)
      assert(!after.contains("cli-tok"), after)

      // metrics: some traffic, then account + basin + stream reads
      cli("create-stream", "s2://test-basin/mx", "--endpoint", ep)
      val in = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".txt")
      Files.writeString(in, "m0\nm1\n")
      cli("append", "s2://test-basin/mx", "-i", in.toString, "--endpoint", ep)
      val (rcA, accJson, _) = cli("get-account-metrics", "--set", "account-ops",
        "--start", "0", "--end", "300", "--endpoint", ep)
      assert(rcA == 0 && accJson.contains(""""name":"account_ops""""), accJson)
      val (rcB, basJson, _) = cli("get-basin-metrics", "test-basin",
        "--set", "basin-ops", "--start", "0", "--end", "300", "--endpoint", ep)
      assert(rcB == 0 && basJson.contains("values"), basJson)
      val (rcS, strJson, _) = cli("get-stream-metrics", "s2://test-basin/mx",
        "--set", "storage", "--endpoint", ep)
      assert(rcS == 0 && strJson.contains("storage"), strJson)

      // apply: first run creates, second run is all '=' (idempotent)
      val spec = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".json")
      Files.writeString(spec,
        """{"basins":[{"name":"apply-basin","streams":[
          |{"name":"s1"},{"name":"logs/x"}]}]}""".stripMargin)
      val (rc1, out1, _) = cli("apply", "-i", spec.toString, "--endpoint", ep)
      assert(rc1 == 0, out1)
      assert(out1.linesIterator.toSeq == Seq(
        "+ s2://apply-basin", "+ s2://apply-basin/s1",
        "+ s2://apply-basin/logs/x"), out1)
      val (rc2, out2, _) = cli("apply", "-i", spec.toString, "--endpoint", ep)
      assert(rc2 == 0 && out2.linesIterator.forall(_.startsWith("= ")), out2)
    } finally server.stop(0)
  }

  test("diff compares two streams or basins field-by-field on merged configs") {
    val (st, server, ep) = served()
    try {
      st.catalog.createStream("test-basin", "d-a")
      st.catalog.createStream("test-basin", "d-b",
        StreamConfig(timestamping =
          Some(Timestamping(TimestampingMode.Arrival))))
      // identical streams: no rows, ✓ on stderr
      st.catalog.createStream("test-basin", "d-c")
      val (rc0, out0, err0) = cli("diff", "s2://test-basin/d-a",
        "s2://test-basin/d-c", "--endpoint", ep)
      assert(rc0 == 0 && out0.isEmpty && err0.contains("identical"),
        s"$rc0 $out0 $err0")
      // differing timestamping mode shows up as one dotted-path row
      val (rc1, out1, _) = cli("diff", "s2://test-basin/d-a",
        "s2://test-basin/d-b", "--endpoint", ep)
      assert(rc1 == 0, out1)
      assert(out1.linesIterator.exists(l =>
        l.startsWith("~ timestamping.mode:")), out1)
      // basin vs stream is a usage error
      val (rc2, _, e2) = cli("diff", "s2://test-basin",
        "s2://test-basin/d-a", "--endpoint", ep)
      assert(rc2 == 1 && e2.contains("cannot diff"), s"$rc2 $e2")
    } finally server.stop(0)
  }

  test("--token and the config-file token authenticate against a bearer-required server") {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-cliauth").toString)
    st.catalog.createBasin("auth-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st.catalog.issueToken(AccessToken("cli-rw", AccessTokenScope(
      basins = ResourceSet.Exact("auth-basin"),
      streams = ResourceSet.Prefix(""),
      opGroups = PermittedOperationGroups(
        streamRead = true, streamWrite = true))))
    val (server, ep) = HttpRecordsServer.start(st, Some(1000L),
      requireAuth = true)
    try {
      st.catalog.createStream("auth-basin", "guarded")
      // no bearer → 401 surfaces as rc=1
      val (rc0, _, e0) = cli("check-tail", "s2://auth-basin/guarded",
        "--endpoint", ep)
      assert(rc0 == 1 && e0.contains("401"), s"$rc0 $e0")
      // --token flag authorizes append + read
      val in = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".txt")
      Files.writeString(in, "secret\n")
      assert(cli("append", "s2://auth-basin/guarded", "-i", in.toString,
        "--token", "cli-rw", "--endpoint", ep)._1 == 0)
      val (rc1, out1, _) = cli("cat", "s2://auth-basin/guarded",
        "--token", "cli-rw", "--endpoint", ep)
      assert(rc1 == 0 && out1.trim == "secret", s"$rc1 $out1")
      // token resolved from the config file works the same way
      val cfg = BackendHarness.tempDir("graft-cliauth")
        .resolve("config.json").toString
      cli("config", "set", "endpoint", ep, "--config", cfg)
      cli("config", "set", "token", "cli-rw", "--config", cfg)
      val (rc2, out2, _) = cli("cat", "s2://auth-basin/guarded",
        "--config", cfg)
      assert(rc2 == 0 && out2.trim == "secret", s"$rc2 $out2")
    } finally server.stop(0)
  }

  test("--cacert pins a TLS server's cert; --insecure trusts a self-signed one") {
    val st = new StreamStore(spark,
      BackendHarness.tempDir("graft-clitls").toString)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    val tls = Tls.selfSigned()
    val (server, ep) = HttpRecordsServer.start(st, Some(1000L),
      tls = Some(tls))
    try {
      val pem = Files.createTempFile(BackendHarness.tempDir("graft-cli"), "in", ".pem")
      Files.writeString(pem, tls.certPem)
      val (rc1, out1, _) = cli("ls", "--endpoint", ep,
        "--cacert", pem.toString)
      assert(rc1 == 0 && out1.contains("test-basin"))
      val (rc2, out2, _) = cli("ls", "--endpoint", ep, "--insecure")
      assert(rc2 == 0 && out2.contains("test-basin"))
      // no trust flag → handshake refused → rc=1
      HttpRecordsClient.clientTls(None)
      val (rc3, _, _) = cli("ls", "--endpoint", ep)
      assert(rc3 == 1)
    } finally {
      HttpRecordsClient.clientTls(None)
      server.stop(0)
    }
  }
}
