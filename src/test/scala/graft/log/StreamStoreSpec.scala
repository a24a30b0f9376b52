package graft.log

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import scala.jdk.CollectionConverters._
import graft.model._

/** Backend-style integration tests (SURVEY §5): append/read/tail/trim/
  * fencing/CAS/timestamping against a real store in a temp dir,
  * mirroring lite/tests/backend/data_plane + streamer.rs inline
  * matrices.
  */
class StreamStoreSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def freshStore(
      h: BackendHarness = BackendHarness.PosixHarness): StreamStore = {
    val dir = h.freshRoot("graft-store")
    val st = new StreamStore(spark, dir)
    // Fixture timestamps are tiny epoch values; infinite retention by
    // default so the age mask (T2) only applies where a test opts in.
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st
  }

  private def env(body: String, hs: (String, String)*): EnvelopeRecord =
    EnvelopeRecord(hs.map { case (n, v) => Header.utf8(n, v) }, body.getBytes)

  private def appendOk(st: StreamStore, stream: String, in: AppendInput,
                       now: Long = 1000000L): AppendAck =
    st.append("test-basin", stream, in, Some(now)).fold(e => fail(e.toString), identity)

  test("append assigns contiguous seq_nums and acks start/end/tail") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "s1")
    val a1 = appendOk(st, "s1", AppendInput(Seq(env("a"), env("b"))))
    assert(a1.start.seqNum == 0 && a1.end.seqNum == 2 && a1.tail.seqNum == 2)
    val a2 = appendOk(st, "s1", AppendInput(Seq(env("c"))))
    assert(a2.start.seqNum == 2 && a2.tail.seqNum == 3)
    assert(st.checkTail("test-basin", "s1") == a2.tail)
  }

  test("timestamping matrix: ClientPrefer caps future ts and clamps monotone (streamer.rs:1121-1299)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "ts")
    val now = 5000L
    // client ts: [past(1000), future(9000->capped to 5000), none(->now)]
    val ack = st.append("test-basin", "ts", AppendInput(
      Seq(env("a"), env("b"), env("c")),
      clientTimestamps = Seq(Some(1000L), Some(9000L), None)), Some(now))
      .fold(e => fail(e.toString), identity)
    val rows = st.readBatch("test-basin", "ts",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(_.timestamp) == Seq(1000L, 5000L, 5000L))
    assert(ack.tail.timestamp == 5000L)
    // out-of-order client ts in later batch clamps up to prev max
    st.append("test-basin", "ts", AppendInput(Seq(env("d")),
      clientTimestamps = Seq(Some(2000L))), Some(6000L))
    val rows2 = st.readBatch("test-basin", "ts",
      ReadSpec(ReadStart(ReadFrom.SeqNum(3)))).toOption.get
    assert(rows2.map(_.timestamp) == Seq(5000L)) // clamped to running max
  }

  test("timestamping: ClientRequire errors when missing; uncapped keeps future") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "req",
      StreamConfig(timestamping = Some(Timestamping(TimestampingMode.ClientRequire))))
    val r = st.append("test-basin", "req", AppendInput(Seq(env("a"))), Some(100L))
    assert(r == Left(AppendError.TimestampMissing))

    st.catalog.createStream("test-basin", "unc",
      StreamConfig(timestamping = Some(Timestamping(TimestampingMode.ClientPrefer, uncapped = true))))
    appendOk(st, "unc", AppendInput(Seq(env("a")), clientTimestamps = Seq(Some(9999L))), now = 100L)
    val rows = st.readBatch("test-basin", "unc",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.head.timestamp == 9999L)
  }

  test("timestamping: Arrival ignores client ts") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "arr",
      StreamConfig(timestamping = Some(Timestamping(TimestampingMode.Arrival))))
    appendOk(st, "arr", AppendInput(Seq(env("a")), clientTimestamps = Seq(Some(42L))), now = 777L)
    val rows = st.readBatch("test-basin", "arr",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.head.timestamp == 777L)
  }

  test("match_seq_num CAS (streamer.rs:352-359)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "cas")
    appendOk(st, "cas", AppendInput(Seq(env("a")), matchSeqNum = Some(0)))
    val bad = st.append("test-basin", "cas",
      AppendInput(Seq(env("b")), matchSeqNum = Some(0)))
    assert(bad == Left(AppendError.SeqNumMismatch(0, 1)))
    appendOk(st, "cas", AppendInput(Seq(env("b")), matchSeqNum = Some(1)))
  }

  test("fencing: token enforced only when provided; fence command updates it (streamer.rs:341-349,368-376)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "f")
    // set token in-band
    appendOk(st, "f", AppendInput(Seq(FenceCommand("writer-1"))))
    // no token provided -> allowed (reference semantics)
    appendOk(st, "f", AppendInput(Seq(env("a"))))
    // wrong token -> rejected
    val bad = st.append("test-basin", "f",
      AppendInput(Seq(env("b")), fencingToken = Some("writer-2")))
    assert(bad == Left(AppendError.FencingTokenMismatch("writer-1")))
    // right token -> ok
    appendOk(st, "f", AppendInput(Seq(env("b")), fencingToken = Some("writer-1")))
  }

  test("trim command: monotone, capped at own seq+1; reads skip prefix; tail unchanged (streamer.rs:377-389)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "t")
    appendOk(st, "t", AppendInput((0 until 10).map(i => env(s"r$i"))))
    // trim to 5
    appendOk(st, "t", AppendInput(Seq(TrimCommand(5))))
    val rows = st.readBatch("test-basin", "t",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.head.seqNum == 5)
    assert(st.checkTail("test-basin", "t").seqNum == 11) // 10 records + trim cmd
    // trim backwards is a no-op (monotone)
    appendOk(st, "t", AppendInput(Seq(TrimCommand(2))))
    assert(st.manifest("test-basin", "t").trimPoint == 5)
    // trim beyond own position caps at seq+1
    val ack = appendOk(st, "t", AppendInput(Seq(TrimCommand(Long.MaxValue))))
    assert(st.manifest("test-basin", "t").trimPoint == ack.start.seqNum + 1)
  }

  test("read start resolution: seq, timestamp, tail-offset, clamp (read.rs:246-317)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "r",
      StreamConfig(timestamping = Some(Timestamping(TimestampingMode.ClientRequire))))
    // fixture mirrors lite/tests/backend read seeds: ts 1000,1000,2000,3000
    appendOk(st, "r", AppendInput(Seq(env("a"), env("b"), env("c"), env("d")),
      clientTimestamps = Seq(Some(1000L), Some(1000L), Some(2000L), Some(3000L))))
    def seqs(spec: ReadSpec) =
      st.readBatch("test-basin", "r", spec).toOption.get.map(_.seqNum)
    assert(seqs(ReadSpec(ReadStart(ReadFrom.SeqNum(2)))) == Seq(2, 3))
    // first record at/after ts=1000 is seq 0 (duplicate timestamps)
    assert(seqs(ReadSpec(ReadStart(ReadFrom.Timestamp(1000)))) == Seq(0, 1, 2, 3))
    assert(seqs(ReadSpec(ReadStart(ReadFrom.Timestamp(1500)))) == Seq(2, 3))
    // beyond all data -> resolves to tail -> empty
    assert(seqs(ReadSpec(ReadStart(ReadFrom.Timestamp(99999)))) == Seq())
    assert(seqs(ReadSpec(ReadStart(ReadFrom.TailOffset(2)))) == Seq(2, 3))
    assert(seqs(ReadSpec(ReadStart(ReadFrom.TailOffset(100)))) == Seq(0, 1, 2, 3))
    // start beyond tail: error without clamp, tail with clamp
    assert(st.read("test-basin", "r",
      ReadSpec(ReadStart(ReadFrom.SeqNum(99)))).isLeft)
    assert(seqs(ReadSpec(ReadStart(ReadFrom.SeqNum(99), clamp = true))) == Seq())
  }

  test("read limits: count, bytes, both; record-by-record admit (read_extent.rs:88-108)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "lim")
    // 4 records, metered size 8 + body len each: 10,10,10,10
    appendOk(st, "lim", AppendInput(Seq(env("aa"), env("bb"), env("cc"), env("dd"))))
    def seqs(spec: ReadSpec) =
      st.readBatch("test-basin", "lim", spec).toOption.get.map(_.seqNum)
    assert(seqs(ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
      ReadEnd(ReadLimit(count = Some(2))))) == Seq(0, 1))
    // bytes: exact fit of 2 records (20)
    assert(seqs(ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
      ReadEnd(ReadLimit(bytes = Some(20))))) == Seq(0, 1))
    // bytes smaller than first record -> empty
    assert(seqs(ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
      ReadEnd(ReadLimit(bytes = Some(9))))) == Seq())
    // both: count wins
    assert(seqs(ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
      ReadEnd(ReadLimit(count = Some(1), bytes = Some(100))))) == Seq(0))
    // both: bytes win
    assert(seqs(ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
      ReadEnd(ReadLimit(count = Some(4), bytes = Some(25))))) == Seq(0, 1))
  }

  test("until bound is exclusive (read_extent.rs:138-176)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "u",
      StreamConfig(timestamping = Some(Timestamping(TimestampingMode.ClientRequire))))
    appendOk(st, "u", AppendInput(Seq(env("a"), env("b"), env("c")),
      clientTimestamps = Seq(Some(1000L), Some(2000L), Some(2000L))))
    val rows = st.readBatch("test-basin", "u",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)), ReadEnd(until = Some(2000L))))
      .toOption.get
    assert(rows.map(_.seqNum) == Seq(0))
  }

  test("command-record filter (R10)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "cf")
    appendOk(st, "cf", AppendInput(Seq(env("a"), FenceCommand("tok"), env("b"))))
    val all = st.readBatch("test-basin", "cf",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(all.size == 3)
    val noCmd = st.readBatch("test-basin", "cf",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), ignoreCommands = true).toOption.get
    assert(noCmd.map(r => new String(r.body)) == Seq("a", "b"))
  }

  test("caps: oversized and empty batches rejected") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "caps")
    assert(st.append("test-basin", "caps", AppendInput(Nil)).isLeft)
    val big = EnvelopeRecord(Nil, Array.fill(1024 * 1024)(1: Byte))
    assert(st.append("test-basin", "caps", AppendInput(Seq(big))).isLeft)
  }

  test("terminal trim: deletion pending rejects appends; compact reclaims (T4, T1)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "del")
    appendOk(st, "del", AppendInput(Seq(env("a"))))
    st.deleteStream("test-basin", "del")
    assert(st.append("test-basin", "del", AppendInput(Seq(env("b"))))
      == Left(AppendError.StreamDeletionPending))
    st.compact("test-basin", "del")
    assert(st.catalog.getStream("test-basin", "del").isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(
      Layout.dataDir(st.root, "test-basin", "del"))))
  }

  test("compacting deleted streams away drops their parsed manifests") {
    dropsParsedManifests(BackendHarness.PosixHarness)
  }

  for (h <- Seq(BackendHarness.ObjectHarness, BackendHarness.HttpHarness))
  test(s"[${h.label}] compacting deleted streams away drops their parsed manifests") {
    dropsParsedManifests(h)
  }

  private def dropsParsedManifests(h: BackendHarness): Unit = {
    val st = freshStore(h)
    val names = (0 until 8).map(i => s"gone-$i")
    names.foreach(n => st.catalog.createStream("test-basin", n))
    val size0 = ManifestCache.parsedSize(st.root)
    names.foreach { n =>
      appendOk(st, n, AppendInput(Seq(env("a"))))
      assert(st.checkTail("test-basin", n).seqNum == 1)
    }
    assert(ManifestCache.parsedSize(st.root) == size0 + names.size)
    names.foreach { n =>
      st.deleteStream("test-basin", n)
      st.compact("test-basin", n)
    }
    assert(ManifestCache.parsedSize(st.root) == size0,
      "a compacted-away stream's parsed manifest outlived its document")
  }

  test("compact physically drops trimmed prefix; reads unchanged (T1)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "cp")
    appendOk(st, "cp", AppendInput((0 until 20).map(i => env(s"r$i"))))
    appendOk(st, "cp", AppendInput(Seq(TrimCommand(10))))
    st.compact("test-basin", "cp")
    val rows = st.readBatch("test-basin", "cp",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), ignoreCommands = true).toOption.get
    assert(rows.head.seqNum == 10 && rows.size == 10)
    assert(st.checkTail("test-basin", "cp").seqNum == 21)
  }

  test("age retention hides old records (T2)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "ret",
      StreamConfig(
        retentionPolicy = Some(RetentionPolicy.Age(10)), // 10 s
        timestamping = Some(Timestamping(TimestampingMode.ClientRequire, uncapped = true))))
    appendOk(st, "ret", AppendInput(Seq(env("old"), env("new")),
      clientTimestamps = Seq(Some(1000L), Some(50000L))), now = 1000L)
    val rows = st.read("test-basin", "ret",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), nowMs = Some(55000L))
      .toOption.get.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1))
  }

  test("delete-on-empty sweep (T3)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "doe",
      StreamConfig(
        retentionPolicy = Some(RetentionPolicy.Age(1)),
        deleteOnEmpty = Some(DeleteOnEmpty(5)),
        timestamping = Some(Timestamping(TimestampingMode.ClientRequire, uncapped = true))))
    st.catalog.createStream("test-basin", "keep",
      StreamConfig(deleteOnEmpty = Some(DeleteOnEmpty(5))))
    appendOk(st, "doe", AppendInput(Seq(env("x")), clientTimestamps = Seq(Some(1000L))), now = 1000L)
    appendOk(st, "keep", AppendInput(Seq(env("y"))), now = 1000L)
    // at t=20s: doe's record expired (1s retention), idle > 5s -> deleted
    val deleted = st.deleteOnEmptySweep("test-basin", Some(20000L))
    assert(deleted == Seq("doe"))
    assert(st.manifest("test-basin", "doe").deletionPending)
    assert(!st.manifest("test-basin", "keep").deletionPending)
  }

  test("delete-on-empty sweep pages past MaxListItems (T3 at 1500 streams)") {
    val st = freshStore()
    // 1500 never-written DoE streams: sweep must page past the
    // 1000-item list cap and delete them ALL (bgtasks/stream_doe.rs)
    val names = (0 until 1500).map(i => f"doe-$i%04d")
    st.catalog.createStreams("test-basin", names,
      StreamConfig(deleteOnEmpty = Some(DeleteOnEmpty(5))))
      .fold(e => fail(e), identity)
    val deleted = st.deleteOnEmptySweep("test-basin", Some(20000L))
    assert(deleted.size == 1500)
    assert(st.catalog.listStreams("test-basin").items.isEmpty)
  }

  test("read count limit above 2^31 returns all visible rows (no int overflow)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "big-count")
    appendOk(st, "big-count", AppendInput(Seq(env("a"), env("b"), env("c"))))
    val rows = st.readBatch("test-basin", "big-count",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
        ReadEnd(ReadLimit(count = Some(Int.MaxValue.toLong + 1)))))
      .toOption.get
    assert(rows.map(_.seqNum) == Seq(0L, 1L, 2L))
  }

  test("catalog: list paging with prefix/start_after/has_more (C1)") {
    val st = freshStore()
    for (n <- Seq("alpha", "beta", "beta-2", "gamma"))
      st.catalog.createStream("test-basin", n)
    val p1 = st.catalog.listStreams("test-basin", limit = 2)
    assert(p1.items.map(_.name) == Seq("alpha", "beta") && p1.hasMore)
    val p2 = st.catalog.listStreams("test-basin", startAfter = "beta", limit = 2)
    assert(p2.items.map(_.name) == Seq("beta-2", "gamma") && !p2.hasMore)
    val pre = st.catalog.listStreams("test-basin", prefix = "beta")
    assert(pre.items.map(_.name) == Seq("beta", "beta-2"))
  }

  test("catalog: create idempotency + ensure + reconfigure (C2-C4)") {
    val st = freshStore()
    val c1 = st.catalog.createStream("test-basin", "s", requestToken = Some("tok1"))
    assert(c1.isRight)
    // same token+config -> idempotent success
    assert(st.catalog.createStream("test-basin", "s", requestToken = Some("tok1")).isRight)
    // different token -> conflict
    assert(st.catalog.createStream("test-basin", "s", requestToken = Some("tok2"))
      == Left("StreamAlreadyExists"))
    // ensure: noop, then update
    assert(st.catalog.ensureStream("test-basin", "s", StreamConfig())
      == Right(EnsureOutcome.Noop))
    assert(st.catalog.ensureStream("test-basin", "s",
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)))
      == Right(EnsureOutcome.Updated))
    // reconfigure patch
    val out = st.catalog.reconfigureStream("test-basin", "s",
      StreamConfigPatch(retentionPolicy = Patch.Clear,
        deleteOnEmpty = Patch.Set(DeleteOnEmpty(60))))
    assert(out == Right(StreamConfig(deleteOnEmpty = Some(DeleteOnEmpty(60)))))
    // merged config falls back to the BASIN default after Clear
    // (three-layer resolution, config.rs:260-281)
    assert(st.catalog.streamConfig("test-basin", "s").get.retentionOrDefault
      == RetentionPolicy.Infinite)
  }

  test("bulk ingest encrypts executor-side: both ciphers, plaintext metering, " +
    "missing key rejected before any data moves (A13 on the 100 TB path)") {
    val st = freshStore()
    val key = Array.fill(32)(0x42.toByte)
    import spark.implicits._
    def mkDf(basin: String) = (0 until 20).map { i =>
      (basin, s"enc-bulk-${i % 2}", Option(1000L + i),
        s"bulk-secret-$i".getBytes, i.toLong)
    }.toDF("basin", "stream", "ts_client", "body", "arrival")
      .withColumn("headers", org.apache.spark.sql.functions.expr(
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .select("basin", "stream", "ts_client", "headers", "body", "arrival")
    for ((algo, basin) <- Seq(CipherAlgo.Aegis256 -> "bulkenc-aegis",
                              CipherAlgo.Aes256Gcm -> "bulkenc-gcm")) {
      st.catalog.createBasin(basin, BasinConfig(
        defaultStreamConfig = StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
        streamCipher = Some(algo))).fold(e => fail(e), identity)
      (0 until 2).foreach(i => st.catalog.createStream(basin, s"enc-bulk-$i"))
      val acks = st.ingest(mkDf(basin), Some(999999L), cipher = Some(key))
      assert(acks((basin, "enc-bulk-0")).tail.seqNum == 10)
      // stored bodies carry the format byte, never the plaintext;
      // metered size is the PLAINTEXT size (8 + len)
      val raw = st.visible(basin, "enc-bulk-0").collect()
      raw.foreach { r =>
        val stored = r.getAs[Array[Byte]](3)
        assert(stored(0) == algo.formatId)
        assert(!new String(stored).contains("bulk-secret"))
        assert(r.getLong(4) == 8L + s"bulk-secret-${r.getLong(0) * 2}".length)
      }
      // decrypting read recovers every body in order
      val rows = st.readBatch(basin, "enc-bulk-0",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key)).toOption.get
      assert(rows.map(r => new String(r.body)) ==
        (0 until 20 by 2).map(i => s"bulk-secret-$i"))
      // wrong key fails authentication, not garbage
      assertThrows[Exception](st.readBatch(basin, "enc-bulk-0",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0))),
        cipher = Some(Array.fill(32)(0x43.toByte))).toOption.get)
    }
    // cipher configured, no key -> the batch is rejected up front and
    // nothing commits
    val ex = intercept[IllegalStateException](
      st.ingest(mkDf("bulkenc-aegis"), Some(999999L)))
    assert(ex.getMessage.contains("missing encryption key"))
    assert(st.checkTail("bulkenc-aegis", "enc-bulk-0").seqNum == 10)
  }

  test("bulk ingest: per-stream contiguous seqs + manifests committed") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "bulk-a")
    st.catalog.createStream("test-basin", "bulk-b")
    // seed bulk-a so ingest continues from tail=1
    appendOk(st, "bulk-a", AppendInput(Seq(env("seed"))))
    import spark.implicits._
    val df = (0 until 100).map { i =>
      ("test-basin", if (i % 2 == 0) "bulk-a" else "bulk-b",
       Option(1000L + i), null.asInstanceOf[Array[Byte]],
       s"payload-$i".getBytes, i.toLong)
    }.toDF("basin", "stream", "ts_client", "headers_raw", "body", "arrival")
      .withColumn("headers", org.apache.spark.sql.functions.expr(
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .drop("headers_raw")
    val acks = st.ingest(df, Some(999999L))
    assert(acks(("test-basin", "bulk-a")).tail.seqNum == 51)
    assert(acks(("test-basin", "bulk-b")).tail.seqNum == 50)
    val rows = st.readBatch("test-basin", "bulk-a",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(_.seqNum) == (0L until 51L))
    // timestamps monotone
    assert(rows.map(_.timestamp).sliding(2).forall(p => p.head <= p.last))
  }

  test("mid-ingest hard crash (files moved, manifest not committed): " +
    "orphans invisible, swept on next commit, retry lands without dup") {
    // The one crash point the in-process rollback cannot cover: the
    // process dies BETWEEN the staged files moving into the live gen
    // dir and the manifest CAS. Fabricate exactly that on-disk state
    // and pin the recovery contract: reads clamp at the committed
    // tail (orphan rows invisible), the next commit's orphan sweep
    // physically removes them, and the re-driven ingest reuses the
    // orphaned seq range without duplicates.
    val st = freshStore()
    st.catalog.createStream("test-basin", "crash")
    appendOk(st, "crash", AppendInput(Seq(env("c0"), env("c1")))) // tail = 2
    val gen = st.manifest("test-basin", "crash").generation
    val dir = Layout.genDir(st.root, "test-basin", "crash", gen)
    // the dead ingest's file: seqs 2..3, starting exactly at the tail
    DirectParquet.writeBatch(dir, Seq(
      DirectParquet.Rec(2L, 9000L, Nil, "dead-x".getBytes, 10L),
      DirectParquet.Rec(3L, 9000L, Nil, "dead-y".getBytes, 10L)))
    // (1) invisible: reads clamp at the committed tail
    val before = st.readBatch("test-basin", "crash",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(before.map(r => new String(r.body)) == Seq("c0", "c1"),
      "orphan rows above the tail leaked into a read")
    assert(st.checkTail("test-basin", "crash").seqNum == 2L)
    // (2)+(3) a fresh instance (the restart) re-drives the ingest:
    // the sweep removes the orphan file, the retry lands at seq 2
    val st2 = new StreamStore(spark, st.root)
    import spark.implicits._
    val bulk = Seq(("test-basin", "crash", 9100L, "x"),
        ("test-basin", "crash", 9101L, "y"))
      .toDF("basin", "stream", "ts_client", "b")
      .selectExpr("basin", "stream", "ts_client",
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(b AS BINARY) AS body", "CAST(ts_client AS BIGINT) AS arrival")
    st2.ingest(bulk, Some(9100L))
    val after = st2.readBatch("test-basin", "crash",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(after.map(_.seqNum) == (0L until 4L),
      s"dup/gap after orphan recovery: ${after.map(_.seqNum)}")
    assert(after.map(r => new String(r.body)) == Seq("c0", "c1", "x", "y"),
      "the dead ingest's rows resurrected beside the retry's")
  }

  test("bulk ingest whose planned tail is stale ABORTS with files staged, " +
    "and a re-planned retry lands cleanly (the CAS contract's other half)") {
    // GenerationSpec's three-way race pins the BENIGN-rebase side
    // (version bumped, tail unmoved -> commit proceeds); this is the
    // real-conflict side: the tail MOVED after planning, so the staged
    // seq numbering is wrong and the commit must abort atomically.
    val st = freshStore()
    st.catalog.createStream("test-basin", "race")
    appendOk(st, "race", AppendInput(Seq(env("r0"))))
    val planned = st.manifest("test-basin", "race") // tail = 1
    // the tail moves AFTER our ingest would have planned...
    appendOk(st, "race", AppendInput(Seq(env("r1"), env("r2")))) // tail = 3
    // ...which we reproduce deterministically by re-priming the cache
    // with the pre-move manifest (same trick as GenerationSpec)
    ManifestCache.put(Layout.statePath(st.root, "test-basin", "race"), planned)
    import spark.implicits._
    def bulk = Seq(("test-basin", "race", 5000L, "x"),
        ("test-basin", "race", 5001L, "y"))
      .toDF("basin", "stream", "ts_client", "b")
      .selectExpr("basin", "stream", "ts_client",
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(b AS BINARY) AS body", "CAST(ts_client AS BIGINT) AS arrival")
    val ex = intercept[ManifestCasConflict] { st.ingest(bulk, Some(5000L)) }
    assert(ex.getMessage.contains("tail moved"))
    // atomic: nothing of the losing ingest is visible, seqs contiguous
    // (un-poison the cache first — the read-back must see the REAL
    // manifest, not the fixture's stale plant)
    ManifestCache.invalidate(Layout.statePath(st.root, "test-basin", "race"))
    val after = st.readBatch("test-basin", "race",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(after.map(_.seqNum) == (0L until 3L))
    assert(after.map(r => new String(r.body)) == Seq("r0", "r1", "r2"))
    // clean retry: a re-planned ingest (fresh manifest) lands at the tail
    st.ingest(bulk, Some(5000L))
    val done = st.readBatch("test-basin", "race",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(done.map(_.seqNum) == (0L until 5L))
    assert(done.map(r => new String(r.body)) == Seq("r0", "r1", "r2", "x", "y"))
  }

  test("bulk ingest escapes non-filesystem-safe stream names through the " +
    "broadcast lookup (same dirs as the unary path)") {
    val st = freshStore()
    val odd = "sp ace/sl:ash~t"
    st.catalog.createStream("test-basin", odd)
    // seed through UNARY append, bulk-ingest on top: both paths must
    // agree on the escaped directory or the seqs fork into two dirs
    appendOk(st, odd, AppendInput(Seq(env("u0"))))
    import spark.implicits._
    val df = (0 until 3).map { i =>
      ("test-basin", odd, Option(1000L + i), s"b$i".getBytes, i.toLong)
    }.toDF("basin", "stream", "ts_client", "body", "arrival")
      .withColumn("headers", org.apache.spark.sql.functions.expr(
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .select("basin", "stream", "ts_client", "headers", "body", "arrival")
    st.ingest(df, Some(2000L))
    val rows = st.readBatch("test-basin", odd,
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(_.seqNum) == (0L until 4L))
    assert(rows.map(r => new String(r.body)) == Seq("u0", "b0", "b1", "b2"))
    // and the on-disk dir is the escaped token, exactly once
    val dir = java.nio.file.Paths.get(
      Layout.genDir(st.root, "test-basin", odd, 0L))
    assert(java.nio.file.Files.isDirectory(dir), s"missing $dir")
    assert(dir.toString.contains(Layout.escape(odd)))
  }

  test("bulk ingest commits 64 streams correctly through the parallel commit pool") {
    val st = freshStore()
    val names = (0 until 64).map(i => f"wide-$i%02d")
    assert(st.catalog.createStreams("test-basin", names) == Right(64))
    import spark.implicits._
    val df = (0 until 640).map { i =>
      ("test-basin", f"wide-${i % 64}%02d", Option(1000L + i),
       s"w$i".getBytes, i.toLong)
    }.toDF("basin", "stream", "ts_client", "body", "arrival")
      .withColumn("headers", org.apache.spark.sql.functions.expr(
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .select("basin", "stream", "ts_client", "headers", "body", "arrival")
    val acks = st.ingest(df, Some(999999L))
    assert(acks.size == 64)
    // every stream's commit landed: tail 10, contiguous seqs, right bodies
    names.foreach { n =>
      assert(st.checkTail("test-basin", n).seqNum == 10, s"stream $n")
      val rows = st.readBatch("test-basin", n,
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      assert(rows.map(_.seqNum) == (0L until 10L), s"stream $n")
    }
  }

  test("ingest honors per-stream timestamping config (A3 bulk path, streamer.rs:1121-1299)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "ts-prefer")
    st.catalog.createStream("test-basin", "ts-arrival", StreamConfig(
      timestamping = Some(Timestamping(TimestampingMode.Arrival))))
    st.catalog.createStream("test-basin", "ts-uncapped", StreamConfig(
      timestamping = Some(Timestamping(TimestampingMode.ClientPrefer, uncapped = true))))
    st.catalog.createStream("test-basin", "ts-require", StreamConfig(
      timestamping = Some(Timestamping(TimestampingMode.ClientRequire))))
    import spark.implicits._
    def mk(rows: Seq[(String, Option[Long], Long)]) =
      rows.map { case (s, ts, a) => ("test-basin", s, ts, a) }
        .toDF("basin", "stream", "ts_client", "arrival")
        .withColumn("headers", org.apache.spark.sql.functions.expr(
          "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
        .withColumn("body", org.apache.spark.sql.functions.expr("CAST('x' AS BINARY)"))
    st.ingest(mk(Seq(
      ("ts-prefer", Some(500L), 0L), ("ts-prefer", None, 1L), ("ts-prefer", Some(9999L), 2L),
      ("ts-arrival", Some(500L), 0L),
      ("ts-uncapped", Some(9999L), 0L),
      ("ts-require", Some(700L), 0L))), Some(1000L))
    def ts(s: String) = st.readBatch("test-basin", s,
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get.map(_.timestamp)
    assert(ts("ts-prefer") == Seq(500L, 1000L, 1000L)) // client; now-fallback; capped+monotone
    assert(ts("ts-arrival") == Seq(1000L))             // client clock ignored
    assert(ts("ts-uncapped") == Seq(9999L))            // future timestamp kept
    assert(ts("ts-require") == Seq(700L))
    // ClientRequire with a missing timestamp rejects the batch; nothing commits
    val thrown = intercept[Exception](
      st.ingest(mk(Seq(("ts-require", None, 0L))), Some(1000L)))
    val chain = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    assert(chain.contains("TimestampMissing"))
    assert(st.checkTail("test-basin", "ts-require").seqNum == 1)
  }

  test("encryption round-trip: both ciphers, format bytes, plaintext metering (A13)") {
    val st = freshStore()
    val key = Array.fill(32)(0x24.toByte) // backend-test fixture key
    val wrong = Array.fill(32)(0x25.toByte)
    for ((algo, basin) <- Seq(
        CipherAlgo.Aegis256 -> "enc-aegis-basin", CipherAlgo.Aes256Gcm -> "enc-gcm-basin")) {
      st.catalog.createBasin(basin, BasinConfig(
        defaultStreamConfig = StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
        streamCipher = Some(algo))).fold(e => fail(e), identity)
      st.catalog.createStream(basin, "enc")
      st.append(basin, "enc", AppendInput(Seq(env("secret-payload"))),
        Some(1000000L), Some(key)).fold(e => fail(e.toString), identity)
      val raw = st.visible(basin, "enc").collect()
      val stored = raw.head.getAs[Array[Byte]](3)
      // stored bytes are NOT the plaintext, and lead with the
      // reference's format id (encryption.rs:9-12)
      assert(!java.util.Arrays.equals(stored, "secret-payload".getBytes))
      assert(stored(0) == algo.formatId)
      // ciphertext length = the sealed ENVELOPE encoding (1 flag byte
      // + body for a headerless record — headers are encrypted too,
      // encryption.rs:243-272), not the bare body
      assert(stored.length ==
        1 + algo.nonceLen + (1 + "secret-payload".length) + RecordCipher.TagLen)
      // the stored headers column is NULL: nothing about the record's
      // headers is visible in cleartext
      assert(raw.head.isNullAt(2))
      // metered size is the PLAINTEXT size (8 + 14)
      assert(raw.head.getLong(4) == 22)
      // decrypting read returns the plaintext
      val rows = st.readBatch(basin, "enc",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key)).toOption.get
      assert(new String(rows.head.body) == "secret-payload")
      // wrong key fails authentication
      assertThrows[Exception](st.readBatch(basin, "enc",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(wrong)).toOption.get)
      // codegen'd plan-level decrypt recovers plaintext for both formats
      val viaCol = RecordCipher.decryptRecords(
        st.visible(basin, "enc"), key, basin, "enc")
        .select(org.apache.spark.sql.functions.col("body").cast("string"))
        .first().getString(0)
      assert(viaCol == "secret-payload")
    }
    // headers are sealed INSIDE the ciphertext (full-envelope
    // encryption, encryption.rs:243-272): nothing header-shaped in
    // storage, originals restored by a decrypting read — and commands
    // stay plaintext so fence/trim replay and R10 need no key
    st.catalog.createStream("enc-aegis-basin", "hdrs")
    st.append("enc-aegis-basin", "hdrs", AppendInput(Seq(
      env("with-headers", "content-type" -> "text/plain", "k" -> "v"),
      FenceCommand("tok-1"))), Some(1000000L), Some(key))
      .fold(e => fail(e.toString), identity)
    val hraw = st.visible("enc-aegis-basin", "hdrs").orderBy("seq_num").collect()
    assert(hraw(0).isNullAt(2), "encrypted data row leaked a headers column")
    assert(!new String(hraw(0).getAs[Array[Byte]](3)).contains("content-type"))
    val cmdHs = hraw(1).getSeq[org.apache.spark.sql.Row](2)
    assert(cmdHs.size == 1 && cmdHs.head.getAs[Array[Byte]](0).isEmpty,
      "command row must stay plaintext envelope form")
    assert(new String(hraw(1).getAs[Array[Byte]](3), "UTF-8") == "tok-1")
    val hdec = st.readBatch("enc-aegis-basin", "hdrs",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key)).toOption.get
    assert(hdec.head.headers.map(h =>
      (new String(h.name), new String(h.value))) ==
      Seq("content-type" -> "text/plain", "k" -> "v"))
    assert(new String(hdec.head.body) == "with-headers")
    // R10 command filtering works WITHOUT key material (stored form)
    val noCmd = st.readBatch("enc-aegis-basin", "hdrs",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), ignoreCommands = true,
      cipher = Some(key)).toOption.get
    assert(noCmd.map(_.seqNum) == Seq(0L))

    // resolution rules (encryption.rs EncryptionSpec::resolve):
    // key WITHOUT a configured cipher -> plaintext storage, key ignored
    st.catalog.createStream("test-basin", "enc-plain")
    appendOk2(st, "enc-plain", AppendInput(Seq(env("open-payload"))), key)
    assert(new String(st.visible("test-basin", "enc-plain")
      .collect().head.getAs[Array[Byte]](3)) == "open-payload")
    // configured cipher WITHOUT key -> MissingKey error on both paths
    st.catalog.createStream("enc-aegis-basin", "nokey")
    st.append("enc-aegis-basin", "nokey", AppendInput(Seq(env("x"))), Some(1000L)) match {
      case Left(AppendError.EncryptionError(msg)) =>
        assert(msg.contains("missing encryption key"))
      case other => fail(s"expected EncryptionError, got $other")
    }
    assert(st.read("enc-aegis-basin", "nokey",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).swap.exists(_.contains("EncryptionError")))
  }

  private def appendOk2(st: StreamStore, stream: String, in: AppendInput,
                        key: Array[Byte]): AppendAck =
    st.append("test-basin", stream, in, Some(1000000L), Some(key))
      .fold(e => fail(e.toString), identity)

  test("read re-chunking: 1000-record and 1 MiB caps (R6, batcher.rs)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "chunks")
    // 15 records of ~300 KiB metered each -> byte cap splits after 3
    val big = env("x" * (300 * 1024))
    for (_ <- 0 until 5)
      appendOk(st, "chunks", AppendInput(Seq.fill(3)(big)))
    val chunks = st.readChunked("test-basin", "chunks",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get.toSeq
    assert(chunks.map(_.size) == Seq(3, 3, 3, 3, 3))
    assert(chunks.flatten.map(_.seqNum) == (0L until 15L))
    // count cap: 1500 tiny records -> 1000 + 500
    st.catalog.createStream("test-basin", "chunks2")
    for (_ <- 0 until 2)
      appendOk(st, "chunks2", AppendInput(Seq.fill(750)(env("t"))))
    val c2 = st.readChunked("test-basin", "chunks2",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get.toSeq
    assert(c2.map(_.size) == Seq(1000, 500))
  }

  test("ingest epoch dedup: replayed micro-batch is a no-op (exactly-once manifests)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "ep")
    import spark.implicits._
    def batch(epoch: Long) = {
      val df = Seq(("test-basin", "ep", Option(1000L + epoch), epoch))
        .toDF("basin", "stream", "ts_client", "arrival")
        .withColumn("headers", org.apache.spark.sql.functions.expr(
          "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
        .withColumn("body", org.apache.spark.sql.functions.expr("CAST('x' AS BINARY)"))
      st.ingest(df, Some(99999L), epochId = Some(epoch))
    }
    assert(batch(0).nonEmpty)
    assert(st.checkTail("test-basin", "ep").seqNum == 1)
    // replay of epoch 0 -> skipped entirely
    assert(batch(0).isEmpty)
    assert(st.checkTail("test-basin", "ep").seqNum == 1)
    assert(st.visible("test-basin", "ep").count() == 1)
    // next epoch appends
    assert(batch(1).nonEmpty)
    assert(st.checkTail("test-basin", "ep").seqNum == 2)
  }

  test("unary read clamps to one batch (R7); throughput metrics bucket correctly (M2)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "u7",
      StreamConfig(timestamping = Some(Timestamping(TimestampingMode.ClientRequire, uncapped = true))))
    for (b <- 0 until 2)
      appendOk(st, "u7", AppendInput((0 until 750).map(i => env(s"r$b-$i")),
        clientTimestamps = (0 until 750).map(i => Some(b * 60000L + i * 10L))))
    // unlimited spec -> unary caps at 1000 records
    val unary = st.readUnary("test-basin", "u7",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(unary.size == 1000)
    assert(unary.map(_.seqNum) == (0L until 1000L))
    // M2: two one-minute buckets of 750 ops each
    val m = st.throughputMetrics("test-basin", 60000L)
      .orderBy("stream", "bucket").collect()
    assert(m.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("u7", 0L, 750L), ("u7", 1L, 750L)))
    // M3 single-scan storage gauge; an empty stream reports zero
    st.catalog.createStream("test-basin", "empty-stream")
    val sm = st.storageMetrics("test-basin").orderBy("stream").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(sm == Seq(("empty-stream", 0L), ("u7", 1500L)))
  }

  test("exotic stream names: path escaping round-trips through append + read + ingest") {
    val st = freshStore()
    // stream names may be any 1-512 bytes except "." / ".." (stream.rs:28-47)
    val names = Seq("with space", "slash/inside", "colon:name", "pct%20enc",
      "uni-héllo", "eq=sign")
    names.foreach { n =>
      st.catalog.createStream("test-basin", n)
      appendOk(st, n, AppendInput(Seq(env(s"body-of-$n"))))
      val rows = st.readBatch("test-basin", n,
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      assert(rows.size == 1 && new String(rows.head.body) == s"body-of-$n", n)
      assert(st.checkTail("test-basin", n).seqNum == 1, n)
    }
    // ingest path (Spark dynamic partition writer escaping must agree)
    import spark.implicits._
    val df = names.map(n => ("test-basin", n, Option(5000L), 99L))
      .toDF("basin", "stream", "ts_client", "arrival")
      .withColumn("headers", org.apache.spark.sql.functions.expr(
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .withColumn("body", org.apache.spark.sql.functions.expr("CAST('ing' AS BINARY)"))
    st.ingest(df, Some(999999L))
    names.foreach { n =>
      val rows = st.readBatch("test-basin", n,
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      assert(rows.map(_.seqNum) == Seq(0L, 1L), n)
    }
  }

  test("linearizability-style history: plain + CAS + fencing clients (sim/scenarios/linearizable.rs)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "lin")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val history = new java.util.concurrent.ConcurrentLinkedQueue[(String, Either[AppendError, AppendAck])]()

    // archetype 1: plain appenders
    val plain = (0 until 2).map(c => pool.submit(new Runnable {
      def run(): Unit = for (i <- 0 until 25)
        history.add((s"plain$c", st.append("test-basin", "lin",
          AppendInput(Seq(env(s"p$c-$i"))))))
    }))
    // archetype 2: match_seq_num chainer — CAS from observed tail,
    // retry on mismatch
    val chain = pool.submit(new Runnable {
      def run(): Unit = {
        var ok = 0
        while (ok < 25) {
          val tail = st.checkTail("test-basin", "lin").seqNum
          val r = st.append("test-basin", "lin",
            AppendInput(Seq(env(s"c-$ok")), matchSeqNum = Some(tail)))
          history.add(("chain", r))
          if (r.isRight) ok += 1
        }
      }
    })
    // archetype 3: fencing rotator — sets a token then appends with it
    val fencer = pool.submit(new Runnable {
      def run(): Unit = for (i <- 0 until 10) {
        val tok = s"f$i"
        history.add(("fence-set", st.append("test-basin", "lin",
          AppendInput(Seq(FenceCommand(tok))))))
        history.add(("fence-use", st.append("test-basin", "lin",
          AppendInput(Seq(env(s"f-$i")), fencingToken = Some(tok)))))
      }
    })
    (plain :+ chain :+ fencer).foreach(_.get())
    pool.shutdown()

    import scala.jdk.CollectionConverters._
    val events = history.asScala.toSeq
    val acks = events.collect { case (_, Right(a)) => a }
    // 1. acked start positions are unique and contiguous overall
    val starts = acks.map(_.start.seqNum).sorted
    assert(starts == (0L until starts.size))
    // 2. tail equals total acked records
    assert(st.checkTail("test-basin", "lin").seqNum == starts.size)
    // 3. CAS rejections carried the true tail at rejection time
    events.collect { case ("chain", Left(AppendError.SeqNumMismatch(m, actual))) =>
      assert(m != actual)
    }
    // 4. fence-use appends may fail only with a token mismatch (a later
    //    rotation fenced them out), never corrupt sequencing
    events.collect { case ("fence-use", Left(e)) =>
      assert(e.isInstanceOf[AppendError.FencingTokenMismatch])
    }
    // 5. the stored log is exactly the acked records in seq order
    val stored = st.readBatch("test-basin", "lin",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(stored.map(_.seqNum) == (0L until starts.size))
    // timestamps non-decreasing across the whole interleaving
    assert(stored.map(_.timestamp).sliding(2).forall(p => p.head <= p.last))
  }

  test("distributed sequencing: one stream split across partitions matches the window semantics") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "huge")
    import spark.implicits._
    // 10k rows, one stream -> range partitioner must split it; ts has
    // out-of-order noise to exercise the cross-partition monotone clamp
    val n = 10000
    val df = (0 until n).map { i =>
      ("test-basin", "huge", Option(1000L + i * 3 - (i % 7) * 5), i.toLong)
    }.toDF("basin", "stream", "ts_client", "arrival")
      .withColumn("headers", org.apache.spark.sql.functions.expr(
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .withColumn("body", org.apache.spark.sql.functions.expr(
        "CAST(concat('r', arrival) AS BINARY)"))
      .repartition(8) // scrambled input placement
    val acks = st.ingest(df, Some(10000000L))
    assert(acks(("test-basin", "huge")).tail.seqNum == n)
    val rows = st.visible("test-basin", "huge")
      .orderBy("seq_num")
      .select("seq_num", "timestamp", "body").collect()
    assert(rows.length == n)
    // seq i must correspond to arrival i (bodies carry arrival ids)
    assert((0 until n).forall(i =>
      new String(rows(i).getAs[Array[Byte]](2)) == s"r$i"))
    // timestamps = running max of client ts in arrival order
    var mx = 0L
    (0 until n).foreach { i =>
      val expected = math.max(mx, 1000L + i * 3 - (i % 7) * 5)
      assert(rows(i).getLong(1) == expected, s"ts at $i")
      mx = expected
    }
  }

  test("concurrent appends from many threads stay contiguous (linearizable-ish)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "conc")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val acks = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val futures = (0 until 40).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val a = appendOk(st, "conc", AppendInput(Seq(env(s"m$i"))))
          acks.add(a.start.seqNum)
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    assert(acks.asScala.toSet == (0L until 40L).toSet)
    assert(st.checkTail("test-basin", "conc").seqNum == 40)
    val rows = st.readBatch("test-basin", "conc",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(_.seqNum) == (0L until 40L))
  }

  test("bytes-limited read scans only budget-overlapping files (R4 at scale)") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "budget")
    // 50 appends -> 50 files of 10 records x 108 metered bytes each
    (0 until 50).foreach { i =>
      appendOk(st, "budget",
        AppendInput((0 until 10).map(j => env("x" * 100))), 1000L + i)
    }
    val dir = Layout.genDir(st.root, "test-basin", "budget", 0L)
    assert(FileIndex.listStats(dir).size == 50)
    // budget of ~3 files' worth from seq 0
    val df = st.read("test-basin", "budget",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
        ReadEnd(ReadLimit(bytes = Some(3 * 1080L + 500)))))
      .fold(e => fail(e), identity)
    // plan touches only the files overlapping the budget cut, not all 50
    assert(df.inputFiles.length <= 4,
      s"expected <=4 files in plan, got ${df.inputFiles.length}")
    val rows = df.collect()
    assert(rows.length == 34) // 3*10 full files + 4 rows of the 4th (4*108=432<=500)
    assert(rows.map(_.getLong(0)).toSeq == (0L until 34L))
    // no WindowExec anywhere in the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"plan must not contain a window:\n$plan")
    // exact-fit boundary: budget exactly 2 files
    val exact = st.read("test-basin", "budget",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
        ReadEnd(ReadLimit(bytes = Some(2 * 1080L)))))
      .fold(e => fail(e), identity).collect()
    assert(exact.length == 20)
    // budget smaller than one record admits nothing
    val none = st.read("test-basin", "budget",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
        ReadEnd(ReadLimit(bytes = Some(50L)))))
      .fold(e => fail(e), identity).collect()
    assert(none.isEmpty)
    // mid-stream start + until bound still exact
    val mid = st.read("test-basin", "budget",
      ReadSpec(ReadStart(ReadFrom.SeqNum(15)),
        ReadEnd(ReadLimit(bytes = Some(10 * 108L)), until = Some(1002L))))
      .fold(e => fail(e), identity).collect()
    // seq 15..19 have ts 1000/1001 (files 0 and 1 at ts up to 1001 < until)
    assert(mid.map(_.getLong(0)).toSeq == (15L until 20L))
    // count limit prunes files exactly the same way (no scan-all top-N)
    val cdf = st.read("test-basin", "budget",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
        ReadEnd(ReadLimit(count = Some(25)))))
      .fold(e => fail(e), identity)
    assert(cdf.inputFiles.length <= 3,
      s"count-limited plan should touch <=3 files, got ${cdf.inputFiles.length}")
    assert(cdf.collect().map(_.getLong(0)).toSeq == (0L until 25L))
    // combined CountOrBytes: first budget to run out cuts the prefix
    val both = st.read("test-basin", "budget",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)),
        ReadEnd(ReadLimit(count = Some(100), bytes = Some(12 * 108L)))))
      .fold(e => fail(e), identity).collect()
    assert(both.map(_.getLong(0)).toSeq == (0L until 12L)) // bytes cut first
  }

  test("two store instances on one root: concurrent appends never lose records (manifest CAS)") {
    val dir = BackendHarness.tempDir("graft-multi").toString
    val st1 = new StreamStore(spark, dir)
    st1.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st1.catalog.createStream("test-basin", "shared")
    val st2 = new StreamStore(spark, dir) // separate instance, same root
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val futures = (0 until 60).map { i =>
      val st = if (i % 2 == 0) st1 else st2
      pool.submit(new Runnable {
        def run(): Unit = {
          st.append("test-basin", "shared",
            AppendInput(Seq(env(s"w$i"))), Some(1000L))
            .fold(e => fail(e.toString), identity); ()
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    assert(st1.checkTail("test-basin", "shared").seqNum == 60)
    val rows = st2.readBatch("test-basin", "shared",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(_.seqNum) == (0L until 60L)) // contiguous, none lost
  }

  test("C6 auto-create: append/read to missing stream fails unless basin opts in (core.rs:326-391)") {
    val st = freshStore() // test-basin has no auto-create flags
    assert(st.append("test-basin", "ghost", AppendInput(Seq(env("a"))), Some(1000L))
      == Left(AppendError.StreamNotFound))
    assert(st.read("test-basin", "ghost",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).isLeft)
    assert(st.catalog.getStream("test-basin", "ghost").isEmpty)
    // opted-in basin: append provisions with defaults then proceeds
    st.catalog.createBasin("auto-basin1",
      BasinConfig(
        defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
        createStreamOnAppend = true, createStreamOnRead = true))
    val ack = st.append("auto-basin1", "new-stream",
      AppendInput(Seq(env("a"))), Some(1000L)).toOption.get
    assert(ack.tail.seqNum == 1)
    assert(st.catalog.getStream("auto-basin1", "new-stream").isDefined)
    // read-side auto-create: empty stream materializes
    val r = st.read("auto-basin1", "other-stream",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(r.count() == 0)
    assert(st.catalog.getStream("auto-basin1", "other-stream").isDefined)
    // ingest enforces the same contract
    import spark.implicits._
    val df = Seq(("test-basin", "ghost2", Option.empty[Long], "b"))
      .toDF("basin", "stream", "ts_client", "body")
      .selectExpr("basin", "stream", "ts_client",
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(body AS BINARY) AS body", "CAST(0 AS BIGINT) AS arrival")
    intercept[IllegalArgumentException] { st.ingest(df, Some(1000L)) }
  }

  test("ingest auto-provisions missing streams in one catalog commit (C6 bulk)") {
    val st = freshStore()
    st.catalog.createBasin("auto-basin2",
      BasinConfig(
        defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
        createStreamOnAppend = true))
    import spark.implicits._
    val df = (0 until 40).map(i => ("auto-basin2", s"new-$i", i.toLong))
      .toDF("basin", "stream", "arrival")
      .selectExpr("basin", "stream", "CAST(NULL AS BIGINT) AS ts_client",
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(stream AS BINARY) AS body", "arrival")
    val acks = st.ingest(df, Some(1000L))
    assert(acks.size == 40)
    assert(st.catalog.listStreams("auto-basin2").items.size == 40)
    assert(st.checkTail("auto-basin2", "new-7").seqNum == 1)
    // direct bulk API: one commit, idempotent on existing names
    assert(st.catalog.createStreams("auto-basin2",
      Seq("new-0", "extra-a", "extra-b")) == Right(2))
    assert(st.catalog.createStreams("auto-basin2", Seq("..")).isLeft)
  }

  test("read-side decryption happens in the plan, not on the driver (A13)") {
    val st = freshStore()
    val key = Array.fill(32)(0x11.toByte)
    st.catalog.createBasin("encplan-basin", BasinConfig(
      defaultStreamConfig = StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
      streamCipher = Some(CipherAlgo.Aegis256))).fold(e => fail(e), identity)
    st.catalog.createStream("encplan-basin", "encplan")
    st.append("encplan-basin", "encplan", AppendInput(Seq(env("top-secret"))),
      Some(1000L), Some(key))
    val df = st.read("encplan-basin", "encplan",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key))
      .fold(e => fail(e), identity)
    // record_decrypt is a plan expression (codegen'd), not a driver loop
    assert(df.queryExecution.analyzed.toString.toLowerCase
      .replace("_", "").contains("recorddecrypt"))
    assert(new String(df.collect().head.getAs[Array[Byte]]("body")) == "top-secret")
    // readBatch routes through the same plan
    val rec = st.readBatch("encplan-basin", "encplan",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key)).toOption.get.head
    assert(new String(rec.body) == "top-secret")
  }

  test("C6 auto-create failure is NOT admitted: invalid names never ack (data-loss guard)") {
    val st = freshStore()
    st.catalog.createBasin("auto-basin3",
      BasinConfig(createStreamOnAppend = true, createStreamOnRead = true))
    // ".." is an invalid stream name: auto-create fails, append must too
    assert(st.append("auto-basin3", "..", AppendInput(Seq(env("x"))), Some(1000L))
      == Left(AppendError.StreamNotFound))
    assert(st.read("auto-basin3", "..",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).isLeft)
  }

  test("ingest rejects deletion-pending streams instead of resurrecting them") {
    val st = freshStore()
    st.catalog.createBasin("auto-basin4",
      BasinConfig(
        defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
        createStreamOnAppend = true))
    st.catalog.createStream("auto-basin4", "dying")
    st.append("auto-basin4", "dying", AppendInput(Seq(env("a"))), Some(1000L))
    st.deleteStream("auto-basin4", "dying")
    import spark.implicits._
    val df = Seq(("auto-basin4", "dying", 0L)).toDF("basin", "stream", "arrival")
      .selectExpr("basin", "stream", "CAST(NULL AS BIGINT) AS ts_client",
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(stream AS BINARY) AS body", "arrival")
    intercept[IllegalStateException] { st.ingest(df, Some(2000L)) }
    // the soft-deleted catalog entry was not resurrected
    assert(st.catalog.getStream("auto-basin4", "dying").isEmpty)
  }

  test("compact keeps the old generation in place for a grace window") {
    val st = freshStore()
    st.catalog.createStream("test-basin", "gen")
    (0 until 3).foreach(_ =>
      appendOk(st, "gen", AppendInput(Seq(env("r")))))
    st.append("test-basin", "gen", AppendInput(Seq(TrimCommand(2))), Some(1000000L))
    val oldPaths = FileIndex.listStats(
      Layout.genDir(st.root, "test-basin", "gen", 0L)).map(_.path)
    assert(oldPaths.nonEmpty)
    st.compact("test-basin", "gen")
    // the flip committed: manifest points at gen 1...
    assert(st.manifest("test-basin", "gen").generation == 1L)
    // ...and every pre-flip path is STILL on disk, readable in place
    // (what keeps a racing reader plan alive across the rewrite)
    oldPaths.foreach(p => assert(FileIndex.tryStats(p).nonEmpty, p))
    // reads over the NEW generation are correct
    val rows = st.readBatch("test-basin", "gen",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.head.seqNum == 2)
    // within grace: the old generation is protected
    st.sweepOldGens("test-basin", "gen")
    oldPaths.foreach(p => assert(FileIndex.tryStats(p).nonEmpty, p))
    // grace passed: sweep removes exactly the non-current generations
    st.sweepOldGens("test-basin", "gen", graceMs = 1000,
      nowMs = Some(System.currentTimeMillis() + 10 * 60 * 1000))
    oldPaths.foreach(p =>
      assert(!Files.exists(java.nio.file.Paths.get(p)), p))
    assert(FileIndex.listStats(
      Layout.genDir(st.root, "test-basin", "gen", 1L)).nonEmpty)
  }

  test("catalog load is cached: appends do not re-parse a large catalog (O(1)-ish ack path)") {
    val st = freshStore()
    (0 until 500).foreach(i => st.catalog.createStream("test-basin", f"bulk-$i%04d"))
    st.catalog.createStream("test-basin", "hot")
    appendOk(st, "hot", AppendInput(Seq(env("warm")))) // warm manifests/files
    val t0 = System.nanoTime()
    (0 until 50).foreach(i => appendOk(st, "hot", AppendInput(Seq(env(s"m$i")))))
    val perAppendMs = (System.nanoTime() - t0) / 1e6 / 50
    // with the mtime-keyed cache the config lookups are map hits; the
    // bound here is loose (parquet write dominates) but a full-catalog
    // JSON parse per append would blow way past it
    assert(perAppendMs < 200, s"append p50 too slow: $perAppendMs ms")
    assert(st.checkTail("test-basin", "hot").seqNum == 51)
  }

  /** Runs `f` with every Spark job it starts tagged; returns its
    * result (or failure), the number of those jobs, and the executed
    * plans of the SQL executions it named `ingest: ...`, by name. */
  private def traced[T](f: => T)
      : (scala.util.Try[T], Int, Seq[(String, org.apache.spark.sql.execution.SparkPlan)]) = {
    val tag = s"spec-ingest-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.SparkPlan)]()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
              .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
    }
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def keep(name: String, qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        if (name.startsWith("ingest")) plans.add(name -> qe.executedPlan)
      def onSuccess(name: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = keep(name, qe)
      def onFailure(name: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = keep(name, qe)
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.sparkContext.addJobTag(tag)
    try {
      val out = scala.util.Try(f)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      (out, jobs.get(), plans.asScala.toSeq)
    } finally {
      spark.sparkContext.removeJobTag(tag)
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  private def liveFiles(st: StreamStore, stream: String): Set[String] = {
    val dir = java.nio.file.Paths.get(Layout.dataDir(st.root, "test-basin", stream))
    if (!Files.exists(dir)) Set.empty
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
  }

  test("bulk ingest plan: at most 4 jobs, one exchange and one sort over the " +
    "bodies, and no cache") {
    val st = freshStore()
    (0 until 3).foreach(i => st.catalog.createStream("test-basin", s"shape$i"))
    import org.apache.spark.sql.functions._
    StreamStoreSpec.cacheSeen.set(false)
    val probe = udf { (id: Long) => StreamStoreSpec.checkNoCache(); id }
    // four balanced input partitions and no exchange of its own
    val df = spark.range(0, 4000, 1, 4).select(
      lit("test-basin").as("basin"),
      concat(lit("shape"), (col("id") % 3).cast("string")).as("stream"),
      col("id").as("ts_client"),
      expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
      concat(lit("r"), col("id").cast("string")).cast("binary").as("body"),
      probe(col("id")).as("arrival"))
    val (acks, jobs, plans) = traced(st.ingest(df, Some(10000000L)))
    assert(acks.get.values.map(_.end.seqNum).sum == 4000)
    assert(jobs <= 4, s"$jobs Spark jobs")
    object Shape extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def carriesBody(p: org.apache.spark.sql.execution.SparkPlan) = p.output.exists(_.name == "body")
    val exchanges = plans.flatMap { case (_, p) => Shape.collect(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike if carriesBody(e) => e
    } }
    val sorts = plans.flatMap { case (_, p) => Shape.collect(p) {
      case s: org.apache.spark.sql.execution.SortExec if carriesBody(s) => s
    } }
    assert(plans.map(_._1).toSet == Set("ingest: keys", "ingest: bodies"), plans.map(_._1))
    assert(exchanges.size == 1, plans.mkString("\n"))
    assert(sorts.size == 1, plans.mkString("\n"))
    assert(!StreamStoreSpec.cacheSeen.get, "a cached plan was registered during the ingest")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("bulk ingest whose input changes its rows between the key pass and the " +
    "body pass fails, commits nothing and publishes nothing") {
    val st = freshStore()
    Seq("nd0", "nd1").foreach { s =>
      st.catalog.createStream("test-basin", s)
      appendOk(st, s, AppendInput(Seq(env("seed"))))
    }
    val tailsBefore = Seq("nd0", "nd1").map(s => st.checkTail("test-basin", s))
    val filesBefore = Seq("nd0", "nd1").map(liveFiles(st, _))
    import org.apache.spark.sql.functions._
    StreamStoreSpec.evals.clear()
    // keeps every row on its first two evaluations (the range and count
    // passes over the keys) and drops every fourth id on the third (the
    // body job): both streams keep rows, but fewer than planned
    val keep = udf { (id: Long) =>
      val n = StreamStoreSpec.evals
        .computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger())
        .incrementAndGet()
      !(n == 3 && id % 4 == 0)
    }.asNondeterministic()
    val df = spark.range(0, 40, 1, 4).where(keep(col("id"))).select(
      lit("test-basin").as("basin"),
      concat(lit("nd"), (col("id") % 2).cast("string")).as("stream"),
      lit(null).cast("long").as("ts_client"),
      expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
      col("id").cast("string").cast("binary").as("body"),
      col("id").as("arrival"))
    val thrown = intercept[Exception](st.ingest(df, Some(1000000L)))
    val chain = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    assert(chain.contains("ingest input changed"), chain)
    assert(StreamStoreSpec.evals.values.asScala.exists(_.get >= 3),
      "the body job never re-evaluated the input")
    assert(Seq("nd0", "nd1").map(s => st.checkTail("test-basin", s)) == tailsBefore)
    assert(Seq("nd0", "nd1").map(liveFiles(st, _)) == filesBefore)
  }

  test("bulk ingest replaying an epoch every stream already committed returns " +
    "no acks and runs no body job") {
    val st = freshStore()
    Seq("rp0", "rp1").foreach(st.catalog.createStream("test-basin", _))
    import spark.implicits._
    val df = Seq(("rp0", 1L), ("rp1", 2L), ("rp0", 3L)).toDF("stream", "arrival")
      .select(org.apache.spark.sql.functions.lit("test-basin").as("basin"),
        $"stream", org.apache.spark.sql.functions.lit(null).cast("long").as("ts_client"),
        org.apache.spark.sql.functions.expr(
          "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
        org.apache.spark.sql.functions.expr("CAST('x' AS BINARY)").as("body"),
        $"arrival")
    assert(st.ingest(df, Some(5000L), epochId = Some(7L)).size == 2)
    val (replay, jobs, plans) = traced(st.ingest(df, Some(5000L), epochId = Some(7L)))
    assert(replay.get == Map.empty)
    assert(plans.map(_._1) == Seq("ingest: keys"))
    assert(jobs <= 2, s"$jobs Spark jobs")
    assert(st.checkTail("test-basin", "rp0").seqNum == 2)
    assert(st.checkTail("test-basin", "rp1").seqNum == 1)
  }

}

object StreamStoreSpec {
  /** Evaluations per input row id (the two-reads test's nondeterministic
    * filter); executors share the test JVM in local mode. */
  val evals = new java.util.concurrent.ConcurrentHashMap[Long,
    java.util.concurrent.atomic.AtomicInteger]()

  /** Whether any input row saw a registered cached plan. */
  val cacheSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
  def checkNoCache(): Unit =
    org.apache.spark.sql.SparkSession.getDefaultSession
      .filter(!_.sharedState.cacheManager.isEmpty)
      .foreach(_ => cacheSeen.set(true))
}
