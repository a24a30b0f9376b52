package graft.log

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.model._

/** Generation-directory compaction (the analog of the reference's
  * "trimming is eventually consistent" rewrite, cli/src/cli.rs:143-146,
  * made safe for concurrent readers): compact() writes `gen=N+1`
  * BESIDE the live files and commits by CAS-flipping the manifest's
  * generation pointer — no live path is moved or deleted — so a plan
  * created before the flip keeps reading its old-generation files
  * until sweepOldGens' grace expires. These tests pin the flip
  * protocol's crash matrix and the writer/reader routing around it;
  * the live-follower lifecycle is e2e_stream_during_compact.
  */
class GenerationSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private val Basin = "test-basin"

  /** POSIX-rooted store (staleness tests are POSIX physics). */
  private def freshStore(): StreamStore = freshStore(BackendHarness.PosixHarness)

  private def freshStore(h: BackendHarness): StreamStore = {
    val dir = h.freshRoot("graft-gen")
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin(Basin,
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st
  }

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  private def bodies(st: StreamStore, stream: String): Seq[String] =
    st.read(Basin, stream, ReadSpec(ReadStart(ReadFrom.SeqNum(0))),
        ignoreCommands = true)
      .fold(e => fail(e), identity)
      .orderBy("seq_num").collect()
      .map(r => new String(r.getAs[Array[Byte]]("body"))).toSeq

  for (h <- BackendHarness.all)
  test(s"[${h.label}] appends land in gen=0; compact flips to gen=1; later appends land there") {
    val st = freshStore(h)
    st.catalog.createStream(Basin, "s")
    st.append(Basin, "s", AppendInput(Seq(env("a"), env("b"))), Some(1000L))
    assert(h.dataExists(st.root, Paths.get(Layout.genDir(st.root, Basin, "s", 0L))))
    st.append(Basin, "s", AppendInput(Seq(TrimCommand(1))), Some(1100L))
    st.compact(Basin, "s")
    assert(st.manifest(Basin, "s").generation == 1L)
    st.append(Basin, "s", AppendInput(Seq(env("c"))), Some(2000L))
    // the post-flip append's file is in gen=1, not gen=0
    val g1 = FileIndex.listStats(Layout.genDir(st.root, Basin, "s", 1L))
    assert(g1.exists(_.maxSeq >= 3L))
    assert(bodies(st, "s") == Seq("b", "c"))
  }

  for (h <- BackendHarness.all)
  test(s"[${h.label}] crashed compaction (gen dir present, manifest not flipped) is invisible and recovered") {
    val st = freshStore(h)
    st.catalog.createStream(Basin, "c")
    st.append(Basin, "c", AppendInput(Seq(env("x"), env("y"))), Some(1000L))
    // fabricate the crash: a completed gen=1 rewrite whose manifest
    // CAS never ran (process died between the publish and the commit)
    val orphan = Paths.get(Layout.genDir(st.root, Basin, "c", 1L))
    h.fabricate(st.root, orphan, Seq(
      DirectParquet.Rec(0L, 1000L, Nil, "x".getBytes, 9L),
      DirectParquet.Rec(1L, 1000L, Nil, "y".getBytes, 9L)))
    // reads still route to the committed generation
    assert(st.manifest(Basin, "c").generation == 0L)
    assert(bodies(st, "c") == Seq("x", "y"))
    // a NEW compaction skips past the orphan number — no collision
    st.append(Basin, "c", AppendInput(Seq(TrimCommand(1))), Some(1100L))
    st.compact(Basin, "c")
    assert(st.manifest(Basin, "c").generation == 2L)
    assert(bodies(st, "c") == Seq("y"))
    // grace-expired sweep removes BOTH the predecessor and the orphan
    st.sweepOldGens(Basin, "c", graceMs = 1000,
      nowMs = Some(System.currentTimeMillis() + 10 * 60 * 1000))
    assert(!h.dataExists(st.root, orphan))
    assert(!h.dataExists(st.root, Paths.get(Layout.genDir(st.root, Basin, "c", 0L))))
    assert(h.dataExists(st.root, Paths.get(Layout.genDir(st.root, Basin, "c", 2L))))
  }

  for (h <- BackendHarness.all)
  test(s"[${h.label}] a plan captured before the flip still reads its files after compact") {
    val st = freshStore(h)
    st.catalog.createStream(Basin, "r")
    st.append(Basin, "r", AppendInput((0 until 8).map(i => env(s"r$i"))), Some(1000L))
    // the racing reader: a DataFrame planned over the current files
    val preFlip = st.read(Basin, "r", ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(e), identity)
    st.append(Basin, "r", AppendInput(Seq(TrimCommand(4))), Some(1100L))
    st.compact(Basin, "r")
    // the pre-flip plan executes AFTER the rewrite committed: its old
    // paths are intact, so it sees the snapshot it planned (trim not
    // yet applied — the plan predates it), not an error
    val seqs = preFlip.orderBy("seq_num").collect().map(_.getLong(0)).toSeq
    assert(seqs == (0L until 8L))
    // a fresh plan sees the compacted, trimmed generation
    assert(bodies(st, "r") == Seq("r4", "r5", "r6", "r7"))
  }

  for (h <- BackendHarness.all)
  test(s"[${h.label}] streaming ingest commits into the current generation after a flip") {
    val st = freshStore(h)
    st.catalog.createStream(Basin, "ing")
    st.append(Basin, "ing", AppendInput(Seq(env("seed"), env("s2"))), Some(1000L))
    st.append(Basin, "ing", AppendInput(Seq(TrimCommand(1))), Some(1100L))
    st.compact(Basin, "ing")
    assert(st.manifest(Basin, "ing").generation == 1L)
    import spark.implicits._
    val df = Seq((Basin, "ing", 2000L, "bulk1"), (Basin, "ing", 2000L, "bulk2"))
      .toDF("basin", "stream", "arrival", "b")
      .selectExpr("basin", "stream",
        "CAST(array() AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(b AS BINARY) AS body", "CAST(NULL AS BIGINT) AS ts_client",
        "arrival")
    st.ingest(df, Some(2000L))
    val g1 = FileIndex.listStats(Layout.genDir(st.root, Basin, "ing", 1L))
    assert(g1.exists(_.maxSeq >= 4L), "ingested files must join gen=1")
    assert(bodies(st, "ing") == Seq("s2", "bulk1", "bulk2"))
  }

  for (h <- BackendHarness.all)
  test(s"[${h.label}] a SECOND store instance's pre-flip plan survives a compaction it never saw") {
    val st = freshStore(h)
    st.catalog.createStream(Basin, "x")
    st.append(Basin, "x", AppendInput((0 until 6).map(i => env(s"x$i"))), Some(1000L))
    // the foreign reader: a separate StreamStore over the same root
    // (another driver in production) plans a read...
    val other = new StreamStore(spark, st.root)
    val foreignPlan = other.read(Basin, "x", ReadSpec(ReadStart(ReadFrom.SeqNum(0))))
      .fold(e => fail(e), identity)
    // ...then THIS instance trims and compacts underneath it
    st.append(Basin, "x", AppendInput(Seq(TrimCommand(3))), Some(1100L))
    st.compact(Basin, "x")
    assert(st.manifest(Basin, "x").generation == 1L)
    // the foreign plan still executes against its gen-0 paths
    val seqs = foreignPlan.orderBy("seq_num").collect().map(_.getLong(0)).toSeq
    assert(seqs == (0L until 6L))
    // and the foreign instance's NEXT plan follows the flipped manifest
    // (its manifest cache is mtime-keyed, so the foreign write is seen)
    assert(other.manifest(Basin, "x").generation == 1L)
    val fresh = other.read(Basin, "x", ReadSpec(ReadStart(ReadFrom.SeqNum(0))),
        ignoreCommands = true)
      .fold(e => fail(e), identity)
      .orderBy("seq_num").collect().map(_.getLong(0)).toSeq
    assert(fresh == Seq(3L, 4L, 5L))
  }

  for (h <- BackendHarness.all)
  test(s"[${h.label}] visibleBasin masks out non-current generations (no duplicates inside grace)") {
    val st = freshStore(h)
    st.catalog.createStream(Basin, "vb")
    st.append(Basin, "vb", AppendInput((0 until 6).map(i => env(s"v$i"))), Some(1000L))
    st.append(Basin, "vb", AppendInput(Seq(TrimCommand(2))), Some(1100L))
    st.compact(Basin, "vb") // gen=0 still present, inside grace
    assert(h.dataExists(st.root, Paths.get(Layout.genDir(st.root, Basin, "vb", 0L))))
    val rows = st.visibleBasin(Basin).where("stream = 'vb'")
      .select("seq_num").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(2L, 3L, 4L, 5L, 6L), s"got $rows") // no gen-0 dupes
  }

  test("visibleBasin over a basin dir with no data left: empty, no analysis failure") {
    // The only written stream is deleted and compacted away, which
    // removes its stream dir but leaves the basin dir; a second,
    // never-written stream keeps the catalog listing non-empty. The
    // scan then discovers neither a `gen` nor a `stream` column.
    val st = freshStore()
    st.catalog.createStream(Basin, "gone")
    st.catalog.createStream(Basin, "idle")
    st.append(Basin, "gone", AppendInput(Seq(env("g0"))), Some(1000L))
    st.deleteStream(Basin, "gone")
    st.compact(Basin, "gone")
    // fixture: the basin dir survives, empty (Files.list throws if gone)
    val left = Files.list(Paths.get(st.root, "data", s"basin=$Basin"))
    try assert(left.count() == 0L) finally left.close()
    assert(st.visibleBasin(Basin).count() == 0L)
  }

  test("stale cached manifest + flip + EXPIRED grace: read re-plans onto the new gen, not empty") {
    // The one window the grace alone can't cover: a reader resolves
    // the old generation's path from a stale manifest AFTER the
    // sweeper has already deleted that dir (reader stalled past the
    // grace, or the cache served a same-mtime-granule stale entry).
    // Without the re-plan guard the listing comes back empty and the
    // read silently returns zero rows; the contract here is: retry
    // onto gen N+1 (or serve the pre-flip rows if still on disk) —
    // NEVER throw, NEVER silently lose rows.
    val st = freshStore()
    st.catalog.createStream(Basin, "sp")
    st.append(Basin, "sp", AppendInput((0 until 6).map(i => env(s"p$i"))), Some(1000L))
    val stale = st.manifest(Basin, "sp")
    assert(stale.generation == 0L)
    // instance A trims, compacts (flip to gen=1), and the grace expires
    st.append(Basin, "sp", AppendInput(Seq(TrimCommand(2))), Some(1100L))
    st.compact(Basin, "sp")
    st.sweepOldGens(Basin, "sp",
      nowMs = Some(System.currentTimeMillis() + 11 * 60 * 1000L))
    assert(!Files.exists(Paths.get(Layout.genDir(st.root, Basin, "sp", 0L))),
      "fixture: gen=0 must be swept for the stale path to dangle")
    // instance B: prime the (mtime, size)-keyed cache with the
    // PRE-flip manifest against the CURRENT file attributes — the
    // deterministic reproduction of the stale-serve corner
    ManifestCache.put(Layout.statePath(st.root, Basin, "sp"), stale)
    val other = new StreamStore(spark, st.root)
    val seqs = other.read(Basin, "sp", ReadSpec(ReadStart(ReadFrom.SeqNum(0))),
        ignoreCommands = true)
      .fold(e => fail(e), identity)
      .orderBy("seq_num").collect().map(_.getLong(0)).toSeq
    assert(seqs == Seq(2L, 3L, 4L, 5L),
      s"stale-plan read lost rows or served the wrong generation: $seqs")
  }

  test("three-way race: A compacts, B bulk-ingests off a stale manifest, " +
    "follower C resumes after the grace expired — no dup, no gap, CAS lands") {
    // The triple the pairwise tests above cover only two at a time:
    //   A: trims + compacts (generation flip) + sweeps with EXPIRED
    //      grace, so gen=0 is physically gone;
    //   B: a SECOND store instance bulk-ingests via the staged-commit
    //      path while its manifest cache is deterministically primed
    //      with the PRE-flip manifest — its per-stream locked CAS must
    //      land on the flipped generation (or internally retry), never
    //      commit rows into the swept gen=0;
    //   C: a checkpointed follower that consumed the pre-flip records,
    //      was down across flip+sweep, and resumes from its offset
    //      with the SAME stale-manifest priming — it must re-plan onto
    //      gen=1 and deliver exactly the new rows: no re-emission of
    //      pre-flip seqs, no silently skipped seq.
    val st = freshStore()
    st.catalog.createStream(Basin, "tri")
    st.append(Basin, "tri", AppendInput((0 until 8).map(i => env(s"t$i"))), Some(1000L))
    st.append(Basin, "tri", AppendInput(Seq(TrimCommand(3))), Some(1100L))

    // C, run 1: follow and checkpoint everything appended so far
    val sink = s"${st.root}/_trisink"
    val ckpt = s"${st.root}/_trickpt"
    def followOnce(): Seq[Long] = {
      val q = spark.readStream.format("graft-stream")
        .option("root", st.root).option("basin", Basin)
        .option("stream", "tri").load()
        .select("seq_num")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(sink).collect().map(_.getLong(0)).toSeq.sorted
    }
    val firstRun = followOnce()
    assert(firstRun.nonEmpty && firstRun == firstRun.distinct)
    val stale = st.manifest(Basin, "tri")
    assert(stale.generation == 0L)

    // A: flip + sweep with the grace already expired — gen=0 is GONE
    st.compact(Basin, "tri")
    assert(st.manifest(Basin, "tri").generation == 1L)
    st.sweepOldGens(Basin, "tri",
      nowMs = Some(System.currentTimeMillis() + 11 * 60 * 1000L))
    assert(!Files.exists(Paths.get(Layout.genDir(st.root, Basin, "tri", 0L))),
      "fixture: gen=0 must be swept for the race to have teeth")

    // B: prime the cache with the PRE-flip manifest (the stale-serve
    // corner), then bulk-ingest through the staged-commit path
    ManifestCache.put(Layout.statePath(st.root, Basin, "tri"), stale)
    val storeB = new StreamStore(spark, st.root)
    import spark.implicits._
    val bulk = Seq((Basin, "tri", 2000L, "b-new0"), (Basin, "tri", 2001L, "b-new1"))
      .toDF("basin", "stream", "arrival", "b")
      .selectExpr("basin", "stream",
        "CAST(array() AS ARRAY<STRUCT<name: BINARY, value: BINARY>>) AS headers",
        "CAST(b AS BINARY) AS body", "CAST(NULL AS BIGINT) AS ts_client",
        "arrival")
    storeB.ingest(bulk, Some(2000L))
    // B's CAS landed: rows are in gen=1 (gen=0 no longer exists), and
    // a fresh read serves the trimmed survivors + B's rows exactly once
    val g1 = FileIndex.listStats(Layout.genDir(st.root, Basin, "tri", 1L))
    assert(g1.exists(_.maxSeq >= 10L), "ingested rows must join gen=1")
    assert(!Files.exists(Paths.get(Layout.genDir(st.root, Basin, "tri", 0L))),
      "ingest must not resurrect the swept generation")
    assert(bodies(st, "tri") ==
      Seq("t3", "t4", "t5", "t6", "t7", "b-new0", "b-new1"))

    // C, run 2: stale-primed again, resumes across flip+sweep
    ManifestCache.put(Layout.statePath(st.root, Basin, "tri"), stale)
    val secondRun = followOnce()
    val newSeqs = secondRun.diff(firstRun)
    // no dup: nothing the checkpoint already delivered is re-emitted
    assert(secondRun.size == secondRun.distinct.size &&
      firstRun.forall(s => secondRun.count(_ == s) == 1),
      s"follower re-emitted pre-flip seqs: $secondRun")
    // no gap: first ∪ second is exactly every VISIBLE seq, once.
    // Fixture arithmetic: t0..t7 = seqs 0..7, trim@3 command = seq 8
    // (trim applied before C's first plan, so 0..2 are correctly never
    // delivered), B's two rows = seqs 9..10.
    assert((firstRun ++ newSeqs).sorted == (3L to 10L),
      s"dup/gap across the three-way race: first=$firstRun new=$newSeqs")
    assert(newSeqs == Seq(9L, 10L),
      s"resumed batch must be exactly B's appended rows: $newSeqs")
  }
}
