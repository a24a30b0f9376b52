package graft.log

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.model._

/** Lazy migration of pre-shard `_state` manifests (ADVICE r19, high):
  * a root written before the 64-way `_state` sharding keeps its
  * manifests at the flat `_state/<basin>/<stream>.json` path. Reading
  * those as ABSENT is data loss twice over — tails reset to 0 (new
  * appends re-assign committed seq_nums into the same generation) and
  * committed records turn invisible. These tests fabricate the
  * pre-shard shape by moving a real manifest to the flat path, then
  * prove a fresh store (and the streaming source's direct reader)
  * adopts it.
  */
class LegacyStateSpec extends AnyFunSuite with LocalSpark {

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  /** Build a root with committed records, then rewind its `_state`
    * layout to the pre-shard flat shape. Returns (root, tail). */
  private def preShardRoot(stream: String): (String, Long) = {
    val dir = Files.createTempDirectory("graft-legacy-state").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st.catalog.createStream("test-basin", stream)
    val ack = st.append("test-basin", stream,
      AppendInput(Seq(env("a"), env("b"), env("c"))), Some(1000000L))
      .fold(e => fail(e.toString), identity)
    val sharded = Layout.statePath(dir, "test-basin", stream)
    val flat = Layout.legacyStatePath(dir, "test-basin", stream)
    Files.move(sharded, flat)
    ManifestCache.invalidate(sharded)
    (dir, ack.tail.seqNum)
  }

  test("fresh store adopts a flat pre-shard manifest: tail, reads, and append continue") {
    val (dir, tail) = preShardRoot("legacy-s1")
    val st2 = new StreamStore(spark, dir)

    // tail survives (manifest read path adopted the flat file)
    assert(st2.checkTail("test-basin", "legacy-s1").seqNum == tail)
    // the flat file moved into its shard dir, exactly once
    assert(Files.exists(Layout.statePath(dir, "test-basin", "legacy-s1")))
    assert(!Files.exists(Layout.legacyStatePath(dir, "test-basin", "legacy-s1")))

    // committed records stay visible
    val rows = st2.readBatch("test-basin", "legacy-s1",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
    assert(rows.map(_.seqNum) == (0L until tail).toSeq)

    // and a new append continues AFTER the committed tail — the
    // pre-fix failure mode was restarting at seq 0
    val ack2 = st2.append("test-basin", "legacy-s1",
      AppendInput(Seq(env("d"))), Some(2000000L))
      .fold(e => fail(e.toString), identity)
    assert(ack2.start.seqNum == tail)
  }

  test("streaming source's direct manifest reader adopts the flat file") {
    val (dir, tail) = preShardRoot("legacy-s2")
    val m = Layout.readManifestAdopting(dir, "test-basin", "legacy-s2")
    assert(m.exists(_.tailSeq == tail))
    assert(Files.exists(Layout.statePath(dir, "test-basin", "legacy-s2")))
  }

  test("a stale flat file never clobbers a live sharded manifest") {
    val (dir, tail) = preShardRoot("legacy-s3")
    // adopt (via a store read), then plant a STALE flat file beside the
    // now-live sharded manifest — the interrupted-r19-era leftover
    val st2 = new StreamStore(spark, dir)
    assert(st2.checkTail("test-basin", "legacy-s3").seqNum == tail)
    val flat = Layout.legacyStatePath(dir, "test-basin", "legacy-s3")
    Files.writeString(flat, Layout.toJsonString(StreamManifest(tailSeq = 1L)))

    assert(!Layout.adoptLegacyState(dir, "test-basin", "legacy-s3"))
    // live manifest untouched; stale file parked out of the lookup path
    assert(st2.checkTail("test-basin", "legacy-s3").seqNum == tail)
    assert(!Files.exists(flat))
    assert(Files.exists(flat.resolveSibling(flat.getFileName.toString + ".pre-shard")))
  }

  test("terminal trim deletes the flat manifest too (no resurrection)") {
    val (dir, _) = preShardRoot("legacy-s4")
    val st2 = new StreamStore(spark, dir)
    // plant a stale flat twin, then hard-delete the stream
    val flat = Layout.legacyStatePath(dir, "test-basin", "legacy-s4")
    Files.writeString(flat, Layout.toJsonString(StreamManifest(tailSeq = 1L)))
    st2.deleteStream("test-basin", "legacy-s4")
    st2.compact("test-basin", "legacy-s4")
    assert(!Files.exists(flat))
    assert(st2.checkTail("test-basin", "legacy-s4").seqNum == 0L)
  }
}
