package graft.log

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.model._

/** Pre-shard `_state` manifests are refused: a root written before the
  * 64-way `_state` sharding keeps its manifests at the flat
  * `_state/<basin>/<stream>.json` path. Read as ABSENT, a stream's tail
  * would reset to 0 (new appends re-assign committed seq_nums) and its
  * records turn invisible, so a lookup that misses the sharded path
  * and finds the flat file throws, naming it. The fixture moves a real
  * manifest to the flat path.
  */
class LegacyStateSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private val Basin = "test-basin"

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  /** Build a root with committed records, then rewind its `_state`
    * layout to the pre-shard flat shape. Returns (root, flat path). */
  private def preShardRoot(stream: String): (String, Path) = {
    val dir = BackendHarness.PosixHarness.freshRoot("graft-legacy-state")
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin(Basin,
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st.catalog.createStream(Basin, stream)
    st.append(Basin, stream,
      AppendInput(Seq(env("a"), env("b"), env("c"))), Some(1000000L))
      .fold(e => fail(e.toString), identity)
    val sharded = Layout.statePath(dir, Basin, stream)
    val flat = Layout.legacyStatePath(dir, Basin, stream)
    Files.move(sharded, flat)
    ManifestCache.invalidate(sharded)
    (dir, flat)
  }

  test("a flat pre-shard manifest makes checkTail, append and a graft-stream read refuse") {
    val (dir, flat) = preShardRoot("legacy-s1")
    val gen0 = Paths.get(Layout.genDir(dir, Basin, "legacy-s1", 0L))
    def files(): Set[Path] = {
      val s = Files.list(gen0)
      try s.iterator().asScala.toSet finally s.close()
    }
    val before = files()
    def assertRefused(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(flat.toString)),
        s"refusal must name $flat, got: $e")
    }
    val st2 = new StreamStore(spark, dir)
    assertRefused(st2.checkTail(Basin, "legacy-s1"))
    assertRefused(st2.append(Basin, "legacy-s1",
      AppendInput(Seq(env("d"))), Some(2000000L)))
    assertRefused(spark.read.format("graft-stream").option("root", dir)
      .option("basin", Basin).option("stream", "legacy-s1").load().collect())
    // nothing written: no new data file, the flat file stays put, and
    // no sharded manifest appears
    assert(files() == before)
    assert(Files.exists(flat))
    assert(!Files.exists(Layout.statePath(dir, Basin, "legacy-s1")))
  }
}
