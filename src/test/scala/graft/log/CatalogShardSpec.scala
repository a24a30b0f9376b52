package graft.log

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** Sharded control plane (VERDICT r3 item 1): basins.json + per-basin
  * hash-sharded streams-NN.json. The property that matters at 100k
  * streams: a single-stream mutation rewrites ONLY its own shard file,
  * never the whole catalog.
  */
class CatalogShardSpec extends AnyFunSuite with BeforeAndAfterAll {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def root(): String =
    BackendHarness.tempDir("graft-catshard").toString

  /** Snapshot every control-plane file as path -> (mtime, size). */
  private def snapshot(root: String): Map[String, (Object, Long)] = {
    val dir = java.nio.file.Paths.get(root, "_catalog")
    if (!Files.exists(dir)) return Map.empty
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => p.toString.endsWith(".json")).map { p =>
      p.toString -> ((Files.getLastModifiedTime(p): Object, Files.size(p)))
    }.toMap
    finally s.close()
  }

  test("a single-stream mutation rewrites only its own shard (2 basins x 50k streams)") {
    val r = root()
    val cat = new Catalog(r)
    cat.createBasin("shard-basin-a")
    cat.createBasin("shard-basin-b")
    val names = (0 until 50000).map(i => s"stream-$i")

    val t0 = System.nanoTime()
    assert(cat.createStreams("shard-basin-a", names) == Right(50000))
    assert(cat.createStreams("shard-basin-b", names) == Right(50000))
    val createMs = (System.nanoTime() - t0) / 1e6

    val t1 = System.nanoTime()
    val page = cat.listStreams("shard-basin-a", limit = 1000)
    val listMs = (System.nanoTime() - t1) / 1e6
    assert(page.items.size == 1000 && page.hasMore)

    Thread.sleep(5) // put the mutation in a fresh mtime granule
    val before = snapshot(r)
    assert(before.size == 1 + 2 * Catalog.NumShards) // basins.json + shards

    val t2 = System.nanoTime()
    val res = cat.reconfigureStream("shard-basin-a", "stream-31337",
      StreamConfigPatch(retentionPolicy = Patch.Set(RetentionPolicy.Infinite)))
    val reconfMs = (System.nanoTime() - t2) / 1e6
    assert(res.isRight)

    val after = snapshot(r)
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    info(f"bulk-create 2x50k: $createMs%.1f ms; list(1000): $listMs%.1f ms; " +
      f"single reconfigure: $reconfMs%.2f ms; files rewritten: ${changed.size}")
    assert(changed.size == 1, s"expected exactly one rewritten shard, got $changed")
    val shardNo = Catalog.shardOf("stream-31337")
    assert(changed.head ==
      Layout.streamShardPath(r, "shard-basin-a", shardNo).toString)
    // and the config actually took
    assert(cat.streamConfig("shard-basin-a", "stream-31337")
      .exists(_.retentionPolicy.contains(RetentionPolicy.Infinite)))
  }

  test("a pre-shard single-file catalog root is refused, left byte-identical") {
    val r = root()
    val legacy = Layout.catalogPath(r)
    Files.createDirectories(legacy.getParent)
    Files.writeString(legacy, """{"basins":[{"name":"b","config":{},""" +
      """"createdAt":1000}],"streams":[]}""")
    val bytes = Files.readAllBytes(legacy)
    val e = intercept[IllegalStateException](new Catalog(r))
    assert(e.getMessage.contains(legacy.toString), e.getMessage)
    // nothing split, renamed or created beside it
    assert(java.util.Arrays.equals(Files.readAllBytes(legacy), bytes))
    val left = Files.list(legacy.getParent)
    try assert(left.iterator().asScala.map(_.getFileName.toString).toList ==
      List("catalog.json"))
    finally left.close()
    assert(!Files.exists(Layout.basinsPath(r)))
  }

  test("concurrent mutations: parallel across basins, serialized within, none lost") {
    val r = root()
    val cat = new Catalog(r)
    val basins = Seq("conc-basin-a", "conc-basin-b", "conc-basin-c", "conc-basin-d")
    basins.foreach(b => assert(cat.createBasin(b).isRight))

    // 8 threads x 200 creates, spread over 4 basins and colliding
    // shards; every create must land exactly once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = (0 until 8).map { t =>
      pool.submit(new Runnable {
        def run(): Unit =
          (0 until 200).foreach { i =>
            val b = basins((t + i) % basins.size)
            cat.createStream(b, s"t$t-s$i") match {
              case Right(_) =>
              case Left(e) => errs.add(s"$b t$t-s$i: $e"); ()
            }
          }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    assert(errs.isEmpty, s"lost/failed creates: ${errs.asScala.take(5).toSeq}")
    val total = basins.map { b =>
      var items = 0
      var after = ""
      var more = true
      while (more) {
        val p = cat.listStreams(b, startAfter = after, limit = 1000)
        items += p.items.size
        after = p.items.lastOption.map(_.name).getOrElse(after)
        more = p.hasMore && p.items.nonEmpty
      }
      items
    }.sum
    assert(total == 1600, s"expected 1600 streams across basins, found $total")

    // racing create vs markBasinDeleted can't commit a live stream
    // into a deleted basin (the lock-ordering fix from review)
    val cat2 = new Catalog(root())
    cat2.createBasin("race-basin-x")
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(2)
    val creator = pool2.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int =
        (0 until 500).count(i => cat2.createStream("race-basin-x", s"r$i").isRight)
    })
    val deleter = pool2.submit(new Runnable {
      def run(): Unit = { Thread.sleep(2); cat2.markBasinDeleted("race-basin-x") }
    })
    val created = creator.get(); deleter.get(); pool2.shutdown()
    val live = cat2.listStreams("race-basin-x", limit = 1000).items.size
    // every stream that was admitted is in the shards; none were
    // admitted AFTER deletion (creates fail BasinNotFound once the
    // tombstone lands)
    assert(live == created || created == 500,
      s"created=$created but live=$live — a create slipped past basin deletion")
  }

  test("full lifecycle stays inside one shard; listing merges shards sorted") {
    val r = root()
    val cat = new Catalog(r)
    cat.createBasin("lifecycle-basin")
    val names = (0 until 200).map(i => s"lc-$i")
    names.foreach(n => assert(cat.createStream("lifecycle-basin", n).isRight))
    // creates landed across many shards, listing is globally sorted
    val listed = cat.listStreams("lifecycle-basin").items.map(_.name)
    assert(listed == names.sorted)

    val victim = "lc-77"
    val shardPath = Layout.streamShardPath(r, "lifecycle-basin", Catalog.shardOf(victim))
    Thread.sleep(5)
    val before = snapshot(r)
    assert(cat.ensureStream("lifecycle-basin", victim,
      StreamConfig(storageClass = Some(StorageClass.Express))) ==
      Right(EnsureOutcome.Updated))
    cat.markStreamDeleted("lifecycle-basin", victim)
    cat.hardDeleteStream("lifecycle-basin", victim)
    val after = snapshot(r)
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed == Set(shardPath.toString))
    assert(cat.getStream("lifecycle-basin", victim).isEmpty)
    assert(cat.listStreams("lifecycle-basin").items.size == 199)
    // recreate after hard delete works and reuses the same shard
    assert(cat.createStream("lifecycle-basin", victim).isRight)
  }

  test("symlinked root aliases share one control plane (locks + cache)") {
    val real = root()
    val alias = BackendHarness.tempDir("graft-alias").resolve("link")
    Files.createSymbolicLink(alias, java.nio.file.Paths.get(real))

    val viaReal = new Catalog(real)
    val viaLink = new Catalog(alias.toString)
    assert(viaReal.createBasin("sym-basin").isRight)
    // the alias instance must see the real instance's write
    // IMMEDIATELY — if the canonicalization missed, the alias would
    // build different paths/keys and report BasinNotFound
    assert(viaLink.getBasin("sym-basin").isDefined)
    assert(viaLink.createStream("sym-basin", "s-1").isRight)
    assert(viaReal.getStream("sym-basin", "s-1").isDefined)

    // interleaved single-stream creates from both instances must all
    // land (shared monitors serialize the read-modify-write; with
    // per-path monitors some writes would be lost to stale rewrites)
    val thReal = new Thread(() => (0 until 100).foreach(i =>
      viaReal.createStream("sym-basin", s"r-$i")))
    val thLink = new Thread(() => (0 until 100).foreach(i =>
      viaLink.createStream("sym-basin", s"l-$i")))
    thReal.start(); thLink.start()
    thReal.join(); thLink.join()
    assert(viaLink.listStreams("sym-basin", limit = 1000).items.size == 201)
  }

  test("root under a symlinked ancestor, created AFTER construction, still shares") {
    // exercises canonicalRoot's fallback: the root itself does not
    // exist at construction, but its (symlinked) ancestor does — the
    // deepest-existing-ancestor resolution must give the same key the
    // real-path spelling gets, or the two instances split the control
    // plane
    val realParent = BackendHarness.tempDir("graft-anc")
    val linkParent = BackendHarness.tempDir("graft-ancl").resolve("p")
    Files.createSymbolicLink(linkParent, realParent)
    // the registry KEY itself must match — the filesystem aliasing
    // would make the behavioral assertions below pass even with split
    // keys (a cached read re-stats on every foreign write), so assert
    // the canonicalization directly
    assert(Catalog.canonicalRoot(linkParent.resolve("store").toString) ==
      Catalog.canonicalRoot(realParent.resolve("store").toString))
    val viaLink = new Catalog(linkParent.resolve("store").toString) // not yet created
    val viaReal = new Catalog(realParent.resolve("store").toString)
    assert(viaLink.createBasin("anc-basin").isRight)
    assert(viaReal.getBasin("anc-basin").isDefined)
    assert(viaReal.createStream("anc-basin", "s").isRight)
    assert(viaLink.getStream("anc-basin", "s").isDefined)
  }

  test("lock-free readers never clobber a writer's cache refresh (no lost creates)") {
    // Regression for the shared-cache install race: cached reads run
    // without a monitor, so a reader that read PRE-write bytes and
    // installed them late (over the writer's same-(mtime,size) fresh
    // entry) would poison the cache for every later reader (see
    // ManifestCache.install). Hammer reads from a second instance while
    // a writer creates 300 streams; every create must survive.
    val r = root()
    val writer = new Catalog(r)
    val reader = new Catalog(r)
    writer.createBasin("race-basin")
    @volatile var stop = false
    val readers = (0 until 4).map { _ =>
      new Thread(() => while (!stop) {
        reader.listStreams("race-basin", limit = 1000)
        reader.getBasin("race-basin")
      })
    }
    readers.foreach(_.start())
    (0 until 300).foreach(i =>
      assert(writer.createStream("race-basin", s"h-$i").isRight))
    stop = true
    readers.foreach(_.join())
    assert(writer.listStreams("race-basin", limit = 1000).items.size == 300)
    assert(reader.listStreams("race-basin", limit = 1000).items.size == 300)
  }

  test("10k-stream paging: pages come from the parse cache, never a per-page re-parse sweep") {
    val r = root()
    val cat = new Catalog(r)
    cat.createBasin("page-basin-10k")
    val names = (0 until 10000).map(i => f"ps-$i%05d")
    assert(cat.createStreams("page-basin-10k", names) == Right(10000))

    // page 1 warms whatever shards need parsing; subsequent pages must
    // be pure cache hits — the structural property that keeps a 10k
    // (or 100k) stream listing from re-reading the control plane per
    // page. Allow a tiny slack for unrelated cache churn.
    cat.listStreams("page-basin-10k", limit = 1000)
    val tally0 = Catalog.parseTally.get()
    var after = ""
    var pages = 0
    val seen = Seq.newBuilder[String]
    var more = true
    while (more) {
      val p = cat.listStreams("page-basin-10k", startAfter = after, limit = 1000)
      seen ++= p.items.map(_.name)
      after = p.items.last.name
      pages += 1
      more = p.hasMore
    }
    val reparses = Catalog.parseTally.get() - tally0
    assert(pages == 10, s"expected 10 pages of 1000, got $pages")
    assert(seen.result() == names, "pagination lost or re-ordered streams")
    assert(reparses <= 2,
      s"paging re-parsed $reparses control-plane docs across 10 pages — " +
        "pages must serve from the parse cache")
    // exclusive start_after + prefix compose with the bounded heap
    val mid = cat.listStreams("page-basin-10k", prefix = "ps-00",
      startAfter = "ps-00500", limit = 10)
    assert(mid.items.map(_.name) == (501 to 510).map(i => f"ps-$i%05d"))
    assert(mid.hasMore)
  }

  // ----------------------------------------------------------------
  // Object-backend control plane: the same catalog over conditional
  // puts only — no file locks, no renames (the reference keeps
  // basin/stream meta in the object-backed KV with records,
  // lite/src/backend/kv/mod.rs:54-71)
  // ----------------------------------------------------------------

  private def objectRoot(): String = {
    val r = BackendHarness.tempDir("graft-catobj").toString
    ObjectStoreBackend.install(r)
    r
  }

  test("object backend: full catalog lifecycle over casMeta; second driver sees everything") {
    val r = objectRoot()
    val a = new Catalog(r)
    val b = new Catalog(r) // second simulated driver on the same bucket
    assert(a.createBasin("obj-basin-x",
      BasinConfig(createStreamOnAppend = true)).isRight)
    assert(b.getBasin("obj-basin-x").isDefined)
    assert(b.basinConfig("obj-basin-x").createStreamOnAppend)
    assert(a.createBasin("obj-basin-x").swap.exists(_ == "BasinAlreadyExists"))

    val names = (0 until 500).map(i => s"os-$i")
    assert(a.createStreams("obj-basin-x", names) == Right(500))
    assert(b.listStreams("obj-basin-x", limit = 1000).items.size == 500)
    assert(b.createStream("obj-basin-x", "os-3").swap.exists(_ == "StreamAlreadyExists"))

    // reconfigure through one driver, observe through the other
    assert(a.reconfigureStream("obj-basin-x", "os-42",
      StreamConfigPatch(retentionPolicy = Patch.Set(RetentionPolicy.Infinite))).isRight)
    assert(b.streamConfig("obj-basin-x", "os-42")
      .exists(_.retentionPolicy.contains(RetentionPolicy.Infinite)))
    assert(b.ensureStream("obj-basin-x", "os-42",
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))) ==
      Right(EnsureOutcome.Noop))

    // lifecycle end: soft then hard delete, visible cross-driver
    a.markStreamDeleted("obj-basin-x", "os-0")
    assert(b.getStream("obj-basin-x", "os-0").isEmpty)
    a.hardDeleteStream("obj-basin-x", "os-0")
    assert(b.listStreams("obj-basin-x", limit = 1000).items.size == 499)
    a.markBasinDeleted("obj-basin-x")
    assert(b.getBasin("obj-basin-x").isEmpty)
    assert(b.createStream("obj-basin-x", "nope").swap.exists(_ == "BasinNotFound"))
  }

  test("object backend: single-stream mutation rewrites only its own shard document") {
    val r = objectRoot()
    val cat = new Catalog(r)
    cat.createBasin("obj-shard-basin")
    assert(cat.createStreams("obj-shard-basin",
      (0 until 5000).map(i => s"stream-$i")) == Right(5000))
    Thread.sleep(5)
    // the object adapter mirrors meta write-through to key paths, so
    // the POSIX snapshot sees exactly which documents were re-put
    val before = snapshot(r)
    assert(cat.reconfigureStream("obj-shard-basin", "stream-31",
      StreamConfigPatch(retentionPolicy = Patch.Set(RetentionPolicy.Infinite))).isRight)
    val after = snapshot(r)
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size == 1, s"expected one rewritten shard doc, got $changed")
    assert(changed.head == Layout.streamShardPath(
      Catalog.canonicalRoot(r), "obj-shard-basin",
      Catalog.shardOf("stream-31")).toString)
  }

  test("cache purge: documents that no longer exist leave the parse cache") {
    // past 4096 entries, one of any 1024 consecutive catalog commits
    // sweeps the cache and drops each entry whose getMeta finds nothing
    val r = objectRoot()
    val backend = StorageBackend.forRoot(r)
    val prefix = Catalog.canonicalRoot(r) + "/_dead/"
    val dead = (0 until 4100).map(i => s"${prefix}d-$i.json")
    dead.foreach { k =>
      assert(backend.casMeta(k, "{}", None).isRight)
      ManifestCache.parse(backend, k, backend.getMeta(k, fresh = false), LocationsFile())
    }
    assert(ManifestCache.parsedSize(prefix) == dead.size)
    dead.foreach(backend.deleteMeta)
    val cat = new Catalog(r)
    (0 until 1024).foreach(i => assert(cat.ensureBasin("purge-basin",
      BasinConfig(createStreamOnAppend = i % 2 == 0)).isRight))
    assert(ManifestCache.parsedSize(prefix) == 0,
      "1024 commits past 4096 entries left dead documents cached")
    assert(cat.getBasin("purge-basin").isDefined)
  }

  /** Between the catalog's load and its conditional put, a FOREIGN
    * driver (a raw `casMeta` on the root's backend) commits another
    * stream into the same shard: the catalog's first CAS must fail and
    * its retry must carry BOTH entries. */
  private def foreignCommitForcesRebase(r: String, basin: String): Unit = {
    val backend = StorageBackend.forRoot(r)
    val cat = new Catalog(r)
    cat.createBasin(basin)
    cat.createStream(basin, "seed") // shard doc exists

    val victimShard = Catalog.shardOf("seed")
    // pick a second name hashing to the same shard
    val collider = (0 until 10000).map(i => s"c-$i")
      .find(n => Catalog.shardOf(n) == victimShard && n != "seed").get
    val target = (0 until 10000).map(i => s"t-$i")
      .find(n => Catalog.shardOf(n) == victimShard && n != "seed").get
    val shardKey = Layout.streamShardPath(
      Catalog.canonicalRoot(r), basin, victimShard).toString

    @volatile var fired = false
    cat.beforeCatalogCas = () => if (!fired) {
      fired = true
      val (json, etag) = backend.getMeta(shardKey, fresh = true).get
      val sh = Layout.fromJsonString[StreamShard](json)
      val foreign = sh.copy(streams = sh.streams :+
        StreamEntry(basin, collider, Map.empty, 123L))
      assert(backend.casMeta(shardKey,
        Layout.toJsonString(foreign), Some(etag)).isRight)
    }
    try {
      assert(cat.createStream(basin, target).isRight)
    } finally cat.beforeCatalogCas = () => ()
    assert(fired, "the interleaving hook never ran — the test is vacuous")
    val listed = cat.listStreams(basin, limit = 100).items.map(_.name).toSet
    assert(listed == Set("seed", collider, target),
      s"lost update after CAS rebase: $listed")
  }

  test("posix backend: a foreign driver's interleaved commit forces CAS rebase, no lost update") {
    val r = root()
    assert(StorageBackend.forRoot(r) eq PosixBackend)
    foreignCommitForcesRebase(r, "posix-cas-basin")
  }

  test("object backend: a foreign driver's interleaved commit forces CAS rebase, no lost update") {
    foreignCommitForcesRebase(objectRoot(), "obj-cas-basin")
  }
}
