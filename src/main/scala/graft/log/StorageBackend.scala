package graft.log

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The physical-IO contract of the commit protocol — everything
  * StreamStore needs from storage to make an append/flip/trim durable
  * and exactly-once, expressed in primitives that exist on BOTH a
  * POSIX filesystem and an object store:
  *
  *  - commit metadata (stream manifests) is read/written as whole
  *    small objects with a CAS tag (`etag`), and the ONLY mutation is
  *    a conditional put — `If-Match: etag` for updates,
  *    `If-None-Match: *` for create — exactly the subset of S3 the
  *    reference's storage layer relies on (slatedb manifest CAS; the
  *    reference's own simulation enforces these two preconditions,
  *    sim/src/s3.rs:120-134);
  *  - bulk data (parquet) is published by atomic whole-object put
  *    (`putData`), never by rename: a data object either exists
  *    completely or not at all, and visibility is governed by the
  *    manifest commit, not by the put;
  *  - listing is strongly consistent list-after-write (S3 has been
  *    since 2020; the reference sim's ListObjectsV2 serves the live
  *    map, sim/src/s3.rs:236-247);
  *  - writer mutual exclusion is ADVISORY: the POSIX adapter has real
  *    OS file locks and uses them to cut wasted work; the object
  *    adapter has none (S3 has no locks) and correctness rests
  *    entirely on the manifest conditional-put — which is why the
  *    crash/linearizability suites run against both adapters;
  *  - grace clocks (generation-sweep aging) are object timestamps
  *    owned by the backend, not filesystem mtimes.
  *
  * What is deliberately NOT behind this trait: reading parquet bytes.
  * Spark executors read data files through the cluster filesystem
  * layer (Hadoop `file://` here, `s3a://` in production) in both
  * adapters; the object adapter materializes every published object
  * at its key's local path so scans work identically, while the
  * protocol-visible state (what exists, what etag, what time) lives
  * in the adapter's authoritative index.
  */
/** A conditional put whose outcome could not be established: the
  * request may have applied server-side with its response lost, and a
  * foreign write during the outage made the ownership probe
  * inconclusive. Distinct from [[ManifestCasConflict]] (definitely
  * lost) and from IO errors on responded calls (definitely not
  * applied): callers must NOT roll back side effects that a landed
  * commit would reference — StreamStore keeps the group's data object
  * (invisible above the committed tail; sweepOrphans fences and
  * reclaims it if the commit in fact lost) and surfaces the append as
  * indefinite, exactly how the reference treats a lost-response write
  * (slatedb's put-id re-read discipline, sim/src/s3.rs:57-62).
  */
final class IndeterminateCommit(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

trait StorageBackend {
  def name: String

  /** Whether `withWriterMutex` provides REAL cross-process mutual
    * exclusion (POSIX OS file locks: yes; object stores: no — it's a
    * no-op there). Destructive maintenance that infers "dead writer"
    * from listings (orphan sweeps) must not trust the mutex when this
    * is false — it has to fence through the manifest CAS instead
    * (StreamStore.sweepOrphans). */
  def hasWriterMutex: Boolean

  // ---- commit metadata (small JSON objects, CAS-tagged) ----

  /** Object bytes + etag; None when absent. `fresh = false` may serve
    * an adapter cache (read/metrics paths); `fresh = true` must be
    * authoritative (commit paths). */
  def getMeta(key: String, fresh: Boolean): Option[(String, String)]

  /** Conditional put. `ifMatch = Some(etag)` succeeds iff the current
    * etag matches (If-Match); `ifMatch = None` succeeds iff the key is
    * absent (If-None-Match: *). Returns the new etag, or Left with the
    * reason on precondition failure. MUST be atomic with respect to
    * concurrent casMeta calls on the same key — on the object adapter
    * by construction; on the POSIX adapter under the serialization its
    * callers hold (the writer mutex for stream manifests, the JVM
    * catalog monitors for catalog documents). */
  def casMeta(key: String, json: String, ifMatch: Option[String]): Either[String, String]

  /** Unconditional put. No commit path uses it: every manifest and
    * catalog write is a [[casMeta]]. Specs use it to play a foreign
    * writer's blind overwrite. */
  def putMeta(key: String, json: String): Unit

  def deleteMeta(key: String): Unit

  // ---- writer serialization (advisory) ----

  /** Cross-process writer mutex for one stream's commit path. The
    * caller already holds the per-stream in-JVM monitor. POSIX: an OS
    * file lock. Object store: none exists — the protocol's safety is
    * the manifest conditional-put, this is a no-op. */
  def withWriterMutex[A](lockKey: Path)(f: => A): A

  // ---- data objects (parquet bytes, local-path-readable) ----

  /** Publish one staged local file at `dest`: atomic whole-object
    * visibility (POSIX: same-volume atomic move; object: upload = copy
    * bytes + index insert; a reader/lister never observes a partial
    * object). The staged source is consumed. */
  def putData(stagedLocal: Path, dest: Path): Unit

  /** The `.parquet` objects directly under `dir`, as local paths. */
  def listData(dir: Path): Seq[Path]

  /** Child directory names under `dir` (e.g. `gen=3`). Object stores
    * have no directories; these are the distinct next-level key
    * prefixes (ListObjectsV2 common prefixes). */
  def listSubdirs(dir: Path): Seq[String]

  /** Whether any object exists under the prefix. */
  def dataExists(dir: Path): Boolean

  def deleteData(file: Path): Unit

  /** Delete every object under the prefix (idempotent). */
  def deletePrefix(dir: Path): Unit

  // ---- grace clocks ----

  /** Timestamp of an object or prefix (last publish/touch), for
    * generation-sweep grace aging. */
  def timeOf(path: Path): Option[Long]

  /** Reset a prefix's grace clock (a compaction flip re-arms the old
    * generation's age). */
  def touch(path: Path, nowMs: Long): Unit
}

object StorageBackend {
  private val registry = TrieMap[String, StorageBackend]()

  /** The backend governing a root. Tests (and future deployments)
    * register object-semantics backends per root; everything else gets
    * POSIX. Keyed by canonical root so `new StreamStore(spark, root)`
    * anywhere in the process attaches to the registered backend —
    * multi-instance tests simulate multiple drivers sharing one
    * bucket, exactly like the reference sim's one in-memory S3 shared
    * by all turmoil hosts. */
  def forRoot(root: String): StorageBackend =
    registry.getOrElse(Catalog.canonicalRoot(root), PosixBackend)

  def register(root: String, backend: StorageBackend): Unit =
    registry.put(Catalog.canonicalRoot(root), backend)
}

/** The POSIX adapter: current-filesystem semantics, extracted verbatim
  * from the pre-round-13 StreamStore — rename-as-atomic-publish, OS
  * file locks, real mtimes for grace clocks. Metadata reads are served
  * by [[ManifestCache]]'s (mtime, size)-keyed raw tier; `casMeta` is the
  * one commit for stream manifests and catalog documents alike. It
  * re-reads the document, compares etags, then renames, so it is atomic
  * against writers in this JVM that hold the caller's monitor (and,
  * for manifests, against other processes holding the writer mutex).
  * Another process committing an unlocked catalog document inside the
  * compare-to-rename window can still be overwritten.
  */
object PosixBackend extends StorageBackend {
  val name = "posix"
  val hasWriterMutex = true

  def getMeta(key: String, fresh: Boolean): Option[(String, String)] =
    ManifestCache.read(key, fresh)

  def casMeta(key: String, json: String, ifMatch: Option[String]): Either[String, String] = {
    // Atomic only under the caller's serialization (see the object
    // doc); the fresh re-read inside it is the authoritative check.
    val cur = ManifestCache.read(key, fresh = true).map(_._2)
    if (cur != ifMatch)
      return Left(s"precondition failed: expected ${ifMatch.getOrElse("<absent>")}, found ${cur.getOrElse("<absent>")}")
    val p = Paths.get(key)
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, ".tmp", ".json")
    Files.writeString(tmp, json)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Right(ManifestCache.refresh(p, json))
  }

  def putMeta(key: String, json: String): Unit = {
    val p = Paths.get(key)
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, ".tmp", ".json")
    Files.writeString(tmp, json)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ManifestCache.refresh(p, json)
    ()
  }

  def deleteMeta(key: String): Unit = {
    val p = Paths.get(key)
    Files.deleteIfExists(p)
    ManifestCache.invalidate(p)
  }

  def withWriterMutex[A](lockKey: Path)(f: => A): A = {
    Files.createDirectories(lockKey.getParent)
    val ch = java.nio.channels.FileChannel.open(lockKey,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val fl = ch.lock()
      try f finally fl.release()
    } finally ch.close()
  }

  def putData(stagedLocal: Path, dest: Path): Unit = {
    Files.createDirectories(dest.getParent)
    Files.move(stagedLocal, dest)
  }

  def listData(dir: Path): Seq[Path] = {
    def attempt(): Seq[Path] = {
      if (!Files.exists(dir)) return Nil
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .toSeq
      finally s.close()
    }
    try attempt()
    catch {
      // directory deleted between exists and list (foreign sweep)
      case _: java.nio.file.NoSuchFileException
           | _: java.io.FileNotFoundException
           | _: java.io.UncheckedIOException => attempt()
    }
  }

  def listSubdirs(dir: Path): Seq[String] = {
    if (!Files.exists(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq
    finally s.close()
  }

  def dataExists(dir: Path): Boolean = Files.exists(dir)

  def deleteData(file: Path): Unit = { Files.deleteIfExists(file); () }

  def deletePrefix(dir: Path): Unit =
    if (Files.exists(dir)) {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }

  def timeOf(path: Path): Option[Long] =
    if (Files.exists(path)) Some(Files.getLastModifiedTime(path).toMillis)
    else None

  def touch(path: Path, nowMs: Long): Unit =
    if (Files.exists(path))
      Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(nowMs))
}

/** The object-store adapter: the semantics of the reference's S3
  * simulation (`/root/reference/sim/src/s3.rs`) over an in-memory,
  * JVM-shared index per root — no rename, no locks, no mtime, only:
  *
  *  - atomic whole-object PUT with `If-Match` / `If-None-Match: *`
  *    preconditions (s3.rs:120-134), etag = content hash (s3.rs:66);
  *  - strongly consistent LIST over the live map (s3.rs:236+);
  *  - idempotent DELETE (s3.rs:221-229);
  *  - per-object last-modified stamped at put time (s3.rs:69-71).
  *
  * Data objects are additionally materialized as real local files at
  * their key paths so Spark scans and parquet footer reads work
  * exactly as they would through `s3a://` in production; the
  * materialization uses a local temp+rename ONLY to emulate "a PUT is
  * atomic" — the protocol layer above never renames. Metadata objects
  * are mirrored to their key paths too (write-through) so read-only
  * consumers (the streaming source, foreign tooling) can read them,
  * but every CAS decision is made against the authoritative in-memory
  * entry, never the mirror.
  */
final class ObjectStoreBackend extends StorageBackend {
  val name = "object"
  val hasWriterMutex = false

  private final case class Obj(json: String, etag: String, putAtMs: Long)
  private val meta = new java.util.concurrent.ConcurrentHashMap[String, Obj]()
  /** Data-object index: key path -> put time. The local file at the
    * key path holds the bytes. */
  private val data = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  /** Prefix grace clocks (re-armed by touch on a compaction flip). */
  private val prefixClock = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def etagOf(json: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(json.getBytes("UTF-8")).take(16).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Key canonicalization MUST match how roots are canonicalized for
    * the backend registry (Catalog.canonicalRoot: symlink-resolving),
    * or a store constructed through a symlink-aliased root would
    * resolve to this same registered backend yet generate different
    * object keys — two instances silently seeing disjoint buckets.
    * toRealPath resolves the deepest existing ancestor; the (usually
    * not-yet-existing) leaf remainder is appended lexically, exactly
    * like canonicalRoot's fallback.
    */
  private def norm(p: Path): String = ObjectKeys.norm(p)

  /** `fresh` is accepted for interface parity but IGNORED: both paths
    * serve the single authoritative in-memory map — there is no cache
    * tier in this adapter, so "fresh" and "cached" are the same read.
    * Do NOT add a caching fast path behind `fresh = false` without
    * moving commit-path reads to `fresh = true` semantics first. */
  def getMeta(key: String, fresh: Boolean): Option[(String, String)] =
    Option(meta.get(norm(Paths.get(key)))).map(o => (o.json, o.etag))

  def casMeta(key: String, json: String, ifMatch: Option[String]): Either[String, String] = {
    val k = norm(Paths.get(key))
    val next = Obj(json, etagOf(json), System.currentTimeMillis())
    val ok = ifMatch match {
      case None => meta.putIfAbsent(k, next) == null // If-None-Match: *
      case Some(tag) => // If-Match: tag
        val cur = meta.get(k)
        cur != null && cur.etag == tag && meta.replace(k, cur, next)
    }
    if (!ok) return Left(s"precondition failed for $key")
    mirrorMeta(k, json)
    Right(next.etag)
  }

  def putMeta(key: String, json: String): Unit = {
    val k = norm(Paths.get(key))
    meta.put(k, Obj(json, etagOf(json), System.currentTimeMillis()))
    mirrorMeta(k, json)
  }

  /** Read-path mirror (see class doc) — not consulted by any CAS. */
  private def mirrorMeta(k: String, json: String): Unit = {
    val p = Paths.get(k)
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, ".tmp", ".json")
    Files.writeString(tmp, json)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def deleteMeta(key: String): Unit = {
    val k = norm(Paths.get(key))
    meta.remove(k)
    Files.deleteIfExists(Paths.get(k))
    ManifestCache.invalidate(Paths.get(key))
  }

  /** No locks on an object store: the in-JVM per-stream monitor the
    * caller already holds is the only serialization, and TWO processes
    * racing here must be resolved by the manifest conditional-put —
    * LinearizabilitySpec drives exactly that on this adapter. */
  def withWriterMutex[A](lockKey: Path)(f: => A): A = f

  def putData(stagedLocal: Path, dest: Path): Unit = {
    val k = norm(dest)
    val p = Paths.get(k)
    Files.createDirectories(p.getParent)
    // atomic-PUT emulation: bytes land under a temp key, then appear
    // whole; the index insert is the visibility point for listings
    val tmp = Files.createTempFile(p.getParent, ".put", ".tmp")
    Files.copy(stagedLocal, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    data.put(k, System.currentTimeMillis())
    Files.deleteIfExists(stagedLocal)
  }

  /** Test seam for crash simulation: register an object as if a dead
    * writer's PUT had completed (RecoverySpec restores a killed
    * writer's data file through this — on an object store the file
    * either fully exists as an object or was never put). */
  def putDataBytes(dest: Path, bytes: Array[Byte]): Unit = {
    val k = norm(dest)
    val p = Paths.get(k)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
    data.put(k, System.currentTimeMillis())
  }

  def listData(dir: Path): Seq[Path] = {
    val prefix = norm(dir) + "/"
    data.keySet.asScala.toSeq
      .filter(k => k.startsWith(prefix) && k.endsWith(".parquet") &&
        !k.substring(prefix.length).contains('/'))
      .sorted.map(Paths.get(_))
  }

  def listSubdirs(dir: Path): Seq[String] = {
    val prefix = norm(dir) + "/"
    data.keySet.asScala.toSeq
      .filter(_.startsWith(prefix))
      .map(_.substring(prefix.length))
      .filter(_.contains('/'))
      .map(rest => rest.substring(0, rest.indexOf('/')))
      .distinct
  }

  def dataExists(dir: Path): Boolean = {
    val prefix = norm(dir) + "/"
    data.keySet.asScala.exists(_.startsWith(prefix))
  }

  def deleteData(file: Path): Unit = {
    val k = norm(file)
    data.remove(k)
    Files.deleteIfExists(Paths.get(k))
  }

  def deletePrefix(dir: Path): Unit = {
    val prefix = norm(dir) + "/"
    data.keySet.asScala.filter(_.startsWith(prefix)).foreach { k =>
      data.remove(k)
      Files.deleteIfExists(Paths.get(k))
    }
    prefixClock.keySet.asScala.filter(p => p == norm(dir) || p.startsWith(prefix))
      .foreach(prefixClock.remove)
    // local mirror dirs may linger empty; harmless, but tidy them
    val d = dir.toAbsolutePath.normalize
    if (Files.exists(d))
      try Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: java.io.IOException => () }
  }

  def timeOf(path: Path): Option[Long] = {
    val k = norm(path)
    Option(prefixClock.get(k))
      .orElse(Option(data.get(k)))
      .orElse {
        // a prefix with objects but no explicit clock: newest put
        val prefix = k + "/"
        val times = data.asScala.collect {
          case (key, t) if key.startsWith(prefix) => t
        }
        if (times.isEmpty) None else Some(times.max)
      }
  }

  def touch(path: Path, nowMs: Long): Unit =
    prefixClock.put(norm(path), nowMs)
}

object ObjectStoreBackend {
  /** Create and register an object-semantics backend for a root; every
    * StreamStore/Catalog subsequently constructed over the root (any
    * instance, simulating any number of drivers) shares it. */
  def install(root: String): ObjectStoreBackend = {
    val b = new ObjectStoreBackend
    StorageBackend.register(root, b)
    b
  }
}
