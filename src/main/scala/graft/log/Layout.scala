package graft.log

import java.nio.file.{Files, Path, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** On-disk layout of a stream store root:
  *
  * {{{
  * root/
  *   _catalog/basins.json                       — basin list
  *   _catalog/<basin>/streams-NN.json           — hash-sharded stream configs
  *   _state/<basin>/sNN/<escaped-stream>.json   — per-stream manifest
  *   data/basin=<basin>/stream=<escaped>/gen=N/ — record parquet files
  * }}}
  *
  * Every stream's files live in exactly one place: [[Layout.genDir]]
  * of its manifest's generation. Roots written before round 19 are
  * refused, not upgraded. Their single-file `_catalog/catalog.json`
  * fails [[Catalog]] construction, and each written stream's flat
  * `_state/<basin>/<escaped-stream>.json` manifest fails its lookup
  * ([[Layout.refuseFlatManifest]]); the still older loose-parquet
  * streams (round <= 8) carry such a manifest too.
  *
  * The per-stream manifest is the analog of the reference's KV keys
  * StreamTailPosition / StreamFencingToken / StreamTrimPoint
  * (lite/src/backend/kv/mod.rs:73-83): the tail survives a full trim,
  * fencing token and trim point are recovered from it on open. Every
  * manifest and catalog write is a conditional put
  * (`StorageBackend.casMeta`; on POSIX an atomic temp-file + rename),
  * so a committed manifest IS the durability barrier (SURVEY §4: commit =
  * durable replaces the reference's flush watermark machinery).
  */
object Layout {

  /** Escape a stream name into a pure-ASCII partition-path token.
    *
    * Escape char is `~` (`~XX` per UTF-8 byte) - deliberately NOT `%`,
    * which is in Spark's own partition-escaping set and would be
    * escaped twice by any Spark partition writer. Every writer — unary
    * append, compaction, and bulk ingest's executor-side staged files
    * ([[stageDir]], no Spark dynamic-partition writer) — derives its
    * directories from this function, so they coincide for all legal
    * names, and non-ASCII names survive POSIX-locale filesystems.
    */
  def escape(name: String): String = {
    val sb = new StringBuilder
    name.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '-' || c == '_' || c == '.')
        sb.append(c)
      else sb.append(f"~${b & 0xff}%02X")
    }
    sb.toString
  }

  def unescape(token: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < token.length) {
      val c = token.charAt(i)
      if (c == '~' && i + 3 <= token.length) {
        out.write(Integer.parseInt(token.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(c.toInt); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  def dataDir(root: String, basin: String, stream: String): String =
    s"$root/data/basin=$basin/stream=${escape(stream)}"

  /** Generation subdirectory: the stream's live files sit under
    * `gen=<manifest.generation>`. Compaction writes the NEXT
    * generation beside the current one and flips the manifest pointer
    * (never moving or deleting live paths), so a reader plan created
    * before the flip keeps reading its old-generation file paths —
    * they stay on disk until the grace sweep — while every new plan
    * lists the new generation. The `gen=` spelling is deliberate:
    * basin-wide scans partition-discover it and prune by it.
    */
  def genDir(root: String, basin: String, stream: String, gen: Long): String =
    s"${dataDir(root, basin, stream)}/gen=$gen"

  /** Hash-sharded like the catalog's stream shards, and for the same
    * physical reason at a different layer: every manifest commit
    * CREATES files in this directory (the CAS temp file + rename, the
    * lock file), and file creation serializes on the parent
    * directory's kernel mutex — with 50k streams in ONE `_state/
    * <basin>/` dir, a 48-way bulk-ingest commit loop convoys on that
    * mutex (measured: per-op thread time 20-40x the quiet syscall
    * cost). 64 shard dirs split the mutex 64 ways. Nothing ever LISTS
    * this tree (all access is by exact path through this function),
    * so the shape is free to choose for write concurrency. */
  def statePath(root: String, basin: String, stream: String): Path =
    Paths.get(root, "_state", basin, f"s${Catalog.shardOf(stream)}%02d",
      escape(stream) + ".json")

  /** Pre-shard (round <= 18) flat manifest location: probed only when
    * the sharded manifest is absent, to refuse such a root. */
  def legacyStatePath(root: String, basin: String, stream: String): Path =
    Paths.get(root, "_state", basin, escape(stream) + ".json")

  /** Throw if a pre-shard flat manifest stands where the sharded one
    * is missing. Read as absent, that stream's tail would be 0 and the
    * next append would re-assign committed seq_nums. Callers run it
    * only after a sharded-path miss, so it costs one stat on the
    * manifest-absent path (brand-new streams), never on hot reads. */
  def refuseFlatManifest(root: String, basin: String, stream: String): Unit = {
    val flat = legacyStatePath(root, basin, stream)
    if (Files.exists(flat))
      throw new IllegalStateException(s"$flat is a pre-round-19 flat " +
        "manifest; this build reads only the sharded _state layout and " +
        "does not migrate old roots")
  }

  /** Manifest read for POSIX-file readers outside StreamStore (the
    * streaming source plans against this). */
  def readManifest(root: String, basin: String,
                   stream: String): Option[StreamManifest] =
    readJson[StreamManifest](statePath(root, basin, stream)).orElse {
      refuseFlatManifest(root, basin, stream)
      None
    }

  /** One bulk-ingest's private staged dir for a stream — sharded like
    * [[statePath]] so 32 staged-write tasks creating 50k stream dirs
    * don't convoy on one parent's kernel mutex (and the GC rmdirs
    * spread the same way). Private to the ingest that created
    * `stage`; never listed as a whole except by the GC sweep. */
  def stageDir(stage: String, basin: String, stream: String): String =
    s"$stage/basin=$basin/s${f"${Catalog.shardOf(stream)}%02d"}/stream=${escape(stream)}"

  /** Pre-shard single-file catalog: probed only to refuse such a root. */
  def catalogPath(root: String): Path =
    Paths.get(root, "_catalog", "catalog.json")

  /** Sharded control plane: one file for the basin list… */
  def basinsPath(root: String): Path =
    Paths.get(root, "_catalog", "basins.json")

  /** …and per-basin, hash-sharded stream files, so one stream's catalog
    * churn rewrites ~1/64th of one basin instead of the whole control
    * plane — the spirit of the reference's per-stream StreamMeta KV key
    * (lite/src/backend/kv/mod.rs:66-71) at file granularity.
    */
  def streamShardPath(root: String, basin: String, shard: Int): Path =
    Paths.get(root, "_catalog", escape(basin), f"streams-$shard%02d.json")

  implicit val formats: Formats = DefaultFormats

  def readJson[A: Manifest](path: Path): Option[A] =
    if (Files.exists(path))
      Some(JsonMethods.parse(Files.readString(path)).extract[A])
    else None

  def toJsonString[A <: AnyRef](value: A): String =
    Serialization.writePretty(value)

  def fromJsonString[A: Manifest](json: String): A =
    JsonMethods.parse(json).extract[A]
}

/** Durable per-stream state. `tailSeq`/`tailTs` = position of the next
  * record (never reset by trim); `trimPoint` = records below are
  * logically deleted (Long.MaxValue = terminal trim / stream deletion
  * pending, ref streamer.rs:872-884).
  */
final case class StreamManifest(
    tailSeq: Long = 0L,
    tailTs: Long = 0L,
    fencingToken: String = "",
    trimPoint: Long = 0L,
    deletionPending: Boolean = false,
    /** last streaming-ingest epoch committed for this stream (-1 =
      * none); makes micro-batch replay after a crash idempotent. */
    lastEpoch: Long = -1L,
    /** highest trim point already made physical by compaction — lets
      * the maintenance tick skip streams with nothing to reclaim (the
      * analog of the reference clearing StreamTrimPoint after the trim
      * executor runs, stream_trim.rs:120-152; our trimPoint must stay
      * as the monotone visibility floor, so reclamation is tracked
      * separately). Absent in old manifests ⇒ 0.
      */
    reclaimedTo: Long = 0L,
    /** current data generation — the `gen=N` subdirectory live reads
      * plan against. Bumped by compact() AFTER the rewritten files are
      * in place, so the flip is the commit point of a compaction and
      * old-generation paths outlive it for in-flight reader plans.
      * Absent in old manifests ⇒ 0.
      */
    generation: Long = 0L,
    version: Long = 0L)

/** Driver-side cache of control-plane documents: stream manifests and
  * catalog files, on every backend. Two tiers, one purge rule.
  *
  *  - Raw (POSIX backend only): path -> (mtime, size, json, etag).
  *    `PosixBackend.getMeta(fresh = false)` serves it while the stat
  *    still matches, so a cached read is three stats and a map hit
  *    unless the file changed. Our own writers refresh eagerly; a
  *    foreign process's write is caught by the stat key. The etag is
  *    the content hash, the POSIX stand-in for the object-store CAS tag
  *    the commit protocol is written against.
  *  - Parsed (every backend): key -> (etag, document), in [[parse]].
  *    Content-addressed, so a stale install can never serve wrong
  *    content; at worst it costs a re-parse.
  */
object ManifestCache {
  /** A plain class, not a case class: installs compare-and-set on the
    * entry's identity (see [[install]]). The Path is kept so a hit needs
    * no `Paths.get` of the key. */
  private final class Raw(val path: Path, val mtime: java.nio.file.attribute.FileTime,
                          val size: Long, val json: String, val etag: String)
  private val raw = scala.collection.concurrent.TrieMap.empty[String, Raw]

  def etagOf(json: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(json.getBytes("UTF-8")).take(16)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** (json, etag), or None when the document is absent. `fresh = false`
    * serves the cache when (mtime, size) match; `fresh = true` always
    * re-reads the bytes (commit paths — a foreign write in the same
    * mtime granule must be seen). */
  def read(key: String, fresh: Boolean): Option[(String, String)] = {
    val seen = raw.get(key)
    val path = if (seen.isEmpty) Paths.get(key) else seen.get.path
    if (!Files.exists(path)) { drop(key, seen); return None }
    val ft = Files.getLastModifiedTime(path)
    val size = Files.size(path)
    seen match {
      case Some(e) if !fresh && e.mtime == ft && e.size == size => Some((e.json, e.etag))
      case _ => readAt(key, path, ft, size, seen)
    }
  }

  /** Keyed by the PRE-read stat: a replacement landing while we read
    * mismatches on the next stat and re-reads. */
  private def readAt(key: String, path: Path, ft: java.nio.file.attribute.FileTime,
                     size: Long, seen: Option[Raw]): Option[(String, String)] =
    try {
      val json = Files.readString(path)
      val etag = etagOf(json)
      install(key, seen, new Raw(path, ft, size, json, etag))
      Some((json, etag))
    } catch { case _: java.nio.file.NoSuchFileException => None }

  /** Stale-install guard. Reads take no lock, so a writer may rename
    * and [[refresh]] while a reader is reading the pre-write bytes,
    * possibly same-size within the mtime granule. An unconditional put
    * would clobber the writer's entry with those bytes under a matching
    * key and serve them until the file next changed. Instead the reader
    * installs by compare-and-set against the entry it saw BEFORE its
    * stat: every refresh replaces the entry object, so the CAS fails
    * and the writer's entry stands. */
  private def install(key: String, seen: Option[Raw], next: Raw): Unit = {
    seen match {
      case None => raw.putIfAbsent(key, next)
      case Some(old) => raw.replace(key, old, next)
    }
    ()
  }

  /** The file is gone: drop the entry this reader saw, never a newer
    * writer's. */
  private def drop(key: String, seen: Option[Raw]): Unit =
    seen.foreach(raw.remove(key, _))

  /** Refresh after our own atomic write; returns the etag. */
  def refresh(path: Path, json: String): String = {
    val etag = etagOf(json)
    raw.put(path.toString, new Raw(path,
      Files.getLastModifiedTime(path), Files.size(path), json, etag))
    etag
  }

  /** Test seam: prime the cache with a (possibly stale) manifest
    * against the file's CURRENT attributes — the deterministic
    * reproduction of the same-mtime-granule stale-serve corner
    * (GenerationSpec, StreamStoreSpec). */
  def put(path: Path, m: StreamManifest): Unit = {
    val json = Layout.toJsonString(m)
    raw.put(path.toString, new Raw(path,
      Files.getLastModifiedTime(path), Files.size(path), json, etagOf(json)))
  }

  /** Drop both tiers' entries (document deleted). */
  def invalidate(path: Path): Unit = {
    raw.remove(path.toString)
    parsed.remove(path.toString)
    ()
  }

  /** Parsed tier: one entry per key, keyed by etag. The backend that
    * served the bytes rides along so [[purge]] can ask it whether the
    * document still exists. */
  private final class Parsed(val etag: String, val doc: AnyRef,
                             val backend: StorageBackend)
  private val parsed = scala.collection.concurrent.TrieMap.empty[String, Parsed]

  /** Parsed entries whose key starts with `prefix` (a root), for specs
    * that check deletion leaves none behind. */
  private[log] def parsedSize(prefix: String): Int =
    parsed.keys.count(_.startsWith(prefix))

  /** The parse of `meta` (bytes + etag as `backend.getMeta` returned
    * them), or `default` when the document is absent. A miss bumps
    * `tally` when one is given. */
  def parse[A <: AnyRef: Manifest](backend: StorageBackend, key: String,
                                   meta: Option[(String, String)], default: => A,
                                   tally: Option[java.util.concurrent.atomic.AtomicLong] = None): A =
    meta match {
      case None => default
      case Some((json, etag)) =>
        parsed.get(key) match {
          case Some(p) if p.etag == etag => p.doc.asInstanceOf[A]
          case _ =>
            tally.foreach(_.incrementAndGet())
            val v = Layout.fromJsonString[A](json)
            parsed.put(key, new Parsed(etag, v, backend))
            v
        }
    }

  /** Install the parse of a document this driver just committed under
    * `etag` (the next read is a hit, not a re-parse), and count the
    * commit toward [[purge]]. */
  def committed(backend: StorageBackend, key: String, etag: String,
                doc: AnyRef): Unit = {
    parsed.put(key, new Parsed(etag, doc, backend))
    if (commitsSincePurge.incrementAndGet() % 1024 == 0 &&
        raw.size + parsed.size > 4096) purge()
  }

  /** Bounded cache: drops the entries whose document is gone (deleted
    * streams and basins, abandoned roots), so a long-lived driver that
    * creates and deletes documents does not grow the cache forever.
    * Counter-gated to at most one sweep per 1024 commits, and only past
    * 4096 entries: the sweep stats or fetches every cached document,
    * and with that many LIVE entries an every-commit sweep would put
    * thousands of reads inside each commit forever (the threshold never
    * clears when the documents all exist). A sweep that fails to reach
    * a backend keeps the entry. */
  private val commitsSincePurge = new java.util.concurrent.atomic.AtomicLong

  private def purge(): Unit = {
    raw.foreach { case (k, e) =>
      if (!Files.exists(e.path)) raw.remove(k, e)
    }
    parsed.foreach { case (k, p) =>
      val gone =
        try p.backend.getMeta(k, fresh = false).isEmpty
        catch { case scala.util.control.NonFatal(_) => false }
      if (gone) parsed.remove(k, p)
    }
  }
}
