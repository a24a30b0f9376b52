package graft.log

import java.nio.file.Files
import graft.model._

/** Catalog entries. Configs are stored flattened as string maps to keep
  * the JSON schema trivial (json4s round-trip without custom
  * serializers for the ADTs).
  */
final case class BasinEntry(
    name: String,
    config: Map[String, String] = Map.empty,
    createdAt: Long,
    deletedAt: Option[Long] = None,
    idempotencyKey: Option[String] = None)

final case class StreamEntry(
    basin: String,
    name: String,
    config: Map[String, String] = Map.empty,
    createdAt: Long,
    deletedAt: Option[Long] = None,
    idempotencyKey: Option[String] = None)

/** On-disk shape of `basins.json`. */
final case class BasinsFile(basins: List[BasinEntry] = Nil)

/** On-disk shape of one `streams-NN.json` shard. */
final case class StreamShard(streams: List[StreamEntry] = Nil)

/** C8 — a placement location (api/src/v1/location.rs:1-24:
  * LocationInfo { name, is_private }).
  */
final case class LocationInfo(name: String, isPrivate: Boolean = false)

/** On-disk shape of `locations.json`: registered locations + the
  * account default. */
final case class LocationsFile(
    locations: List[LocationInfo] = Nil,
    default: Option[String] = None)

/** C7 — a persisted access token (common access.rs AccessTokenInfo;
  * api access.rs:166-178). Scope is stored flattened the same way
  * configs are (plain strings/bools, json4s round-trip without custom
  * serializers): each resource set as (kind, value) with kind in
  * none|exact|prefix, the three op-group rows as six flags, the
  * explicit op set by name.
  */
final case class TokenEntry(
    id: String,
    expiresAtMs: Option[Long] = None,
    autoPrefixStreams: Boolean = false,
    basinsKind: String = "none", basinsValue: String = "",
    streamsKind: String = "none", streamsValue: String = "",
    tokensKind: String = "none", tokensValue: String = "",
    accountRead: Boolean = false, accountWrite: Boolean = false,
    basinRead: Boolean = false, basinWrite: Boolean = false,
    streamRead: Boolean = false, streamWrite: Boolean = false,
    ops: List[String] = Nil,
    createdAt: Long = 0L) {

  def toToken: graft.model.AccessToken = {
    import graft.model._
    def rs(kind: String, value: String): ResourceSet = kind match {
      case "exact" => ResourceSet.Exact(value)
      case "prefix" => ResourceSet.Prefix(value)
      case _ => ResourceSet.None
    }
    AccessToken(id, AccessTokenScope(
      basins = rs(basinsKind, basinsValue),
      streams = rs(streamsKind, streamsValue),
      accessTokens = rs(tokensKind, tokensValue),
      opGroups = PermittedOperationGroups(accountRead, accountWrite,
        basinRead, basinWrite, streamRead, streamWrite),
      ops = ops.map(Op.withName).toSet),
      expiresAtMs, autoPrefixStreams)
  }
}

object TokenEntry {
  def from(t: graft.model.AccessToken, createdAt: Long): TokenEntry = {
    import graft.model._
    def flat(r: ResourceSet): (String, String) = r match {
      case ResourceSet.None => ("none", "")
      case ResourceSet.Exact(v) => ("exact", v)
      case ResourceSet.Prefix(p) => ("prefix", p)
    }
    val (bk, bv) = flat(t.scope.basins)
    val (sk, sv) = flat(t.scope.streams)
    val (tk, tv) = flat(t.scope.accessTokens)
    val g = t.scope.opGroups
    TokenEntry(t.id, t.expiresAtMs, t.autoPrefixStreams,
      bk, bv, sk, sv, tk, tv,
      g.accountRead, g.accountWrite, g.basinRead, g.basinWrite,
      g.streamRead, g.streamWrite,
      t.scope.ops.toList.map(_.toString).sorted, createdAt)
  }
}

/** On-disk shape of `access_tokens.json`. */
final case class TokensFile(tokens: List[TokenEntry] = Nil)

final case class Page[T](items: Seq[T], hasMore: Boolean)

sealed trait EnsureOutcome
object EnsureOutcome {
  case object Created extends EnsureOutcome
  case object Updated extends EnsureOutcome
  case object Noop extends EnsureOutcome
}

/** Flattened ser/de for StreamConfig (SURVEY §1.5). */
object ConfigCodec {
  def encode(c: StreamConfig): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    c.storageClass.foreach(v => b += "storage_class" ->
      (if (v == StorageClass.Standard) "standard" else "express"))
    c.retentionPolicy.foreach {
      case RetentionPolicy.Age(s) => b += "retention_age_secs" -> s.toString
      case RetentionPolicy.Infinite => b += "retention_age_secs" -> "infinite"
    }
    c.timestamping.foreach { t =>
      b += "timestamping_mode" -> (t.mode match {
        case TimestampingMode.ClientPrefer => "client-prefer"
        case TimestampingMode.ClientRequire => "client-require"
        case TimestampingMode.Arrival => "arrival"
      })
      b += "timestamping_uncapped" -> t.uncapped.toString
    }
    c.deleteOnEmpty.foreach(v => b += "delete_on_empty_min_age_secs" -> v.minAgeSeconds.toString)
    b.result()
  }

  def decode(m: Map[String, String]): StreamConfig = StreamConfig(
    storageClass = m.get("storage_class").map {
      case "standard" => StorageClass.Standard
      case _ => StorageClass.Express
    },
    retentionPolicy = m.get("retention_age_secs").map {
      case "infinite" => RetentionPolicy.Infinite
      case s => RetentionPolicy.Age(s.toLong)
    },
    timestamping = m.get("timestamping_mode").map { mode =>
      Timestamping(
        mode match {
          case "client-require" => TimestampingMode.ClientRequire
          case "arrival" => TimestampingMode.Arrival
          case _ => TimestampingMode.ClientPrefer
        },
        m.get("timestamping_uncapped").exists(_.toBoolean))
    },
    deleteOnEmpty = m.get("delete_on_empty_min_age_secs")
      .map(s => DeleteOnEmpty(s.toLong)))

  def encodeBasin(c: BasinConfig): Map[String, String] =
    encode(c.defaultStreamConfig) ++
      Map("create_stream_on_append" -> c.createStreamOnAppend.toString,
          "create_stream_on_read" -> c.createStreamOnRead.toString) ++
      c.streamCipher.map(a => "stream_cipher" -> a.wireName)

  def decodeBasin(m: Map[String, String]): BasinConfig = BasinConfig(
    decode(m),
    m.get("create_stream_on_append").exists(_.toBoolean),
    m.get("create_stream_on_read").exists(_.toBoolean),
    m.get("stream_cipher").flatMap(CipherAlgo.fromWire))
}

object Catalog {
  /** Fixed shard fan-out per basin. 64 keeps a 100k-stream basin's
    * shards at ~1.5k entries (≈150 KiB JSON) each — small enough that
    * a single-stream mutation is a near-constant write, large enough
    * that a full-basin list is 64 cached loads, not thousands.
    */
  val NumShards = 64

  /** Stable shard of a stream name (md5, not String.hashCode, so
    * sequential names like `s-1…s-N` spread evenly). */
  private[graft] def shardOf(stream: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (md.digest(stream.getBytes("UTF-8"))(0) & 0xff) % NumShards
  }

  /** JVM-global lock registry keyed by (canonical root, scope).
    *
    * Catalog mutations are read-modify-write over shared JSON files,
    * so the monitors MUST be shared by every Catalog instance over the
    * same root in this process (a StreamStore's catalog, the SQL
    * catalog plugin's, a scan's — each news its own instance):
    * per-instance monitors would let two instances interleave a
    * basins.json rewrite and lose one side's update.
    */
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[Object]]()

  /** Counter-gating for the dead-ref sweep below, same discipline as
    * ManifestCache's purge: with >8192 LIVE monitors the size threshold
    * never clears, and an ungated `removeIf` would put a full-map
    * scan inside EVERY lock acquisition forever. At most one sweep
    * per 1024 acquisitions bounds the amortized cost regardless of
    * how many entries turn out to be collectable. */
  private val acquiresSinceSweep = new java.util.concurrent.atomic.AtomicLong

  @annotation.tailrec
  private[log] def globalLock(canonRoot: String, scope: String): Object = {
    if (locks.size > 8192 && acquiresSinceSweep.incrementAndGet() % 1024 == 0)
      locks.entrySet.removeIf(e => e.getValue.get == null)
    val key = canonRoot + "\u0000" + scope
    val ref = locks.computeIfAbsent(
      key, _ => new java.lang.ref.WeakReference(new Object))
    val o = ref.get
    if (o == null) { locks.remove(key, ref); globalLock(canonRoot, scope) }
    else o
  }

  /** Canonical form of a catalog root for JVM-global registry keys:
    * resolves symlinks (`toRealPath`) so two instances opening one
    * physical root via different symlinked paths share monitors and
    * cache entries. When the root does not exist yet (first
    * construction creates it), the deepest EXISTING ancestor is
    * resolved and the remainder appended lexically — so an instance
    * constructed before the directory exists and one constructed
    * after agree on the key even when an ancestor is a symlink
    * (plain lexical fallback would give them different keys and
    * split the control plane in two).
    */
  private[graft] def canonicalRoot(root: String): String = {
    // toRealPath on the RAW absolute path — never normalize() first:
    // lexical normalization folds '..' across symlinks ('/b/sym/../x'
    // is NOT '/b/x' when sym points elsewhere), which would key and
    // build the control plane under the wrong directory.
    val abs = java.nio.file.Paths.get(root).toAbsolutePath
    try abs.toRealPath().toString
    catch {
      case _: java.io.IOException =>
        // Root doesn't exist yet: resolve the deepest EXISTING
        // ancestor and append the remainder. The remainder is
        // normalized lexically — best effort, since a '..' behind a
        // not-yet-existing symlink cannot be resolved by anyone.
        val norm = abs.normalize
        var existing = norm.getParent
        while (existing != null && !Files.exists(existing))
          existing = existing.getParent
        if (existing == null) norm.toString
        else try existing.toRealPath()
          .resolve(existing.relativize(norm)).toString
        catch { case _: java.io.IOException => norm.toString }
    }
  }

  /** Test-visible tally of control-plane document PARSES (cache
    * misses). CatalogShardSpec uses deltas of this to pin that
    * list-paging serves pages from the parse cache — the structural
    * guarantee that a 10k-stream basin's page N does not re-parse all
    * 64 shards (the failure mode if the cache keying broke).
    */
  private[log] val parseTally = new java.util.concurrent.atomic.AtomicLong
  private val tallied = Some(parseTally)
}

/** Control-plane catalog (SURVEY §2.4, C1-C6): basins and streams with
  * create/ensure/reconfigure/list/delete.
  *
  * Scale layout: `basins.json` holds the basin list; each basin's
  * streams live in 64 hash-sharded `<basin>/streams-NN.json` documents.
  * A single-stream mutation loads and rewrites ONLY its shard (~1/64th
  * of one basin), where the old single-file layout serialized the
  * entire control plane on every mutation — at 100k streams an
  * O(100k) write per create/reconfigure. This is the document-granularity
  * analog of the reference's per-stream StreamMeta KV key
  * (lite/src/backend/kv/mod.rs:66-71) under serialized catalog
  * transactions (streams.rs:89,284).
  *
  * The documents live in the same store as the records, as the
  * reference keeps basin/stream metadata in the object-backed KV
  * (lite/src/backend/kv/mod.rs:54-71): on every backend a read is
  * `backend.getMeta` and a mutation commits through `backend.casMeta`,
  * exactly like a stream manifest. In-JVM writers serialize on shared
  * monitors (per basin, plus one for the basin list), so a failed
  * precondition means another process committed between our load and
  * put, and the mutation rebases. Cached reads go through
  * [[ManifestCache]]: a stat-keyed raw tier on POSIX, then one
  * etag-keyed parse cache, so a read costs three stats and map hits
  * unless someone wrote the document.
  */
final class Catalog(root: String) {
  import Catalog.NumShards

  /** All registry keys and document keys are built from the canonical
    * root so every instance over one physical root — however spelled —
    * shares the same monitors and cache entries.
    */
  private val canonRoot = Catalog.canonicalRoot(root)

  // basin list; shared JVM-wide per root so independent Catalog
  // instances over one root serialize (see Catalog.globalLock)
  private val lock = Catalog.globalLock(canonRoot, "__basins__")
  private def basinLock(basin: String): Object =
    Catalog.globalLock(canonRoot, "b\u0000" + basin)

  private val basinsKey = Layout.basinsPath(canonRoot).toString

  /** The physical-IO adapter governing this root — the same resolution
    * as StreamStore's data plane. */
  private val backend = StorageBackend.forRoot(root)

  /** Test seam: runs between a mutation's document load and its
    * conditional put, so specs can inject the foreign-driver
    * interleaving that forces the CAS-rebase path. */
  private[log] var beforeCatalogCas: () => Unit = () => ()

  private def parse[A <: AnyRef: Manifest](key: String,
                                           meta: Option[(String, String)],
                                           default: => A): A =
    ManifestCache.parse(backend, key, meta, default, Catalog.tallied)

  /** Read-modify-write of ONE control-plane document; every catalog
    * mutation goes through here, under the caller's monitor.
    *
    * `f` sees the current parse and returns (replacement, result);
    * `None` = read-only outcome, nothing written. Loads (json, etag)
    * fresh from the backend, applies `f`, and commits with `casMeta` —
    * If-Match on the loaded etag, or If-None-Match when the document did
    * not exist. A precondition failure means a FOREIGN process committed
    * between our load and put: re-run `f` on the fresh parse (f is pure
    * in the document) and try again, bounded.
    */
  private def mutateDoc[A <: AnyRef: Manifest, R](key: String, default: => A)
      (f: A => (Option[A], R)): R = {
    var attempts = 0
    while (attempts < 64) {
      val cur = backend.getMeta(key, fresh = true)
      val (next, r) = f(parse(key, cur, default))
      next match {
        case None => return r
        case Some(doc) =>
          beforeCatalogCas()
          backend.casMeta(key, Layout.toJsonString(doc), cur.map(_._2)) match {
            case Right(tag) =>
              ManifestCache.committed(backend, key, tag, doc); return r
            case Left(_) => attempts += 1 // foreign commit won; rebase
          }
      }
    }
    throw new IllegalStateException(s"catalog CAS starvation on $key")
  }

  private def load[A <: AnyRef: Manifest](key: String, default: => A): A =
    parse(key, backend.getMeta(key, fresh = false), default)

  // A pre-shard root (single-file `catalog.json`, no basins.json) is
  // refused: reading it as an empty sharded catalog would hide every
  // basin and stream it lists.
  if (Files.exists(Layout.catalogPath(canonRoot)) &&
      backend.getMeta(basinsKey, fresh = true).isEmpty)
    throw new IllegalStateException(s"${Layout.catalogPath(canonRoot)} is a " +
      "pre-round-19 single-file catalog; this build reads only the sharded " +
      "_catalog layout and does not migrate old roots")

  private def basinsFile(): BasinsFile = load(basinsKey, BasinsFile())

  private def shardKey(basin: String, sh: Int): String =
    Layout.streamShardPath(canonRoot, basin, sh).toString

  private def shard(basin: String, sh: Int): StreamShard =
    load(shardKey(basin, sh), StreamShard())

  /** All of one basin's stream entries (64 cached shard loads). */
  private def basinStreams(basin: String): Iterator[StreamEntry] =
    (0 until NumShards).iterator.flatMap(sh => shard(basin, sh).streams)

  private def now(): Long = System.currentTimeMillis()

  /** Idempotency key = hash(requestToken, config) — ref resources.rs:69-103. */
  private def idemKey(token: String, config: Map[String, String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val payload = token + "\u0000" + config.toSeq.sorted.mkString("\u0001")
    md.digest(payload.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- basins ----

  def createBasin(name: String, config: BasinConfig = BasinConfig(),
                  requestToken: Option[String] = None): Either[String, BasinEntry] =
    lock.synchronized {
      if (!Caps.validBasinName(name)) Left(s"invalid basin name: $name")
      else {
        val enc = ConfigCodec.encodeBasin(config)
        val key = requestToken.map(idemKey(_, enc))
        mutateDoc(basinsKey, BasinsFile()) { st =>
          st.basins.find(b => b.name == name && b.deletedAt.isEmpty) match {
            case Some(existing) if key.isDefined && existing.idempotencyKey == key =>
              (None, Right(existing)) // idempotent retry
            case Some(_) => (None, Left("BasinAlreadyExists"))
            case None =>
              val e = BasinEntry(name, enc, now(), None, key)
              (Some(st.copy(basins = st.basins :+ e)), Right(e))
          }
        }
      }
    }

  def getBasin(name: String): Option[BasinEntry] =
    basinsFile().basins.find(b => b.name == name && b.deletedAt.isEmpty)

  def basinConfig(name: String): BasinConfig =
    getBasin(name).map(e => ConfigCodec.decodeBasin(e.config))
      .getOrElse(BasinConfig())

  /** Basin-level C3: create-or-update to the given config (PUT). */
  def ensureBasin(name: String, config: BasinConfig): Either[String, EnsureOutcome] =
    lock.synchronized {
      if (!Caps.validBasinName(name)) Left(s"invalid basin name: $name")
      else {
        val enc = ConfigCodec.encodeBasin(config)
        mutateDoc(basinsKey, BasinsFile()) { st =>
          st.basins.find(b => b.name == name && b.deletedAt.isEmpty) match {
            case Some(e) if e.config == enc => (None, Right(EnsureOutcome.Noop))
            case Some(e) =>
              (Some(st.copy(basins = st.basins.map(x =>
                if (x eq e) x.copy(config = enc) else x))),
                Right(EnsureOutcome.Updated))
            case None =>
              (Some(st.copy(basins = st.basins :+ BasinEntry(name, enc, now()))),
                Right(EnsureOutcome.Created))
          }
        }
      }
    }

  /** Basin-level C4: PATCH a live basin's config — the reference's
    * reconfigure_basin (lite/src/handlers/v1/basins.rs:264-274,
    * backend basins.rs:161-180); this is how create_stream_on_append
    * gets flipped without delete+recreate. Already-created streams are
    * unaffected; new defaults apply to later (auto-)creates.
    */
  def reconfigureBasin(name: String,
                       patch: BasinConfigPatch): Either[String, BasinConfig] =
    lock.synchronized {
      mutateDoc(basinsKey, BasinsFile()) { st =>
        st.basins.find(b => b.name == name && b.deletedAt.isEmpty) match {
          case None => (None, Left("BasinNotFound"))
          case Some(e) =>
            val updated = patch.applyTo(ConfigCodec.decodeBasin(e.config))
            (Some(st.copy(basins = st.basins.map(x =>
              if (x eq e) x.copy(config = ConfigCodec.encodeBasin(updated)) else x))),
              Right(updated))
        }
      }
    }

  // ---- streams ----

  /** C2: CreateOnly with idempotent retry on same token+config. */
  def createStream(basin: String, name: String,
                   config: StreamConfig = StreamConfig(),
                   requestToken: Option[String] = None): Either[String, StreamEntry] =
    basinLock(basin).synchronized {
      if (!Caps.validStreamName(name)) Left(s"invalid stream name: $name")
      else if (getBasin(basin).isEmpty) Left("BasinNotFound")
      else {
        val docKey = shardKey(basin, Catalog.shardOf(name))
        val enc = ConfigCodec.encode(config)
        val key = requestToken.map(idemKey(_, enc))
        mutateDoc(docKey, StreamShard()) { sh =>
          sh.streams.find(s => s.name == name && s.deletedAt.isEmpty) match {
            case Some(existing) if key.isDefined && existing.idempotencyKey == key =>
              (None, Right(existing))
            case Some(_) => (None, Left("StreamAlreadyExists"))
            case None =>
              val e = StreamEntry(basin, name, enc, now(), None, key)
              (Some(sh.copy(streams = sh.streams :+ e)), Right(e))
          }
        }
      }
    }

  /** Bulk create: at most one load + one save PER TOUCHED SHARD for N
    * streams (used by ingest auto-provisioning — per-stream
    * createStream would pay a shard rewrite N times). Existing live
    * streams are left untouched; invalid names are reported, valid
    * ones still commit.
    */
  def createStreams(basin: String, names: Seq[String],
                    config: StreamConfig = StreamConfig()): Either[String, Int] =
    basinLock(basin).synchronized {
      if (getBasin(basin).isEmpty) Left("BasinNotFound")
      else {
        val (valid0, invalid) = names.distinct.partition(Caps.validStreamName)
        val enc = ConfigCodec.encode(config)
        val t = now()
        var created = 0
        valid0.groupBy(Catalog.shardOf).foreach { case (shardNo, group) =>
          val docKey = shardKey(basin, shardNo)
          created += mutateDoc(docKey, StreamShard()) { sh =>
            val existing = sh.streams.iterator
              .filter(_.deletedAt.isEmpty).map(_.name).toSet
            val fresh = group.filterNot(existing)
            if (fresh.nonEmpty)
              (Some(sh.copy(streams = sh.streams ++
                fresh.map(n => StreamEntry(basin, n, enc, t)))), fresh.size)
            else (None, 0)
          }
        }
        if (invalid.nonEmpty) Left(s"invalid stream names: ${invalid.mkString(",")}")
        else Right(created)
      }
    }

  /** C3: create-or-update to the given config (PUT semantics). */
  def ensureStream(basin: String, name: String,
                   config: StreamConfig): Either[String, EnsureOutcome] =
    basinLock(basin).synchronized {
      if (getBasin(basin).isEmpty) Left("BasinNotFound")
      else {
        val docKey = shardKey(basin, Catalog.shardOf(name))
        val enc = ConfigCodec.encode(config)
        mutateDoc(docKey, StreamShard()) { sh =>
          sh.streams.find(s => s.name == name && s.deletedAt.isEmpty) match {
            case Some(e) if e.config == enc => (None, Right(EnsureOutcome.Noop))
            case Some(e) =>
              (Some(sh.copy(streams = sh.streams.map(x =>
                if (x eq e) x.copy(config = enc) else x))),
                Right(EnsureOutcome.Updated))
            case None =>
              (Some(sh.copy(streams = sh.streams :+
                StreamEntry(basin, name, enc, now()))),
                Right(EnsureOutcome.Created))
          }
        }
      }
    }

  /** C4: PATCH-style reconfigure via tri-state patch. */
  def reconfigureStream(basin: String, name: String,
                        patch: StreamConfigPatch): Either[String, StreamConfig] =
    basinLock(basin).synchronized {
      val docKey = shardKey(basin, Catalog.shardOf(name))
      mutateDoc(docKey, StreamShard()) { sh =>
        sh.streams.find(s => s.name == name && s.deletedAt.isEmpty) match {
          case None => (None, Left("StreamNotFound"))
          case Some(e) =>
            val updated = patch.applyTo(ConfigCodec.decode(e.config))
            (Some(sh.copy(streams = sh.streams.map(x =>
              if (x eq e) x.copy(config = ConfigCodec.encode(updated)) else x))),
              Right(updated))
        }
      }
    }

  /** C5: merged config (stream over basin defaults over system). */
  def streamConfig(basin: String, name: String): Option[StreamConfig] =
    getStream(basin, name)
      .map(e => ConfigCodec.decode(e.config)
        .mergedOver(basinConfig(basin).defaultStreamConfig)
        .mergedOver(StreamConfig.SystemDefault))

  def getStream(basin: String, name: String): Option[StreamEntry] =
    shard(basin, Catalog.shardOf(name)).streams
      .find(s => s.name == name && s.deletedAt.isEmpty)

  /** Bulk planning read: every LIVE stream's raw (unmerged) config in
    * one shard sweep — 64 cached/conditional-GET shard loads instead
    * of one point lookup per stream. The 10k-stream bulk-ingest
    * planning was paying 2 x 10k metadata round trips over an HTTP
    * endpoint for exactly this information (existence check + ts
    * config); merge over basin defaults caller-side like
    * [[streamConfig]] does. */
  def liveStreamConfigs(basin: String): Map[String, StreamConfig] =
    basinStreams(basin).filter(_.deletedAt.isEmpty)
      .map(e => e.name -> ConfigCodec.decode(e.config)).toMap

  /** C1: prefix + exclusive start_after + limit (≤1000), has_more.
    * Ref streams.rs:34-77, resources.rs:27-46.
    */
  def listStreams(basin: String, prefix: String = "",
                  startAfter: String = "", limit: Int = Caps.MaxListItems,
                  includeDeleted: Boolean = false): Page[StreamEntry] = {
    val n = math.min(limit, Caps.MaxListItems)
    // Bounded selection, not a full sort: keep the n+1 smallest
    // matching names in a size-capped max-heap while streaming the
    // (cached) shards. A page over a 100k-stream basin costs
    // O(streams * log page) with no page-sized^2 blowup across a full
    // pagination — and the shards themselves are parse-cached, so
    // page N is heap work over in-memory entries, not 64 re-parses
    // (CatalogShardSpec pins that with Catalog.parseTally).
    val heap = new java.util.PriorityQueue[StreamEntry](
      n + 1, Ordering.by[StreamEntry, String](_.name).reverse)
    basinStreams(basin).foreach { st =>
      if (st.name.startsWith(prefix) && st.name > startAfter &&
          (includeDeleted || st.deletedAt.isEmpty)) {
        if (heap.size < n + 1) heap.add(st)
        else if (st.name < heap.peek().name) { heap.poll(); heap.add(st) }
      }
    }
    val hasMore = heap.size > n
    if (hasMore) heap.poll() // drop the (n+1)-th sentinel
    val buf = new Array[StreamEntry](heap.size)
    var i = heap.size - 1
    while (i >= 0) { buf(i) = heap.poll(); i -= 1 } // max-heap drains descending
    Page(scala.collection.immutable.ArraySeq.unsafeWrapArray(buf), hasMore)
  }

  def listBasins(prefix: String = "", startAfter: String = "",
                 limit: Int = Caps.MaxListItems): Page[BasinEntry] = {
    val n = math.min(limit, Caps.MaxListItems)
    val all = basinsFile().basins
      .filter(b => b.name.startsWith(prefix) && b.name > startAfter &&
        b.deletedAt.isEmpty)
      .sortBy(_.name)
    Page(all.take(n), all.size > n)
  }

  // ---- locations (C8) ----
  //
  // The reference's surface is list/get-default/set-default over
  // account-level location rows (lite/src/handlers/v1/locations.rs:1-74;
  // types api/src/v1/location.rs). Lite itself stubs the handlers, so
  // the registry here is the minimal honest analog: locations are
  // config rows in the catalog, registered explicitly (the cloud
  // product provisions them account-level) and validated with the
  // reference's name rules (common/src/location.rs:8-45).

  private val locationsKey =
    java.nio.file.Paths.get(canonRoot, "_catalog", "locations.json").toString

  private def locationsFile(): LocationsFile =
    load(locationsKey, LocationsFile())

  def listLocations(): Seq[LocationInfo] =
    locationsFile().locations.sortBy(_.name)

  /** Register a location (idempotent on same name+privacy). */
  def registerLocation(name: String,
                       isPrivate: Boolean = false): Either[String, LocationInfo] =
    lock.synchronized {
      if (!Caps.validLocationName(name)) Left(s"invalid location name: $name")
      else {
        mutateDoc(locationsKey, LocationsFile()) { st =>
          st.locations.find(_.name == name) match {
            case Some(l) if l.isPrivate == isPrivate => (None, Right(l))
            case Some(_) => (None, Left("LocationAlreadyExists"))
            case None =>
              val l = LocationInfo(name, isPrivate)
              (Some(st.copy(locations = st.locations :+ l)), Right(l))
          }
        }
      }
    }

  /** GET the default location; None until one is set. */
  def defaultLocation(): Option[LocationInfo] = {
    val st = locationsFile()
    st.default.flatMap(d => st.locations.find(_.name == d))
  }

  /** PUT the default location; must name a registered location. */
  def setDefaultLocation(name: String): Either[String, LocationInfo] =
    lock.synchronized {
      if (!Caps.validLocationName(name)) Left(s"invalid location name: $name")
      else {
        mutateDoc(locationsKey, LocationsFile()) { st =>
          st.locations.find(_.name == name) match {
            case None => (None, Left("LocationNotFound"))
            case Some(l) =>
              (Some(st.copy(default = Some(name))), Right(l))
          }
        }
      }
    }

  // ---- access tokens (C7 registry) ----
  //
  // The reference's serving surface is list/issue/revoke
  // (lite/src/handlers/v1/access_tokens.rs paths; lite stubs the
  // handlers — the cloud implements them). The registry persists
  // TokenEntry rows in one catalog file with the same mutateDoc
  // discipline as locations; authorization itself is the pure
  // model predicate (model/Access.scala), evaluated by callers.

  private val tokensKey =
    java.nio.file.Paths.get(canonRoot, "_catalog", "access_tokens.json").toString

  private def tokensFile(): TokensFile = load(tokensKey, TokensFile())

  /** Issue: unique id (1-96 bytes, caps.rs MAX_ACCESS_TOKEN_ID_LEN);
    * auto_prefix_streams requires a prefix stream scope (api
    * access.rs:355-357 "which must be a prefix"). */
  def issueToken(t: graft.model.AccessToken): Either[String, TokenEntry] =
    lock.synchronized {
      if (!Caps.validAccessTokenId(t.id)) Left(s"invalid token id: ${t.id}")
      else if (t.autoPrefixStreams && !t.scope.streams.isInstanceOf[
        graft.model.ResourceSet.Prefix])
        Left("auto_prefix_streams requires a prefix stream scope")
      else mutateDoc(tokensKey, TokensFile()) { st =>
        st.tokens.find(_.id == t.id) match {
          case Some(_) => (None, Left("AccessTokenExists"))
          case None =>
            val e = TokenEntry.from(t, now())
            (Some(st.copy(tokens = st.tokens :+ e)), Right(e))
        }
      }
    }

  def getToken(id: String): Option[graft.model.AccessToken] =
    getTokenEntry(id).map(_.toToken)

  def getTokenEntry(id: String): Option[TokenEntry] =
    tokensFile().tokens.find(_.id == id)

  /** List with the standard prefix/start_after/limit page contract. */
  def listTokens(prefix: String = "", startAfter: String = "",
                 limit: Int = Caps.MaxListItems): Page[TokenEntry] = {
    val n = math.min(limit, Caps.MaxListItems)
    val all = tokensFile().tokens
      .filter(t => t.id.startsWith(prefix) && t.id > startAfter)
      .sortBy(_.id)
    Page(all.take(n), all.size > n)
  }

  /** Revoke: true when the token existed. */
  def revokeToken(id: String): Boolean = lock.synchronized {
    mutateDoc(tokensKey, TokensFile()) { st =>
      if (st.tokens.exists(_.id == id))
        (Some(st.copy(tokens = st.tokens.filterNot(_.id == id))), true)
      else (None, false)
    }
  }

  /** T4 part 1: soft delete (deleted_at set; physical reclaim is the
    * trim executor's job).
    */
  def markStreamDeleted(basin: String, name: String): Unit =
    basinLock(basin).synchronized {
      val docKey = shardKey(basin, Catalog.shardOf(name))
      mutateDoc(docKey, StreamShard()) { sh =>
        (Some(sh.copy(streams = sh.streams.map(s =>
          if (s.name == name && s.deletedAt.isEmpty)
            s.copy(deletedAt = Some(now())) else s))), ())
      }
    }

  /** Takes BOTH the basin-list lock and the basin's stream lock (in
    * that order — stream ops never take `lock`, so no cycle): a
    * createStream/ensureStream that already passed its liveness check
    * under basinLock finishes committing before the deletion lands,
    * and any later stream op observes deletedAt. Without the basin
    * lock, a stream could be committed into a just-deleted basin.
    */
  def markBasinDeleted(name: String): Unit = lock.synchronized {
    basinLock(name).synchronized {
      mutateDoc(basinsKey, BasinsFile()) { st =>
        (Some(st.copy(basins = st.basins.map(b =>
          if (b.name == name && b.deletedAt.isEmpty) b.copy(deletedAt = Some(now()))
          else b))), ())
      }
    }
  }

  def hardDeleteStream(basin: String, name: String): Unit =
    basinLock(basin).synchronized {
      val docKey = shardKey(basin, Catalog.shardOf(name))
      mutateDoc(docKey, StreamShard()) { sh =>
        (Some(sh.copy(streams = sh.streams.filterNot(_.name == name))), ())
      }
    }
}
