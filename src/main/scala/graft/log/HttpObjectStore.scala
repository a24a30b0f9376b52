package graft.log

import java.net.{InetSocketAddress, URI, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A REAL-endpoint object store: a minimal localhost HTTP object
  * server plus a [[StorageBackend]] client that speaks to it — the
  * deployment-shaped sibling of the in-memory [[ObjectStoreBackend]]
  * simulation, mirroring the reference's HTTP object-store harness
  * (sim exposes its S3 over a socket so foreign processes hit real
  * request boundaries; here the JDK HttpServer plays that role with
  * zero added dependencies).
  *
  * The API is the S3 subset the commit protocol relies on:
  *
  *  - `PUT /meta/{key}` with `If-Match: etag` / `If-None-Match: *` /
  *    no precondition — conditional or unconditional metadata put;
  *    200 + `ETag` header, or 412 on precondition failure. The CAS
  *    decision is made ATOMICALLY inside the server's per-key
  *    compute, so N client PROCESSES get real read-modify-write
  *    safety — the property the single-JVM simulation could only
  *    assert in-process.
  *  - `GET /meta/{key}` → 200 body + ETag | 404;
  *    `DELETE /meta/{key}` → 204 (idempotent).
  *  - `PUT /data/{key}` raw bytes → the server materializes the
  *    object at its key path via temp + atomic rename and only then
  *    indexes it, so a lister NEVER observes a partial object (the
  *    atomic-whole-object-PUT contract; readers — Spark scans,
  *    parquet footers — then read the materialized local path exactly
  *    as they would read `s3a://` in production).
  *  - `GET /list?prefix=..&mode=data|subdirs|exists` — strongly
  *    consistent listing over the server's live index.
  *  - `GET /time?path=..` / `POST /touch?path=..&ms=..` — grace
  *    clocks (the one extension beyond S3's surface: the reference
  *    tracks last-modified server-side the same way, sim/src/s3.rs:69-71).
  *
  * Keys are canonical absolute paths (the backend registry's root
  * canonicalization), so one server instance serves any number of
  * roots ("buckets") at once.
  */
object HttpObjectServer {

  /** `nonce` = the `X-Put-Nonce` of the PUT that wrote this version —
    * the per-write witness a client whose response was LOST uses to
    * decide whether the surviving write is its own (the load-bearing
    * user-metadata discipline slatedb runs on real S3: a retried
    * writer re-reads its put-id after a timeout, sim/src/s3.rs:57-62).
    */
  private final case class Obj(json: String, etag: String, putAtMs: Long,
                               nonce: String = "")

  /** Start a server on an ephemeral localhost port; returns it and the
    * endpoint URI string. `nonceHistoryCap` bounds the per-key applied-
    * nonce history (tests shrink it to exercise the `unknown` path). */
  def start(nonceHistoryCap: Int = 128,
            tls: Option[Tls.Server] = None): (HttpServer, String) = {
    // TCP_NODELAY on the server's sockets: without it, small
    // keep-alive request/response pairs hit the classic Nagle +
    // delayed-ACK interaction — ~40 ms stalls per round trip
    // (measured: check_tail p99 46 ms, and a 2k-stream ingest's
    // serial planning reads stretched to minutes). The property is
    // read once by the JDK server implementation at socket accept.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val meta = new ConcurrentHashMap[String, Obj]()
    val data = new ConcurrentHashMap[String, java.lang.Long]()
    val prefixClock = new ConcurrentHashMap[String, java.lang.Long]()

    def etagOf(json: String): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(json.getBytes(UTF_8)).take(16).map(b => f"${b & 0xff}%02x").mkString
    }
    def keyOf(ex: HttpExchange, root: String): String =
      URLDecoder.decode(ex.getRequestURI.getRawPath.stripPrefix(root), "UTF-8")
    def query(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
        .filter(_.contains('=')).map { kv =>
          val i = kv.indexOf('=')
          kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), "UTF-8")
        }.toMap
    def respond(ex: HttpExchange, code: Int, body: Array[Byte] = Array.emptyByteArray,
                headers: Map[String, String] = Map.empty): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }
    // The JDK HttpServer swallows handler exceptions and leaves the
    // exchange unanswered — a missing query param would hang the
    // calling commit thread until its read timeout. Answer 500 loudly
    // instead (best-effort: headers may already be out).
    def safely(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
      (ex: HttpExchange) => try f(ex) catch {
        case t: Throwable =>
          try respond(ex, 500,
            s"${t.getClass.getSimpleName}: ${t.getMessage}".getBytes(UTF_8))
          catch { case _: Throwable => ex.close() }
      }

    val server = tls match {
      case Some(t) =>
        val s = com.sun.net.httpserver.HttpsServer.create(
          new InetSocketAddress("127.0.0.1", 0), 0)
        s.setHttpsConfigurator(
          new com.sun.net.httpserver.HttpsConfigurator(t.context))
        s
      case None =>
        HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    }

    // Per-key history of APPLIED put nonces (bounded), the decidable
    // form of slatedb's put-id re-read (a versioned S3 bucket exposes
    // the same information via ListObjectVersions): a client whose
    // conditional PUT lost its response asks `X-Probe-Nonce: n` on a
    // GET and learns, authoritatively, whether that write applied —
    // `X-Nonce-Applied: 1` (in history), `0` (provably never applied),
    // or `unknown` (history truncated past the cap; the client must
    // fall back to IndeterminateCommit). Every applied PUT is recorded
    // so the truncation accounting stays honest.
    val nonceHist = new ConcurrentHashMap[String, java.util.ArrayDeque[String]]()
    val histTruncated = ConcurrentHashMap.newKeySet[String]()
    def recordNonce(key: String, nonce: String): Unit = {
      val dq = nonceHist.computeIfAbsent(key, _ => new java.util.ArrayDeque[String]())
      dq.synchronized {
        dq.addLast(nonce)
        if (dq.size > nonceHistoryCap) { dq.removeFirst(); histTruncated.add(key) }
      }
    }
    def nonceApplied(key: String, nonce: String): String = {
      val dq = nonceHist.get(key)
      val present = dq != null && dq.synchronized(dq.contains(nonce))
      if (present) "1"
      else if (histTruncated.contains(key)) "unknown"
      else "0"
    }

    server.createContext("/meta/", safely { ex =>
      val key = keyOf(ex, "/meta")
      ex.getRequestMethod match {
        case "GET" =>
          val probe = Option(ex.getRequestHeaders.getFirst("X-Probe-Nonce"))
          val probeHs = probe.map(n =>
            Map("X-Nonce-Applied" -> nonceApplied(key, n))).getOrElse(Map.empty)
          meta.get(key) match {
            case null => respond(ex, 404, Array.emptyByteArray, probeHs)
            case o =>
              // conditional GET: a revalidation hit skips the body
              // (and the client's re-parse) without weakening
              // consistency — the decision is the server's
              val hs = Map("ETag" -> o.etag, "X-Put-Nonce" -> o.nonce) ++ probeHs
              val inm = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
              if (inm.contains(o.etag))
                respond(ex, 304, Array.emptyByteArray, hs)
              else
                respond(ex, 200, o.json.getBytes(UTF_8), hs)
          }
        case "DELETE" =>
          meta.remove(key); respond(ex, 204)
        case "PUT" =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val ifMatch = Option(ex.getRequestHeaders.getFirst("If-Match"))
          val ifNoneMatch = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
          val nonce = Option(ex.getRequestHeaders.getFirst("X-Put-Nonce")).getOrElse("")
          val next = Obj(body, etagOf(body), System.currentTimeMillis(), nonce)
          // the CAS decision and the write are one atomic per-key step
          var ok = true
          meta.compute(key, (_, cur) => (ifMatch, ifNoneMatch) match {
            case (Some(tag), _) => // If-Match
              if (cur != null && cur.etag == tag) next else { ok = false; cur }
            case (None, Some("*")) => // If-None-Match: * (create)
              if (cur == null) next else { ok = false; cur }
            case _ => next // unconditional
          })
          if (ok) {
            recordNonce(key, nonce)
            respond(ex, 200, Array.emptyByteArray, Map("ETag" -> next.etag))
          }
          else respond(ex, 412)
        case _ => respond(ex, 405)
      }
    })

    server.createContext("/data/", safely { ex =>
      val key = keyOf(ex, "/data")
      ex.getRequestMethod match {
        case "PUT" =>
          val p = Paths.get(key)
          Files.createDirectories(p.getParent)
          val tmp = Files.createTempFile(p.getParent, ".put", ".tmp")
          val in = ex.getRequestBody
          Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          data.put(key, System.currentTimeMillis())
          respond(ex, 200)
        case "DELETE" =>
          data.remove(key)
          Files.deleteIfExists(Paths.get(key))
          respond(ex, 204)
        case _ => respond(ex, 405)
      }
    })

    server.createContext("/list", safely { ex =>
      val q = query(ex)
      val prefix = q("prefix").stripSuffix("/") + "/"
      val out = q.getOrElse("mode", "data") match {
        case "data" =>
          data.keySet.asScala.toSeq
            .filter(k => k.startsWith(prefix) && k.endsWith(".parquet") &&
              !k.substring(prefix.length).contains('/')).sorted
        case "subdirs" =>
          data.keySet.asScala.toSeq.filter(_.startsWith(prefix))
            .map(_.substring(prefix.length)).filter(_.contains('/'))
            .map(rest => rest.substring(0, rest.indexOf('/'))).distinct.sorted
        case "exists" =>
          if (data.keySet.asScala.exists(_.startsWith(prefix))) Seq("1") else Nil
      }
      respond(ex, 200, out.mkString("\n").getBytes(UTF_8))
    })

    server.createContext("/prefix", safely { ex => // DELETE /prefix?prefix=..
      val q = query(ex)
      val dir = q("prefix").stripSuffix("/")
      val prefix = dir + "/"
      data.keySet.asScala.filter(_.startsWith(prefix)).foreach { k =>
        data.remove(k)
        Files.deleteIfExists(Paths.get(k))
      }
      prefixClock.keySet.asScala.filter(p => p == dir || p.startsWith(prefix))
        .foreach(prefixClock.remove)
      val d = Paths.get(dir)
      if (Files.exists(d))
        try Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: java.io.IOException => () }
      respond(ex, 204)
    })

    server.createContext("/time", safely { ex =>
      val k = query(ex)("path").stripSuffix("/")
      val t = Option(prefixClock.get(k)).map(_.longValue())
        .orElse(Option(data.get(k)).map(_.longValue()))
        .orElse {
          val prefix = k + "/"
          val ts = data.asScala.collect {
            case (key, t0) if key.startsWith(prefix) => t0.longValue()
          }
          if (ts.isEmpty) None else Some(ts.max)
        }
      t match {
        case Some(ms) => respond(ex, 200, ms.toString.getBytes(UTF_8))
        case None => respond(ex, 404)
      }
    })

    server.createContext("/touch", safely { ex =>
      val q = query(ex)
      prefixClock.put(q("path").stripSuffix("/"), java.lang.Long.valueOf(q("ms").toLong))
      respond(ex, 204)
    })

    // a small pool: the commit protocol issues short blocking calls
    // from many driver threads (the 10k-stream ingest commits on a
    // 32-thread pool). DAEMON threads: HttpServer.stop() does not
    // shut the executor down, and a non-daemon pool would pin the
    // JVM open after the last demo/test finishes (observed: Verify
    // hanging at exit after e2e_http_object).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(32,
      r => { val t = new Thread(r, "http-object-server"); t.setDaemon(true); t }))
    server.start()
    val scheme = if (tls.isDefined) "https" else "http"
    (server, s"$scheme://127.0.0.1:${server.getAddress.getPort}")
  }
}

/** [[StorageBackend]] client over [[HttpObjectServer]]'s API: every
  * protocol decision — conditional put, listing, grace clocks — is a
  * real HTTP round trip to the authoritative server, so N processes
  * sharing one endpoint get exactly the semantics N drivers get from
  * one bucket. Data objects are read back via their materialized key
  * paths (see the server doc).
  *
  * Transport is HttpURLConnection over the JDK's global keep-alive
  * connection cache — measured 0.85 ms/round-trip on localhost where
  * java.net.http's async machinery cost 2.6-7 ms per SYNCHRONOUS
  * small call (the commit path is thousands of serial metadata reads
  * during ingest planning, so per-call latency is the whole game).
  */
final class HttpObjectBackend(endpoint: String,
    /** TLS trust for an https endpoint — [[Tls.clientContext]] with
      * the server's pinned cert PEM. None = plain HTTP or default
      * JDK trust. */
    clientSsl: Option[javax.net.ssl.SSLContext] = None)
    extends StorageBackend {
  val name = "http-object"
  val hasWriterMutex = false

  // the default keep-alive pool caps at 5 connections per host; the
  // ingest commit pool runs up to 48 concurrent protocol calls
  HttpObjectBackend.raiseConnectionCap()

  private def enc(k: String): String =
    URLEncoder.encode(k, "UTF-8").replace("+", "%20").replace("%2F", "/")

  private def norm(p: Path): String = ObjectKeys.norm(p)

  private final case class Rsp(code: Int, body: Array[Byte],
                               etag: String, nonce: String,
                               nonceApplied: String)

  /** Bounded retry for IDEMPOTENT calls (reads, lists, deletes,
    * unconditional/content-identical puts): a real wire drops, resets
    * and delays — each retried exchange is safe to replay verbatim.
    * Conditional puts must NOT ride this blindly; casMeta runs its own
    * lost-response protocol. */
  private val MaxAttempts = 4
  private def retrying[A](what: String)(f: => A): A = {
    var last: java.io.IOException = null
    var attempt = 0
    while (attempt < MaxAttempts) {
      try return f
      catch { case io: java.io.IOException =>
        last = io
        attempt += 1
        if (attempt < MaxAttempts) Thread.sleep(5L * attempt)
      }
    }
    throw last
  }

  /** One HTTP exchange. Streams are fully drained and closed so the
    * connection returns to the JDK keep-alive cache. */
  private def exchange(method: String, url: String,
                       headers: Seq[(String, String)] = Nil,
                       body: Array[Byte] = null,
                       bodyFile: Path = null): Rsp = {
    val c = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    (c, clientSsl) match {
      case (h: javax.net.ssl.HttpsURLConnection, Some(ctx)) =>
        h.setSSLSocketFactory(ctx.getSocketFactory)
      case _ => ()
    }
    c.setRequestMethod(method)
    // bounded waits: a stalled endpoint must surface as an IO error,
    // not hang the 48-thread commit pool indefinitely (reads are
    // generous for large data PUT echoes; localhost p50 is sub-ms)
    c.setConnectTimeout(5000)
    c.setReadTimeout(60000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val os = c.getOutputStream
      try os.write(body) finally os.close()
    } else if (bodyFile != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(Files.size(bodyFile))
      val os = c.getOutputStream
      try Files.copy(bodyFile, os) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    val out =
      if (is == null) Array.emptyByteArray
      else try is.readAllBytes() finally is.close()
    Rsp(code, out, Option(c.getHeaderField("ETag")).getOrElse(""),
      Option(c.getHeaderField("X-Put-Nonce")).getOrElse(""),
      Option(c.getHeaderField("X-Nonce-Applied")).getOrElse(""))
  }

  private def metaUrl(key: String): String = s"$endpoint/meta${enc(key)}"

  /** Client-side revalidation cache for meta reads: (json, etag) per
    * key, served only on a server-confirmed 304 — every read still
    * makes the round trip, so consistency is exactly the server's
    * (check_tail at 10k streams re-reads one manifest forever; the
    * cache spares the body transfer and the caller's re-parse).
    * Bounded by a wholesale clear past 64k keys — a refill costs one
    * 200 per key, never a wrong answer. */
  private val metaCache = new ConcurrentHashMap[String, (String, String)]()

  def getMeta(key: String, fresh: Boolean): Option[(String, String)] = retrying("getMeta") {
    val k = norm(Paths.get(key))
    val cached = metaCache.get(k)
    val hdr = cached match {
      case null => Nil
      case (_, tag) => Seq("If-None-Match" -> tag)
    }
    val r = exchange("GET", metaUrl(k), hdr)
    // ONLY 404 means absent — mapping an unexpected 5xx to None would
    // serve a live stream as fresh/tail-0 to read paths
    if (r.code == 200) {
      val v = (new String(r.body, UTF_8), r.etag)
      if (metaCache.size > 65536) metaCache.clear()
      metaCache.put(k, v)
      Some(v)
    } else if (r.code == 304) Some(cached)
    else if (r.code == 404) { metaCache.remove(k); None }
    else throw new java.io.IOException(
      s"getMeta $key -> HTTP ${r.code}: ${new String(r.body, UTF_8).take(160)}")
  }

  /** Conditional put with the LOST-RESPONSE protocol a real wire
    * demands (the reference's storage layer runs the same discipline
    * on S3 — slatedb stamps each write with a put-id and re-reads
    * after a timeout to learn whether the winning write is its own,
    * sim/src/s3.rs:57-62):
    *
    *  - every attempt carries a fresh `X-Put-Nonce`, stored by the
    *    server as the version's writer witness;
    *  - a timed-out/reset PUT probes the authoritative state: nonce
    *    ours -> the write APPLIED (success); precondition still holds
    *    -> it did NOT apply (safe to replay the conditional put);
    *  - a 412 after a lost response probes the same way before being
    *    believed — the classic S3 retry-after-timeout double-PUT would
    *    otherwise read our own committed write as a foreign winner;
    *  - a foreign write observed during the outage makes the outcome
    *    undecidable from here: [[IndeterminateCommit]], and the caller
    *    must not roll back side effects a landed commit references.
    */
  def casMeta(key: String, json: String, ifMatch: Option[String]): Either[String, String] = {
    val k = norm(Paths.get(key))
    val nonce = java.util.UUID.randomUUID().toString
    val hdr = (ifMatch match {
      case Some(tag) => Seq("If-Match" -> tag)
      case None => Seq("If-None-Match" -> "*")
    }) :+ ("X-Put-Nonce" -> nonce)
    val payload = json.getBytes(UTF_8)
    // Authoritative probe with the nonce question attached:
    // Some(true) = our PUT applied (even if since overwritten),
    // Some(false) = provably never applied, None = history truncated
    // (undecidable). `cur` = the current object, None when absent.
    def probeVerdict(): (Option[Boolean], Option[Rsp]) = retrying("casMeta probe") {
      val r = exchange("GET", metaUrl(k), Seq("X-Probe-Nonce" -> nonce))
      if (r.code != 200 && r.code != 404)
        throw new java.io.IOException(s"casMeta probe $key -> HTTP ${r.code}")
      val applied = r.nonceApplied match {
        case "1" => Some(true)
        case "0" => Some(false)
        // a server without nonce history: the CURRENT version's nonce
        // still decides the common single-writer case
        case _ => if (r.code == 200 && r.nonce == nonce) Some(true) else None
      }
      (applied, if (r.code == 200) Some(r) else None)
    }
    def accept(cur: Option[Rsp]): Either[String, String] = {
      // our write applied. Cache the CURRENT state (which may be a
      // foreign successor, not our json — caching ours against the
      // current etag would poison later 304 revalidations).
      cur.foreach(c => metaCache.put(k, (new String(c.body, UTF_8), c.etag)))
      Right(cur.map(_.etag).getOrElse(""))
    }
    var attempt = 0
    while (true) {
      val sent =
        try Some(exchange("PUT", metaUrl(k), hdr, body = payload))
        catch { case _: java.io.IOException => None }
      sent match {
        case Some(r) if r.code == 200 =>
          metaCache.put(k, (json, r.etag)); return Right(r.etag)
        case Some(r) if r.code == 412 =>
          // ONLY 412 is a CAS conflict — but the answering response
          // can be a network-level DUPLICATE of our own applied PUT
          // (the S3 retry double-PUT); the applied-nonce probe decides
          probeVerdict() match {
            case (Some(true), cur) => return accept(cur)
            case (Some(false), _) =>
              return Left(s"precondition failed for $key (HTTP 412)")
            case (None, _) =>
              throw new IndeterminateCommit(
                s"casMeta $key: 412 with truncated nonce history — cannot " +
                  "decide whether an earlier duplicate of our put applied")
          }
        case Some(r) =>
          // a RESPONDED non-2xx/412 (server 5xx before applying):
          // definite failure — treating it as a conflict would spin
          // Catalog.mutateDoc rebase loops forever; throw instead
          throw new java.io.IOException(
            s"casMeta $key -> HTTP ${r.code}: ${new String(r.body, UTF_8).take(160)}")
        case None =>
          // response lost: applied or not?
          probeVerdict() match {
            case (Some(true), cur) => return accept(cur)
            case (verdict, cur) =>
              val preconditionHolds = (cur, ifMatch) match {
                case (Some(c), Some(tag)) => c.etag == tag // unchanged
                case (None, None) => true // still absent
                case _ => false
              }
              if (verdict == Some(false) || preconditionHolds) {
                if (!preconditionHolds)
                  // never applied AND the precondition is gone: a
                  // foreign write definitely won
                  return Left(s"precondition failed for $key (lost race " +
                    "during outage)")
                // provably not applied, base unchanged: replay (bounded)
                attempt += 1
                if (attempt >= MaxAttempts) throw new java.io.IOException(
                  s"casMeta $key: ${MaxAttempts} attempts all lost their response " +
                    "with the base state unchanged")
                Thread.sleep(5L * attempt)
              } else
                // undecidable: history truncated AND the state moved
                throw new IndeterminateCommit(
                  s"casMeta $key: response lost, nonce history truncated and " +
                    "a foreign write landed during the outage — cannot decide " +
                    "whether our conditional put applied; side effects must " +
                    "not be rolled back")
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def putMeta(key: String, json: String): Unit = retrying("putMeta") {
    // unconditional last-writer-wins put: replay-idempotent
    val k = norm(Paths.get(key))
    val r = exchange("PUT", metaUrl(k), body = json.getBytes(UTF_8))
    require(r.code == 200, s"putMeta $key -> HTTP ${r.code}")
    metaCache.put(k, (json, r.etag))
  }

  def deleteMeta(key: String): Unit = retrying("deleteMeta") {
    val k = norm(Paths.get(key))
    exchange("DELETE", metaUrl(k))
    metaCache.remove(k)
    ManifestCache.invalidate(Paths.get(key))
  }

  def withWriterMutex[A](lockKey: Path)(f: => A): A = f // no locks on object stores

  def putData(stagedLocal: Path, dest: Path): Unit = {
    // whole-object put of identical bytes: replay-idempotent (the S3
    // double-PUT after a timeout re-materializes the same object)
    retrying("putData") {
      val r = exchange("PUT", s"$endpoint/data${enc(norm(dest))}",
        bodyFile = stagedLocal)
      require(r.code == 200, s"putData $dest -> HTTP ${r.code}")
    }
    Files.deleteIfExists(stagedLocal)
    ()
  }

  /** Crash-sim seam (BackendHarness): publish raw bytes as an object. */
  private[log] def putDataBytes(dest: Path, bytes: Array[Byte]): Unit =
    retrying("putDataBytes") {
      val r = exchange("PUT", s"$endpoint/data${enc(norm(dest))}",
        body = bytes)
      require(r.code == 200, s"putDataBytes $dest -> HTTP ${r.code}")
    }

  private def list(mode: String, dir: Path): Seq[String] = retrying("list") {
    val r = exchange("GET",
      s"$endpoint/list?mode=$mode&prefix=${URLEncoder.encode(norm(dir), "UTF-8")}")
    require(r.code == 200, s"list $dir -> HTTP ${r.code}")
    val s = new String(r.body, UTF_8)
    if (s.isEmpty) Nil else s.split('\n').toSeq
  }

  def listData(dir: Path): Seq[Path] = list("data", dir).map(Paths.get(_))
  def listSubdirs(dir: Path): Seq[String] = list("subdirs", dir)
  def dataExists(dir: Path): Boolean = list("exists", dir).nonEmpty

  def deleteData(file: Path): Unit = retrying("deleteData") {
    exchange("DELETE", s"$endpoint/data${enc(norm(file))}")
    ()
  }

  def deletePrefix(dir: Path): Unit = retrying("deletePrefix") {
    exchange("DELETE",
      s"$endpoint/prefix?prefix=${URLEncoder.encode(norm(dir), "UTF-8")}")
    ()
  }

  def timeOf(path: Path): Option[Long] = retrying("timeOf") {
    val r = exchange("GET",
      s"$endpoint/time?path=${URLEncoder.encode(norm(path), "UTF-8")}")
    if (r.code == 200) Some(new String(r.body, UTF_8).toLong) else None
  }

  def touch(path: Path, nowMs: Long): Unit = retrying("touch") {
    exchange("POST",
      s"$endpoint/touch?path=${URLEncoder.encode(norm(path), "UTF-8")}&ms=$nowMs")
    ()
  }
}

object HttpObjectBackend {
  /** Raise the JDK keep-alive pool cap once per process (read at
    * first connection use; default 5 per host). */
  private lazy val raiseConnectionCap: () => Unit = {
    if (System.getProperty("http.maxConnections") == null)
      System.setProperty("http.maxConnections", "64")
    () => ()
  }

  /** Register an HTTP-endpoint backend for a root; every StreamStore /
    * Catalog constructed over the root in THIS process then routes all
    * protocol IO through the endpoint. Run from N processes against
    * one endpoint = N drivers on one bucket, for real. */
  def install(root: String, endpoint: String,
              clientSsl: Option[javax.net.ssl.SSLContext] = None)
      : HttpObjectBackend = {
    val b = new HttpObjectBackend(endpoint, clientSsl)
    StorageBackend.register(root, b)
    b
  }
}

/** Shared key canonicalization for object-semantics adapters — must
  * match the registry's root canonicalization (Catalog.canonicalRoot)
  * or symlink-aliased roots would generate disjoint key spaces (see
  * ObjectStoreBackend.norm's doc).
  */
private[log] object ObjectKeys {
  def norm(p: Path): String = {
    val abs = p.toAbsolutePath
    try abs.toRealPath().toString
    catch {
      case _: java.io.IOException =>
        val n = abs.normalize
        var existing = n.getParent
        while (existing != null && !Files.exists(existing))
          existing = existing.getParent
        if (existing == null) n.toString
        else {
          val real = existing.toRealPath()
          real.resolve(existing.relativize(n)).toString
        }
    }
  }
}
