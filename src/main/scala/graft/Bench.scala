package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.log.StreamStore
import graft.model._

/** Per-round benchmark on `local[SPARK_GRAFT_CPUS]` (`"cpus"` in the
  * artifact). Reports:
  * - per-query median-of-3 wall seconds over SPARK_GRAFT_SF_DIR (after
  *   an unbilled warm-up so JVM/session startup is not billed to the
  *   first query), each pass one [[Measure.run]]: the full result
  *   written to the noop sink (`"action":"noop"`), with the median
  *   pass's process CPU, GC and Spark counters (`queries_counters`:
  *   jobs, stages, tasks, executor CPU, shuffle and spill bytes, output
  *   rows). The walls are raw: a wall compares only with a run on the
  *   same host class, and the counters, which do not follow the host,
  *   are what CounterGateSpec gates;
  * - run-level evidence: JVM GC seconds, peak heap and fsync p50
  *   samples at every fs-heavy phase boundary;
  * - control-plane phases the store benchmark (`perfbench/`) does not
  *   cover: 10k and 50k streams on one basin, the same over an HTTP
  *   object endpoint, and the v1 records API. Bulk ingest, ordered
  *   catch-up and append-ack latency are perfbench's `small` and
  *   `events` workloads.
  *
  * Output: the full JSON line (also persisted to BENCH_local.json),
  * then a compact map-free summary as the FINAL stdout line — the
  * driver's artifact keeps only a ~2000-char stdout tail, which the
  * summary always fits inside as one complete JSON object.
  */
object Bench {

  private def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))

  /** Peak heap usage (MiB) across all heap memory pools since start
    * (the JVM tracks pool peaks natively — no sampling thread). */
  private[graft] def heapPeakMb(): Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024 * 1024)

  /** Median fsync latency (ms) of 20 4-KiB write+fsync cycles. The
    * fs-heavy rows (cp10k ingest, a8 serial) are fsync-bound: a
    * shared-host IO aftershock that multiplies fsync 20x multiplies
    * them too (observed r18: fsync p50 0.5 ms -> 11 ms moved cp10k
    * ingest 12 s -> 88 s). Recording it makes the artifact
    * disk-adjudicable, same rationale as gc_sec.
    *
    * `dir` places the probe file on the SAME filesystem the bench
    * stores fsync to (r18 ADVICE: java.io.tmpdir can be a different
    * fs — often tmpfs — than the store root, in which case the probe
    * reads quiet while the data disk is saturated). null = tmpdir
    * (the standalone-tool form). */
  private[graft] def fsyncP50Ms(dir: java.nio.file.Path = null): Double = {
    val f =
      if (dir == null) java.nio.file.Files.createTempFile("graft-fsyncprobe", ".bin")
      else java.nio.file.Files.createTempFile(dir, "graft-fsyncprobe", ".bin")
    val buf = java.nio.ByteBuffer.allocate(4096)
    val lat = (0 until 20).map { _ =>
      buf.rewind()
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try { ch.write(buf); ch.force(true) } finally ch.close()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    java.nio.file.Files.deleteIfExists(f)
    lat(lat.size / 2)
  }

  /** JSON string literal with FULL escaping (backslash, quote, and all
    * control chars < 0x20 — exception messages routinely carry tabs
    * and CRs from plan fragments; one raw control char would make the
    * whole artifact unparseable, the exact failure this file's error
    * capture exists to prevent). Mirrors Verify's q().
    */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // All bench JSON is built with f"" interpolators, which format
    // through the default locale — on a comma-decimal locale (de_DE)
    // the artifact would be invalid JSON. Pin ROOT once for the whole
    // process instead of per call site.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    // One parent directory for every store root this run creates, so
    // the fsync probe below measures the SAME filesystem the fs-heavy
    // phases fsync to (r18 ADVICE: tmpdir may be a different fs).
    // Deleted at the end of the run.
    val benchRoot = java.nio.file.Files.createTempDirectory("graft-bench-root")

    // ---- fsync probe, sampled before the run and at every fs-heavy
    // phase boundary, not just at artifact-write: the r18 driver
    // artifact's end-of-run sample read QUIET because the IO aftershock
    // that collapsed its serving rows had passed by write time. The
    // artifact carries every sample plus the MAX.
    val fsyncSamples = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def sampleFsync(label: String): Double = {
      val v = fsyncP50Ms(benchRoot)
      fsyncSamples(label) = v
      v
    }
    sampleFsync("pre")
    val spark = GraftSession.local(cpus)

    // ---- warm-up (not billed): session, codegen, parquet footers,
    // and the SHARED e2e fixture store — its one-time ingest was
    // otherwise billed to whichever e2e_store_* query ran first
    // (alphabetically e2e_store_read_limits), masking that query's
    // actual cost. Guarded: a warm-up failure (round 10: a testdata
    // schema drift broke every events-backed plan at analysis) must
    // cost its own queries' entries, never the whole artifact.
    def guard(what: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        System.err.println(s"bench warm-up '$what' failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    def warm(name: String): Unit =
      guard(name)(Measure.run(spark, name)(SparkEntry.queries(name)(spark, sfDir)))
    warm("r1_check_tail")
    warm("q1_pricing_summary")
    guard("e2e store fixture")(graft.queries.EngineOps.storeFor(spark, sfDir))
    // First spark.sql through a DSv2 catalog plugin pays one-time
    // session-catalog + parser + plugin-classloading init; round 12's
    // driver run showed e2e_sql_catalog 6.2x its snapshot with a quiet
    // scalar calib — exactly the first-use-init-inside-the-timed-region
    // signature. Pay it here, unbilled, through a throwaway plugin.
    warm("e2e_sql_catalog")

    // ---- query timings ----
    // Median-of-3 wall time per query (with the median pass's
    // process-CPU and GC seconds and Spark counters alongside). One
    // wall sample proved load-fragile (round 6: 2-5x phantom
    // "regressions" a quiet re-run erased); best-of-2 still let one
    // lucky pass hide a contaminated run (round 12: that round's
    // artifact tripped the regression gate on 4 shuffle-heavy
    // queries). The median rejects BOTH a one-off contention spike and
    // a one-off lucky-cache pass, and the CPU seconds ride along
    // because CPU barely moves under external load — BenchRegressionSpec
    // uses that to tell host contention (wall up, cpu flat) from a real
    // algorithmic regression (both up).
    val queryErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val passes = Seq.fill(3)(Measure.run(spark, name)(fn(spark, sfDir)))
        Some(name -> passes.sortBy(_.wallSec)(Ordering.Double.TotalOrdering)(1)) // median wall
      } catch { case e: Throwable =>
        // One bad query costs its entries (named in query_errors),
        // never the artifact — round 10's schema drift produced rc=1
        // and NO numbers at all.
        queryErrors(name) =
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
        None
      }
    }
    sampleFsync("queries")

    // ---- many-streams control plane (VERDICT r12 #7): 10k streams on
    // one basin — bulk create, full 10-page listing, check_tail p99
    // over a 200-stream sample, and one record through EVERY stream in
    // a single bulk ingest (the 10k-manifest commit fan-out). Proves
    // the hot paths stay flat in #streams: create is 64 shard writes,
    // a list page is bounded-heap work over cached shards, check_tail
    // is one cached manifest read, and the ingest commit loop is the
    // 16-way parallelMap. Guarded: a failure here zeroes these keys,
    // never the artifact.
    val controlPlaneJson: String = try {
      val rootCp = java.nio.file.Files.createTempDirectory(benchRoot, "graft-bench10k").toString
      val storeCp = new StreamStore(spark, rootCp)
      storeCp.catalog.createBasin("bench-basin",
        BasinConfig(defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      val nStreams = 10000
      val names = (0 until nStreams).map(i => f"cp-$i%05d")
      val tCreate0 = System.nanoTime()
      storeCp.catalog.createStreams("bench-basin", names)
      val createSec = (System.nanoTime() - tCreate0) / 1e9
      val tList0 = System.nanoTime()
      var after = ""; var listed = 0; var more = true
      while (more) {
        val p = storeCp.catalog.listStreams("bench-basin",
          startAfter = after, limit = 1000)
        listed += p.items.size
        after = p.items.last.name
        more = p.hasMore
      }
      val listSec = (System.nanoTime() - tList0) / 1e9
      // one record through every stream, one bulk ingest job
      val cpDf = spark.range(nStreams).select(
        lit("bench-basin").as("basin"),
        concat(lit("cp-"), format_string("%05d", col("id"))).as("stream"),
        (lit(1700000000000L) + col("id")).as("ts_client"),
        expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
        expr("CAST(md5(CAST(id AS STRING)) AS BINARY)").as("body"),
        col("id").as("arrival"))
      val tIng0 = System.nanoTime()
      storeCp.ingest(cpDf)
      val cpIngestSec = (System.nanoTime() - tIng0) / 1e9
      // check_tail p99 over a deterministic 200-stream sample
      val sample = (0 until 200).map(i => names(i * 50 % nStreams))
      val tails = sample.map { s =>
        val t0 = System.nanoTime()
        val t = storeCp.checkTail("bench-basin", s)
        val ms = (System.nanoTime() - t0) / 1e6
        (ms, t.seqNum)
      }
      require(tails.forall(_._2 == 1L), "10k-stream ingest lost a record")
      val lat = tails.map(_._1).sorted
      f""""cp10k_streams":$listed,"cp10k_create_sec":$createSec%.3f,"cp10k_list_pages_sec":$listSec%.3f,"cp10k_ingest_sec":$cpIngestSec%.3f,"cp10k_checktail_p50_ms":${pct(lat, 0.50)}%.2f,"cp10k_checktail_p99_ms":${pct(lat, 0.99)}%.2f"""
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
      System.err.println(s"bench control-plane phase failed: $msg")
      s""""cp10k_streams":0,"cp10k_error":${jsonStr(msg)}"""
    }
    sampleFsync("cp10k")

    // ---- cp50k (round 19): one step up the control-plane fan-out
    // ceiling — 50k streams, one record each, ONE bulk ingest. The
    // r16 probe put this at ~29 s cold with the per-stream
    // manifest-commit loop dominating linearly; round 19 sharded the
    // `_state` dir (the CAS temp+rename and lock-file creation were
    // convoying on ONE parent directory's kernel mutex) and moved the
    // staged-dir sweep to a background GC worker. The GC drain is
    // measured honestly as its own key (it is real disk work — just
    // not on the ack path), and the next phase's fsync sample would
    // expose it if it bled over.
    val cp50kJson: String = try {
      val root50 = java.nio.file.Files.createTempDirectory(benchRoot, "graft-bench50k").toString
      val store50 = new StreamStore(spark, root50)
      store50.catalog.createBasin("bench-basin",
        BasinConfig(defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      val n50 = 50000
      val names50 = (0 until n50).map(i => f"cq-$i%05d")
      val tC0 = System.nanoTime()
      store50.catalog.createStreams("bench-basin", names50)
      val create50Sec = (System.nanoTime() - tC0) / 1e9
      val df50 = spark.range(n50).select(
        lit("bench-basin").as("basin"),
        concat(lit("cq-"), format_string("%05d", col("id"))).as("stream"),
        (lit(1700000000000L) + col("id")).as("ts_client"),
        expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
        expr("CAST(md5(CAST(id AS STRING)) AS BINARY)").as("body"),
        col("id").as("arrival"))
      val tI0 = System.nanoTime()
      store50.ingest(df50)
      val ingest50Sec = (System.nanoTime() - tI0) / 1e9
      val tG0 = System.nanoTime()
      store50.awaitStageGc()
      val gc50Sec = (System.nanoTime() - tG0) / 1e9
      val sample50 = (0 until 200).map(i => names50(i * 250 % n50))
      val tails50 = sample50.map { s =>
        val t0 = System.nanoTime()
        val t = store50.checkTail("bench-basin", s)
        ((System.nanoTime() - t0) / 1e6, t.seqNum)
      }
      require(tails50.forall(_._2 == 1L), "50k-stream ingest lost a record")
      val lat50 = tails50.map(_._1).sorted
      f""""cp50k_streams":$n50,"cp50k_create_sec":$create50Sec%.3f,"cp50k_ingest_sec":$ingest50Sec%.3f,"cp50k_stage_gc_sec":$gc50Sec%.3f,"cp50k_checktail_p50_ms":${pct(lat50, 0.50)}%.2f,"cp50k_checktail_p99_ms":${pct(lat50, 0.99)}%.2f"""
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
      System.err.println(s"bench cp50k phase failed: $msg")
      s""""cp50k_streams":0,"cp50k_error":${jsonStr(msg)}"""
    }
    sampleFsync("cp50k")

    // ---- control plane over a REAL HTTP endpoint: the same flow at
    // the SAME 10k streams as the POSIX phase above, so the two
    // adapters' numbers are directly comparable. Every create/list/
    // commit/check_tail is an actual HTTP request, conditional puts
    // decided server-side; meta reads revalidate a client cache via
    // If-None-Match/304.
    val httpControlPlaneJson: String = try {
      val (server, endpoint) = graft.log.HttpObjectServer.start()
      try {
        val rootH = java.nio.file.Files.createTempDirectory(benchRoot, "graft-benchhttp").toString
        graft.log.HttpObjectBackend.install(rootH, endpoint)
        val storeH = new StreamStore(spark, rootH)
        storeH.catalog.createBasin("bench-basin",
          BasinConfig(defaultStreamConfig =
            StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
        val nH = 10000
        val namesH = (0 until nH).map(i => f"hp-$i%05d")
        val tC0 = System.nanoTime()
        storeH.catalog.createStreams("bench-basin", namesH)
        val hCreateSec = (System.nanoTime() - tC0) / 1e9
        val tL0 = System.nanoTime()
        var afterH = ""; var listedH = 0; var moreH = true
        while (moreH) {
          val p = storeH.catalog.listStreams("bench-basin",
            startAfter = afterH, limit = 1000)
          listedH += p.items.size
          afterH = p.items.last.name
          moreH = p.hasMore
        }
        val hListSec = (System.nanoTime() - tL0) / 1e9
        val hDf = spark.range(nH).select(
          lit("bench-basin").as("basin"),
          concat(lit("hp-"), format_string("%05d", col("id"))).as("stream"),
          (lit(1700000000000L) + col("id")).as("ts_client"),
          expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
          expr("CAST(md5(CAST(id AS STRING)) AS BINARY)").as("body"),
          col("id").as("arrival"))
        val tI0 = System.nanoTime()
        storeH.ingest(hDf)
        val hIngestSec = (System.nanoTime() - tI0) / 1e9
        val sampleH = (0 until 200).map(i => namesH(i * 10 % nH))
        val tailsH = sampleH.map { s =>
          val t0 = System.nanoTime()
          val t = storeH.checkTail("bench-basin", s)
          ((System.nanoTime() - t0) / 1e6, t.seqNum)
        }
        require(tailsH.forall(_._2 == 1L), "http-endpoint ingest lost a record")
        val latH = tailsH.map(_._1).sorted
        // A8 pipelining vs the serial unary path, same endpoint: the
        // serial loop pays (manifest read + data PUT + CAS) per batch;
        // the session's group commit amortizes the barrier across the
        // backlog — this ratio is the pipelining win the reference
        // documents against object-storage latency (README:176).
        storeH.catalog.createStream("bench-basin", "a8-serial")
        storeH.catalog.createStream("bench-basin", "a8-pipe")
        val nBatches = 200
        val a8Batch = AppendInput(Seq.fill(10)(
          EnvelopeRecord(Nil, Array.fill(256)(7: Byte))))
        val tSer0 = System.nanoTime()
        (0 until nBatches).foreach(_ =>
          storeH.append("bench-basin", "a8-serial", a8Batch))
        val serialSec = (System.nanoTime() - tSer0) / 1e9
        val sessH = new graft.log.AppendSession(storeH, "bench-basin", "a8-pipe")
        val tPipe0 = System.nanoTime()
        val futsH = (0 until nBatches).map(_ => sessH.submit(a8Batch))
        import scala.concurrent.duration._
        futsH.foreach(f => require(
          scala.concurrent.Await.result(f, 120.seconds).isRight,
          "pipelined append failed"))
        val pipeSec = (System.nanoTime() - tPipe0) / 1e9
        sessH.close()
        require(storeH.checkTail("bench-basin", "a8-serial").seqNum == nBatches * 10L &&
          storeH.checkTail("bench-basin", "a8-pipe").seqNum == nBatches * 10L,
          "a8 workload lost records")
        val serialBps = nBatches / serialSec
        val pipeBps = nBatches / pipeSec
        f""""cphttp_streams":$listedH,"cphttp_create_sec":$hCreateSec%.3f,"cphttp_list_pages_sec":$hListSec%.3f,"cphttp_ingest_sec":$hIngestSec%.3f,"cphttp_checktail_p50_ms":${pct(latH, 0.50)}%.2f,"cphttp_checktail_p99_ms":${pct(latH, 0.99)}%.2f,"a8_http_serial_batches_per_sec":$serialBps%.1f,"a8_http_pipelined_batches_per_sec":$pipeBps%.1f,"a8_http_pipeline_speedup":${pipeBps / serialBps}%.2f"""
      } finally server.stop(0)
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
      System.err.println(s"bench http control-plane phase failed: $msg")
      s""""cphttp_streams":0,"cphttp_error":${jsonStr(msg)}"""
    }
    sampleFsync("cphttp")

    val recordsApiJson: String = recordsApiPhaseJson(spark, benchRoot)
    sampleFsync("records_api")

    def perQuery(v: Measure.Sample => String): String =
      results.map { case (k, m) => "\"" + k + "\":" + v(m) }.mkString("{", ",", "}")
    val qs = perQuery(m => f"${m.wallSec}%.3f")
    val qsCpu = perQuery(m => f"${m.cpuSec}%.3f")
    val qsGc = perQuery(m => f"${m.gcSec}%.3f")
    val qsCounters = perQuery(_.countersJson)
    val errJson =
      if (queryErrors.isEmpty) ""
      else queryErrors.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
        .mkString(""","query_errors":{""", ",", "}")
    val total = results.map(_._2.wallSec).sum
    val totalCpu = results.map(_._2.cpuSec).sum
    // run-level GC/heap evidence (VERDICT r17 #2): gc_sec is the
    // JVM's cumulative collection time at artifact-write (covers the
    // store phases too, which run before this line), heap_max_mb
    // the native pool peak — both zero-cost bean reads
    val gcRunSec = Measure.gcTimeSec()
    val heapMaxMb = heapPeakMb()
    // fsync_p50_ms (the adjudication key BASELINE.md's fs-heavy rule
    // reads) is the MAX over all samples, so an aftershock that ends
    // mid-run can no longer hide behind a quiet end-of-run probe.
    val fsyncPost = sampleFsync("post")
    val fsyncMs = fsyncSamples.values.max
    val probesJson =
      f""""fsync_p50_ms_pre":${fsyncSamples("pre")}%.2f,"fsync_p50_ms_post":$fsyncPost%.2f,"fsync_samples":${
        fsyncSamples.map { case (k, v) => "\"" + k + f"\":$v%.2f" }
          .mkString("{", ",", "}")}"""
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","timing":"median-of-3","action":"noop","cpus":$cpus,"total_cpu_sec":$totalCpu%.3f,"gc_sec":$gcRunSec%.3f,"heap_max_mb":$heapMaxMb,"fsync_p50_ms":$fsyncMs%.2f,$probesJson,"queries":$qs,"queries_cpu_sec":$qsCpu,"queries_gc_sec":$qsGc,"queries_counters":$qsCounters$errJson,"sf":"$sfDir",$controlPlaneJson,$cp50kJson,$httpControlPlaneJson,$recordsApiJson}"""
    // The driver captures only the LAST ~2000 chars of stdout, which
    // cannot hold a 186-query map (r11's artifact carried only the
    // alphabetic tail of one map). Persist the full line to a file, and
    // print TWO parseable lines: the full JSON, then a compact summary
    // WITHOUT the per-query maps as the final line — the summary fits
    // entirely inside any tail window, so the round artifact always
    // ends with one complete, parseable JSON object.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_local.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: java.io.IOException => () } // bench output must not fail on an unwritable cwd
    println(json)
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","timing":"median-of-3","action":"noop","n_queries":${results.size},"n_query_errors":${queryErrors.size},"cpus":$cpus,"total_cpu_sec":$totalCpu%.3f,"gc_sec":$gcRunSec%.3f,"heap_max_mb":$heapMaxMb,"fsync_p50_ms":$fsyncMs%.2f,$probesJson,"queries_in":"BENCH_local.json","sf":"$sfDir",$controlPlaneJson,$cp50kJson,$httpControlPlaneJson,$recordsApiJson}"""
    println(summary)
    TempDir.delete(benchRoot)
    spark.stop()
  }

  /** v1 records-API serving phase (round 17): the HTTP surface a
    * day-one client talks — concurrent unary append RPCs (JSON parse +
    * engine append + ack per request), one SSE catch-up session
    * through the ReadSession machine, and an integrity check that the
    * /v1/metrics meter counted exactly the RPCs served under load.
    * Factored out so the phase can run without the 200-query
    * sweep. */
  private[graft] def recordsApiPhaseJson(spark: SparkSession,
      parent: java.nio.file.Path = null): String = try {
      val rootR = (if (parent == null)
          java.nio.file.Files.createTempDirectory("graft-benchrecords")
        else java.nio.file.Files.createTempDirectory(parent, "graft-benchrecords"))
        .toString
      val storeR = new StreamStore(spark, rootR)
      storeR.catalog.createBasin("bench-basin",
        BasinConfig(defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      val (serverR, epR) = graft.log.HttpRecordsServer.start(storeR)
      try {
        import graft.log.HttpRecordsClient
        val hdrR = Seq("s2-basin" -> "bench-basin")
        val nThreads = 8
        val perThread = 50
        val recsPerRpc = 10
        (0 until nThreads).foreach(i =>
          storeR.catalog.createStream("bench-basin", s"ra-$i"))
        val oneRec = s"""{"body":"${"x" * 256}"}"""
        val rpcBody = (s"""{"records":[""" +
          Seq.fill(recsPerRpc)(oneRec).mkString(",") + "]}").getBytes("UTF-8")
        val failures = new java.util.concurrent.atomic.AtomicInteger
        val tA0 = System.nanoTime()
        val threadsR = (0 until nThreads).map { i =>
          new Thread(() => (0 until perThread).foreach { _ =>
            val (c, _) = HttpRecordsClient.request("POST",
              s"$epR/v1/streams/ra-$i/records", hdrR, rpcBody)
            if (c != 200) failures.incrementAndGet()
          })
        }
        threadsR.foreach(_.start()); threadsR.foreach(_.join())
        val apSec = (System.nanoTime() - tA0) / 1e9
        val rpcs = nThreads * perThread
        require(failures.get() == 0, s"${failures.get()} append RPCs failed")
        require((0 until nThreads).forall(i => storeR
          .checkTail("bench-basin", s"ra-$i").seqNum == perThread * recsPerRpc),
          "records-api workload lost records")
        // SSE catch-up: one session draining a stream under a count
        // budget, terminal [DONE]. One unbilled warm pass first — the
        // phase may run on a cold session (outside the sweep), where the
        // first read plan's codegen would be billed to the session.
        val sseWant = perThread * recsPerRpc
        HttpRecordsClient.readSse(
          s"$epR/v1/streams/ra-1/records?seq_num=0&count=$sseWant", hdrR)
        // serve the timed session from compacted storage — the
        // steady-state layout (50 per-RPC objects is the just-written
        // transient; T1 compaction folds them into scan-sized files)
        storeR.compact("bench-basin", "ra-0")
        val tS0 = System.nanoTime()
        val evs = HttpRecordsClient.readSse(
          s"$epR/v1/streams/ra-0/records?seq_num=0&count=$sseWant", hdrR)
        val sseSec = (System.nanoTime() - tS0) / 1e9
        // count records by their body field — the batch frame's tail
        // object also carries a seq_num, so seq_num occurrences
        // overcount by one per event
        val sseRecords = evs.collect { case e if e.event.contains("batch") =>
          """"body":"""".r.findAllIn(e.data).size }.sum
        require(evs.lastOption.exists(_.data == "[DONE]") &&
          sseRecords == sseWant, s"sse session delivered $sseRecords/$sseWant")
        // metrics integrity: the meter must have counted exactly the
        // append RPCs this phase issued
        val (mc, mb) = HttpRecordsClient.request("GET",
          s"$epR/v1/metrics?set=account-ops&start=0&end=${Long.MaxValue / 2000}")
        val metered = """\[\d+,([0-9.]+)\]""".r.findAllMatchIn(mb)
          .map(_.group(1).toDouble).sum
        require(mc == 200 && metered == rpcs.toDouble,
          s"metrics meter counted $metered of $rpcs append RPCs")
        // s2s/proto framed session throughput (round 18): one
        // pipelined binary append session (all batches in flight, acks
        // drained after) and one framed read session from compacted
        // storage — the wire a real SDK speaks, measured AFTER the
        // metering integrity check since framed appends meter too
        import graft.log.{ProtoCodec, S2sCodec}
        import graft.model.{AppendInput => MInput, EnvelopeRecord => MEnv}
        storeR.catalog.createStream("bench-basin", "ra-pb")
        val pbBatches = 100
        val pbFrame = ProtoCodec.encodeAppendInput(MInput(
          Seq.fill(recsPerRpc)(MEnv(Nil, ("x" * 256).getBytes("UTF-8"))),
          clientTimestamps = Seq.fill(recsPerRpc)(None)))
        val tP0 = System.nanoTime()
        val pbAcks = HttpRecordsClient.s2sAppendSessionRaw(
          s"$epR/v1/streams/ra-pb/records", hdrR,
          Seq.fill(pbBatches)(pbFrame), gzip = false,
          S2sCodec.ProtoContentType)
        val pbApSec = (System.nanoTime() - tP0) / 1e9
        require(pbAcks.size == pbBatches && pbAcks.forall(!_.terminal),
          s"framed-proto session acked ${pbAcks.size}/$pbBatches")
        storeR.compact("bench-basin", "ra-pb")
        val pbWant = pbBatches * recsPerRpc
        HttpRecordsClient.s2sReadSession( // unbilled codegen warm pass
          s"$epR/v1/streams/ra-pb/records?seq_num=0&count=$pbWant", hdrR,
          gzip = false, contentType = S2sCodec.ProtoContentType)
        val tR0 = System.nanoTime()
        val pbFrames = HttpRecordsClient.s2sReadSession(
          s"$epR/v1/streams/ra-pb/records?seq_num=0&count=$pbWant", hdrR,
          gzip = false, contentType = S2sCodec.ProtoContentType)
        val pbRdSec = (System.nanoTime() - tR0) / 1e9
        val pbRead = pbFrames.filterNot(_.terminal)
          .map(f => ProtoCodec.decodeReadBatch(f.payload)._1.size).sum
        require(pbRead == pbWant, s"framed-proto read $pbRead/$pbWant")
        f""""records_api_append_rps":${rpcs / apSec}%.1f,"records_api_append_mibps":${rpcs.toLong * recsPerRpc * (256 + 8) / apSec / 1048576}%.3f,"records_api_sse_records_per_sec":${sseRecords / sseSec}%.0f,"records_api_s2s_proto_batches_per_sec":${pbBatches / pbApSec}%.1f,"records_api_s2s_proto_read_records_per_sec":${pbRead / pbRdSec}%.0f,"records_api_metered_ok":true"""
      } finally serverR.stop(0)
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
      System.err.println(s"bench records-api phase failed: $msg")
      s""""records_api_append_rps":0,"records_api_error":${jsonStr(msg)}"""
    }

}
