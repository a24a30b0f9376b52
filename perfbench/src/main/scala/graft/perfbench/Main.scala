package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.log.StreamStore

/** One benchmark run: both timed phases (bulk, then tail) over inputs
  * made from `--seed`, with the records of `--workload`, measured for
  * `--seconds` in total; traced runs then add the catalog and
  * functions probes, which feed only per-layer metrics. Prints the
  * result as the last stdout line; with `--trace 1` it prints the
  * per-layer metrics instead of the end-to-end ones and writes the
  * spans file.
  *
  *   graft.perfbench.Main --workload small --seed 1 --seconds 22
  *     --trace 0 --run-dir <run dir> --out-dir <results dir>
  */
object Main {
  /** Share of `--seconds` each phase measures. Only bulk metrics are
    * end-to-end, so bulk gets the larger share and more rounds. */
  val TailShare = 0.3
  val BulkShare = 0.7

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val shape = Shape.of(workload).getOrElse(usage(s"unknown workload $workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val runDir = Paths.get(need("run-dir"))
    val outDir = Paths.get(need("out-dir"))
    val cpus = Runtime.getRuntime.availableProcessors()
    Trace.enabled = traced

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val report = new Report
    val store = new StreamStore(spark, runDir.resolve("store").toString)
    val ctx = new Ctx(spark, store, seed, shape, report, counters, cpus, runDir)
    val tail = new TailPhase(ctx)
    val bulk = new BulkPhase(ctx)
    val catalog = new CatalogProbe(ctx)
    val functions = new FunctionsProbe(ctx)

    val ok = try {
      def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
      // bulk first: its set-up is two untimed full-size rounds (after
      // fewer, timed rounds still paid for JIT compilation in some
      // runs), and nothing else may run beside its timed rounds
      val bulkIn = bulk.input(0L, shape.bulkRecords)
      bulk.round(-1, bulkIn, keep = false)
      bulk.round(0, bulkIn, keep = false)
      val bulkSetupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      log("bulk set up")

      val tMeasure = System.nanoTime()
      val tBulk = System.nanoTime()
      var r = 1
      while (r <= 2 || secs(tBulk) < seconds * BulkShare) {
        bulk.round(r, bulkIn, keep = true)
        r += 1
      }
      bulkIn.df.unpersist()
      log(s"bulk measured: ${r - 1} rounds")

      // tail set-up: fixtures, untimed RPCs through every path, and a
      // flush, so the window does not pay for earlier writeback
      val tTailSetup = System.nanoTime()
      tail.start(TailPhase.WarmRpcs + math.max(1, (seconds * TailShare * TailPhase.RpcsPerSec).round.toInt))
      tail.warm()
      ctx.settle()
      val tailSetupS = secs(tTailSetup)
      log("tail set up")
      // set-up of both phases: session, fixtures and warm passes
      report.endToEnd("setup_s", bulkSetupS + tailSetupS, "s")
      Trace.span("tail")(tail.measure())
      tail.finish()
      log("tail measured and verified")
      val measuredS = secs(tMeasure) - tailSetupS
      if (traced) {
        // per-layer only, so untraced runs skip them and their gates
        catalog.run()
        functions.run()
        log("catalog and functions probed")
      }
      tail.metrics()
      bulk.metrics()
      if (traced) {
        catalog.metrics()
        functions.metrics()
      }
      jvm(report)
      report.perLayer("run.measured_s", measuredS, "s")
      report.perLayer("run.cleanup_s", ctx.cleanupS, "s")
      report.perLayer("run.settle_s", ctx.settleS, "s")
      if (traced) traceMetrics(report, measuredS, outDir, workload, seed)
      true
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        report.fail(s"run aborted: $t")
        false
    }
    try spark.stop() catch { case _: Throwable => () }
    report.perLayer("tmp.leaked_dirs", leakedDirs(), "count")
    summary(report, workload, seed)
    Files.createDirectories(outDir)
    Files.write(outDir.resolve(s"full-$workload-seed$seed-trace${if (traced) 1 else 0}.json"),
      report.fullJson.getBytes("UTF-8"))
    println(report.json(traced))
    System.out.flush()
    // the HTTP server's and Spark's non-daemon threads must not keep
    // the JVM alive once the result is out
    sys.exit(if (ok && report.issues.isEmpty && report.failed == 0) 0 else 1)
  }

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s  $msg")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload small|events --seed N --seconds S --trace 0|1 " +
      "--run-dir DIR --out-dir DIR")
    sys.exit(2)
  }

  private def jvm(report: Report): Unit = {
    val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    report.perLayer("jvm.gc_s", mx.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3, "s")
    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
    report.perLayer("jvm.heap_peak_mb", heap / 1048576.0, "MiB")
  }

  /** `graft-*` temp dirs the program left in this run's tmpdir. */
  private def leakedDirs(): Double = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (!Files.isDirectory(tmp)) 0.0
    else {
      val s = Files.list(tmp)
      try s.iterator.asScala.count(p => p.getFileName.toString.startsWith("graft-")).toDouble
      finally s.close()
    }
  }

  /** Writes the spans file and the tracing's own cost: spans recorded
    * and the cost of one span, measured here on a no-op. */
  private def traceMetrics(report: Report, measuredS: Double, outDir: Path,
                           workload: String, seed: Long): Unit = {
    val spans = Trace.spans
    Files.createDirectories(outDir)
    Trace.write(outDir.resolve(s"spans-$workload-seed$seed.jsonl"))
    Trace.reset()
    val n = 200000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { Trace.span("trace.calibrate")(i += 1) }
    val perSpanNs = (System.nanoTime() - t0).toDouble / n
    Trace.reset()
    report.perLayer("trace.spans", spans.size, "count")
    report.perLayer("trace.span_ns", perSpanNs, "ns")
    report.perLayer("trace.overhead_pct", 100.0 * spans.size * perSpanNs / (measuredS * 1e9), "%")
  }

  private def summary(report: Report, workload: String, seed: Long): Unit = {
    val err = System.err
    err.println(s"[perfbench] workload=$workload seed=$seed attempted=${report.attempted} " +
      s"failed=${report.failed} error_rate=${report.failed.toDouble / math.max(1L, report.attempted)}")
    (report.endToEndMetrics ++ report.perLayerMetrics).foreach { case (k, (v, u)) =>
      err.println(f"[perfbench]   $k%-40s $v%14.4f $u")
    }
    report.issues.take(20).foreach(i => err.println(s"[perfbench] MISMATCH $i"))
  }
}
