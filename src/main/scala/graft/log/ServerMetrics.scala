package graft.log

import java.util.concurrent.atomic.{AtomicLongArray, DoubleAdder, LongAdder}

/** M5 — server metrics with the reference's exact instruments and
  * buckets (lite/src/metrics.rs:6-73): append permit latency, append
  * ack latency, append batch records/bytes histograms, exposed in
  * Prometheus text format via gather(). Observations come from the
  * engine hot paths (StreamStore.append and ingest, Producer permits);
  * everything is lock-free adders so metering never contends with the
  * data plane.
  */
object ServerMetrics {

  final class Histogram(name: String, help: String, val buckets: Array[Double]) {
    private val counts = new AtomicLongArray(buckets.length + 1)
    private val sum = new DoubleAdder
    private val n = new LongAdder

    def observe(v: Double): Unit = {
      var i = 0
      while (i < buckets.length && v > buckets(i)) i += 1
      counts.incrementAndGet(i)
      sum.add(v)
      n.increment()
    }

    def count: Long = n.sum()

    /** Prometheus text exposition (cumulative buckets + sum + count). */
    def expose: String = {
      val sb = new StringBuilder
      sb.append(s"# HELP $name $help\n# TYPE $name histogram\n")
      var cum = 0L
      for (i <- buckets.indices) {
        cum += counts.get(i)
        sb.append(s"""${name}_bucket{le="${buckets(i)}"} $cum""").append('\n')
      }
      cum += counts.get(buckets.length)
      sb.append(s"""${name}_bucket{le="+Inf"} $cum""").append('\n')
      sb.append(s"${name}_sum ${sum.sum()}\n${name}_count ${n.sum()}\n")
      sb.toString
    }

    def reset(): Unit = {
      for (i <- 0 to buckets.length) counts.set(i, 0)
      sum.reset(); n.reset()
    }
  }

  // exact reference buckets (metrics.rs:11-15, 24-28, 39, 50-59)
  val appendPermitLatency = new Histogram("s2_append_permit_latency_seconds",
    "Append permit latency in seconds",
    Array(0.005, 0.010, 0.025, 0.050, 0.100, 0.250, 0.500, 1.000, 2.500))
  val appendAckLatency = new Histogram("s2_append_ack_latency_seconds",
    "Append ack latency in seconds",
    Array(0.005, 0.010, 0.025, 0.050, 0.100, 0.250, 0.500, 1.000, 2.500))
  val appendBatchRecords = new Histogram("s2_append_batch_records",
    "Append batch size in number of records",
    Array(1.0, 10.0, 50.0, 100.0, 250.0, 500.0, 1000.0))
  val appendBatchBytes = new Histogram("s2_append_batch_bytes",
    "Append batch size in bytes",
    Array(512.0, 1024.0, 4096.0, 16384.0, 65536.0, 262144.0, 524288.0, 1048576.0))
  // extension beyond the reference set: A8 group-commit fan-in (how
  // many pipelined batches shared one durability barrier) — ack
  // latency observes once per group, so this is the weight needed to
  // recover per-batch totals
  val appendGroupBatches = new Histogram("s2_append_group_batches",
    "Batches sharing one append group commit",
    Array(1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0))

  // extension: the phases of one StreamStore.ingest call, each
  // observed once when it completes (a replay that skips every stream
  // ends after plan; a failed phase is not observed)
  private val phaseBuckets =
    Array(0.010, 0.025, 0.050, 0.100, 0.250, 0.500, 1.000, 2.500, 5.000, 10.0, 30.0, 60.0)
  val ingestCount = new Histogram("graft_ingest_count_seconds",
    "Bulk ingest key passes (range cut points and per-range counts) in seconds",
    phaseBuckets)
  val ingestPlan = new Histogram("graft_ingest_plan_seconds",
    "Bulk ingest driver planning (gates, manifests, sequence prefix sums) in seconds",
    phaseBuckets)
  val ingestWrite = new Histogram("graft_ingest_write_seconds",
    "Bulk ingest body job (shuffle, sort, sequence, encrypt, staged write) in seconds",
    phaseBuckets)
  val ingestCommit = new Histogram("graft_ingest_commit_seconds",
    "Bulk ingest per-stream commit loop in seconds",
    phaseBuckets)

  private def all: Seq[Histogram] =
    Seq(appendPermitLatency, appendAckLatency, appendBatchRecords,
      appendBatchBytes, appendGroupBatches,
      ingestCount, ingestPlan, ingestWrite, ingestCommit)

  /** The /metrics text payload (metrics.rs:66-73). */
  def gather(): String = all.map(_.expose).mkString

  def reset(): Unit = all.foreach(_.reset())
}
