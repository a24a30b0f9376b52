package graft.perfbench

/** Order statistics and the open-loop sender. */
object Stats {

  /** Percentiles the benchmark may report, lowest first. */
  val Ladder: Seq[Double] = Seq(0.5, 0.9, 0.95, 0.99, 0.999)

  /** Nearest-rank quantile of an ascending sample. */
  def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** The highest ladder percentile with at least ten samples beyond
    * it: p95 for 200 samples, p90 for 100, p99 only from 1000 on.
    * None when the sample cannot support even the median's tail. */
  def topPercentile(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= 10).lastOption

  /** Value at [[topPercentile]], NaN when the sample is too small. */
  def top(sorted: IndexedSeq[Double]): Double =
    topPercentile(sorted.size).map(quantile(sorted, _)).getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted.toIndexedSeq
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else quantile(xs.sorted.toIndexedSeq, 0.5)

  def topOf(xs: Seq[Double]): Double = top(xs.sorted.toIndexedSeq)
}

/** One request of an open-loop sender: when it was due, when the
  * sender actually started it, and when it completed (nanoseconds). */
final case class Sent(k: Int, dueNs: Long, startNs: Long, doneNs: Long) {
  /** Latency counted from the due time, so a stall that delays later
    * requests is billed to them too. */
  def latencyMs: Double = (doneNs - dueNs) / 1e6
  /** How late the generator started this request. */
  def lateMs: Double = (startNs - dueNs) / 1e6
}

/** Open loop at a fixed rate: request k is due at `t0 + k * periodNs`
  * whatever happened to earlier requests. One sender thread sends in
  * order (one writer per stream keeps the stream's order equal to the
  * send order); when a request overruns, the next ones start late and
  * their latency still counts from their due time. `clock` and
  * `sleepUntil` are injectable so the accounting is testable. */
final class OpenLoop(periodNs: Long,
                     clock: () => Long = () => System.nanoTime(),
                     sleepUntil: Long => Unit = OpenLoop.sleepUntil) {
  def run(t0: Long, n: Int)(send: (Int, Long) => Unit): Vector[Sent] =
    Vector.tabulate(n) { k =>
      val due = t0 + k * periodNs
      if (clock() < due) sleepUntil(due)
      val start = clock()
      send(k, due)
      Sent(k, due, start, clock())
    }
}

object OpenLoop {
  def sleepUntil(t: Long): Unit = {
    var rem = t - System.nanoTime()
    while (rem > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(rem)
      rem = t - System.nanoTime()
    }
  }
}
