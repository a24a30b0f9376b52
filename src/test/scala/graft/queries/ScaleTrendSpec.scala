package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.tools.ScaleTrend

/** Scale-trend gate (VERDICT r12 #3 / r13 #3): growth exponents of
  * the bucketed-dedup family across sf0.001 → 0.01 → 0.1 must stay
  * near-linear. The single-sf bench cannot see superlinear candidate
  * growth (the char-gram df² class); this spec measures it directly
  * and fails when any bucketed-dedup query's last-decade exponent
  * (log10 of the 10×-data CPU ratio) exceeds the gate.
  *
  * Gate = 1.35: a linear-scaling query measures ≲1.0 (fixed overhead
  * pulls it lower), genuine quadratic candidate growth measures ≳1.7
  * even half-masked by overhead — 1.35 separates the classes with
  * margin for host noise (CPU-seconds-based, so external load barely
  * moves it).
  */
class ScaleTrendSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 8

  private val Gate = 1.35

  /** Non-vacuity floor on sf0.1 CPU: below this the exponent fit is
    * all fixed overhead and proves nothing. Default 0.25 s; queries
    * whose honest steady-state cost sits near that line get a
    * per-query floor instead of a grown fixture (VERDICT r16 #2 —
    * `text_substring_remove` measures ~0.20 s CPU at sf0.1: its chain
    * is gram-aggregate-shaped with a tiny surviving span set, so 0.20 s
    * is real algorithm work, and a gate that fails on ±0.05 s host
    * noise trains everyone to ignore it). */
  private val Floor = Map("text_substring_remove" -> 0.12)
    .withDefaultValue(0.25)

  test("bucketed-dedup queries scale near-linearly across three decades") {
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(graft.TestData.requireSf)
    val trends = ScaleTrend.measure(spark, ScaleTrend.DedupBucketed, dirs)
    trends.foreach { t =>
      info(f"${t.name}: cpu=${t.cpuSec.map(v => f"$v%.2f").mkString("/")}s " +
        f"exponents=${t.exponents.map(v => f"$v%.2f").mkString(",")}")
    }
    val offenders = trends.filter(_.lastExponent > Gate)
    assert(offenders.isEmpty,
      "superlinear growth in bucketed dedup (candidate-set blowup?): " +
        offenders.map(t => f"${t.name}=${t.lastExponent}%.2f").mkString(", "))
    // non-vacuous: the fit needs real work at the verdict scale. (The
    // earlier head-vs-last comparison was noise-prone: residual JIT at
    // sf0.001 can bill MORE CPU than the sf0.1 pass for a flat query —
    // observed 1.24s vs 1.11s on dedup_embedding_cosine.)
    trends.foreach(t => assert(t.cpuSec.last > Floor(t.name),
      s"${t.name}: ${t.cpuSec.last}s CPU at the largest scale < floor " +
        s"${Floor(t.name)} — fixture too small for this gate"))
  }

  test("training fan-outs (PQ/IVF Lloyd rounds, unigram tokenizer) " +
    "scale near-linearly across three decades") {
    // the next most plausible superlinear class after bucketed dedup:
    // a corpus x centroid assignment that loses its broadcast, or a
    // tokenizer pass that segments per-document instead of
    // per-distinct-word, jumps the exponent here first
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(graft.TestData.requireSf)
    val trends = ScaleTrend.measure(spark, ScaleTrend.TrainingFanout, dirs)
    trends.foreach { t =>
      info(f"${t.name}: cpu=${t.cpuSec.map(v => f"$v%.2f").mkString("/")}s " +
        f"exponents=${t.exponents.map(v => f"$v%.2f").mkString(",")}")
    }
    val offenders = trends.filter(_.lastExponent > Gate)
    assert(offenders.isEmpty,
      "superlinear growth in a training fan-out: " +
        offenders.map(t => f"${t.name}=${t.lastExponent}%.2f").mkString(", "))
    trends.foreach(t => assert(t.cpuSec.last > Floor(t.name),
      s"${t.name}: ${t.cpuSec.last}s CPU at the largest scale < floor " +
        s"${Floor(t.name)} — fixture too small for this gate"))
  }

  test("the exponent fit itself detects a seeded quadratic (teeth)") {
    // a synthetic cost series with perfect 10x-data quadratic growth
    // must trip the gate; a linear one must not — guards against a
    // future refactor neutering the fit (e.g. ratio of wrong decade)
    val quad = ScaleTrend.Trend("seeded-quadratic",
      cpuSec = Seq(0.04, 1.0, 100.0), wallSec = Seq(0, 0, 0))
    assert(quad.lastExponent > Gate)
    val lin = ScaleTrend.Trend("seeded-linear",
      cpuSec = Seq(0.3, 1.0, 10.0), wallSec = Seq(0, 0, 0))
    assert(lin.lastExponent <= Gate)
  }
}
