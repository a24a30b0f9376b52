package graft.queries

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Property coverage for the prefix-filtering bound in
  * TextOps.prefixFilteredJaccard: the claim is ZERO false negatives
  * versus brute-force all-pairs Jaccard at any threshold. The
  * off-by-one surface — ceil on an IEEE product, ties in the
  * (df, shingle) canonical order, the size-ratio prune — is exactly
  * what randomized cases catch and a fixture can't.
  *
  * `model` mirrors the Spark plan's arithmetic step for step (same
  * epsilon-guarded ceil, same rounding); `brute` is the oracle
  * formulation. The teeth test shows the UNGUARDED ceil (the plan's
  * previous arithmetic) drops a legitimate pair at t=0.55/n=100 —
  * the IEEE overshoot 100*0.55 = 55.00000000000001 → ceil 56 — so
  * the property genuinely discriminates.
  */
object PrefixFilterModel {

  def round6(x: Double): Double =
    BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** ⌈x⌉ as the Spark plan computes it: epsilon-guarded against IEEE
    * products landing just above an exact integer. */
  def ceilEps(x: Double): Long = math.ceil(x - 1e-9).toLong

  /** Mirror of the fixed Spark plan: rare-first canonical order,
    * prefix bound n - ⌈n·t⌉ + 1, size-ratio prune, exact verify. */
  def model(docs: Map[Int, Set[String]], t: Double,
            ceil: Double => Long = ceilEps): Set[(Int, Int, Double)] = {
    val freq: Map[String, Int] =
      docs.values.flatten.groupBy(identity).map { case (s, xs) => s -> xs.size }
    val prefixes: Map[Int, Set[String]] = docs.map { case (id, set) =>
      val n = set.size.toLong
      val k = n - ceil(n * t) + 1L
      id -> set.toVector.sortBy(s => (freq(s), s)).take(math.max(k, 0L).toInt).toSet
    }
    val ids = docs.keys.toVector.sorted
    (for {
      a <- ids; b <- ids if a < b
      if (prefixes(a) & prefixes(b)).nonEmpty
      na = docs(a).size.toLong; nb = docs(b).size.toLong
      if math.min(na, nb) >= ceil(math.max(na, nb) * t)
      inter = (docs(a) & docs(b)).size
      union = (docs(a) | docs(b)).size
      j = round6(inter.toDouble / union)
      if j >= t
    } yield (a, b, j)).toSet
  }

  /** Brute-force all-pairs — the DuckDB oracle's formulation. */
  def brute(docs: Map[Int, Set[String]], t: Double): Set[(Int, Int, Double)] = {
    val ids = docs.keys.toVector.sorted
    (for {
      a <- ids; b <- ids if a < b
      inter = (docs(a) & docs(b)).size
      union = (docs(a) | docs(b)).size
      j = round6(inter.toDouble / union)
      if j >= t
    } yield (a, b, j)).toSet
  }
}

class PrefixFilterPropSpec extends Properties("PrefixFilter") {
  import PrefixFilterModel._

  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(1000)

  private val thresholdGen: Gen[Double] =
    Gen.oneOf(0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9)

  /** Small dense docs over a tiny universe: maximal overlap and df
    * ties — the canonical-order tiebreak surface. */
  private val smallDocsGen: Gen[Map[Int, Set[String]]] = {
    val universe = (0 until 14).map(i => f"s$i%02d")
    for {
      nDocs <- Gen.choose(3, 8)
      sets <- Gen.listOfN(nDocs,
        Gen.choose(1, 12).flatMap(k => Gen.pick(k, universe).map(_.toSet)))
    } yield sets.zipWithIndex.map { case (s, i) => i -> s }.toMap
  }

  /** Containment-heavy large docs: a base doc plus subsets sized near
    * ⌈t·n⌉ — pairs land exactly ON the threshold where the IEEE ceil
    * overshoot and the size-ratio prune bite. */
  private def largeDocsGen(t: Double): Gen[Map[Int, Set[String]]] = {
    val universe = (0 until 400).map(i => f"u$i%03d")
    for {
      n <- Gen.choose(60, 200)
      base <- Gen.pick(n, universe).map(_.toVector)
      subSize = math.max(1, math.ceil(n * t).toInt)
      jitter <- Gen.choose(-2, 2)
      k = math.min(n, math.max(1, subSize + jitter))
      // subset of the base: J = k/n, right at the threshold for k≈⌈tn⌉
      sub = base.take(k).toSet
      extraDoc <- Gen.pick(math.min(20, n), universe).map(_.toSet)
    } yield Map(0 -> base.toSet, 1 -> sub, 2 -> extraDoc)
  }

  property("small dense docs: prefix filter == brute force") =
    forAll(smallDocsGen, thresholdGen) { (docs, t) =>
      model(docs, t) == brute(docs, t)
    }

  property("threshold-straddling containment: prefix filter == brute force") =
    forAll(thresholdGen.flatMap(t => largeDocsGen(t).map(d => (d, t)))) {
      case (docs, t) => model(docs, t) == brute(docs, t)
    }
}

/** The same property through the REAL Spark plan, plus the teeth
  * proof that the unguarded ceil loses a pair. */
class PrefixFilterSparkSpec extends AnyFunSuite with LocalSpark {
  import PrefixFilterModel._

  private def run(docs: Map[Int, Set[String]], t: Double): Set[(Int, Int, Double)] = {
    import spark.implicits._
    val sh = docs.toSeq
      .flatMap { case (id, set) => set.map(s => (id.toLong, s)) }
      .toDF("doc_id", "sh")
    TextOps.prefixFilteredJaccard(sh, t)
      .select("doc_a", "doc_b", "jaccard")
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
      .toSet
  }

  test("IEEE ceil overshoot regression: containment pair at t=0.55, n=100 is found") {
    // A ⊂ B, |A| = 55, |B| = 100: J = 0.55 exactly. The unguarded
    // ceil(100*0.55) = ceil(55.00000000000001) = 56 shortens B's
    // prefix to 45 — all 45 B-only shingles (df 1 sorts before the
    // shared df-2 shingles), so no shared shingle survives in B's
    // prefix AND the size prune demands min >= 56: the pair is lost
    // twice over. The epsilon-guarded plan finds it.
    val base = (0 until 100).map(i => f"w$i%03d")
    val docs = Map(0 -> base.take(55).toSet, 1 -> base.toSet)
    val t = 0.55
    assert(brute(docs, t) == Set((0, 1, 0.55)))
    // teeth: the pre-fix arithmetic (plain math.ceil) loses the pair
    assert(model(docs, t, ceil = x => math.ceil(x).toLong).isEmpty,
      "plain-ceil arithmetic unexpectedly kept the pair — teeth test is vacuous")
    // the fixed model and the REAL Spark plan both find it
    assert(model(docs, t) == Set((0, 1, 0.55)))
    assert(run(docs, t) == Set((0, 1, 0.55)))
  }

  test("hashed candidate stage keeps threshold-straddling containment pairs (r22 index-prefix bound)") {
    // The r22 interned pipeline added two exact per-occurrence prunes
    // (positional and asymmetric index-prefix). Their risky boundary
    // is a containment pair exactly AT the threshold with maximal
    // size asymmetry (na = ceil(t*nb)): e1's position bound is tight
    // there, so an off-by-one in the 2t/(1+t) prefix arithmetic would
    // drop the pair from the candidate superset.
    import spark.implicits._
    for ((t, n) <- Seq((0.55, 100), (0.6, 80), (0.8, 50), (0.5, 7))) {
      val base = (0 until n).map(i => f"w$i%03d")
      val k = math.max(1, math.ceil(n * t - 1e-9).toInt)
      val docs = Map(0 -> base.take(k).toSet, 1 -> base.toSet)
      assert(brute(docs, t).nonEmpty, s"fixture not at threshold: t=$t n=$n k=$k")
      val sh = docs.toSeq
        .flatMap { case (id, s) => s.map(x => (id.toLong, x)) }
        .toDF("doc_id", "sh")
      val pairs = TextOps.hashedSurvivorPairs(TextOps.internedDocSets(sh), t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((0L, 1L)),
        s"t=$t n=$n k=$k: containment pair lost by the hashed candidate stage")
    }
  }

  test("randomized doc sets through the real plan match brute force") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val universe = (0 until 30).map(i => f"s$i%02d")
      val docs = (0 until 6).map { id =>
        val k = 1 + rnd.nextInt(14)
        id -> rnd.shuffle(universe).take(k).toSet
      }.toMap
      val t = Seq(0.5, 0.6, 0.7, 0.8)(trial)
      assert(run(docs, t) == brute(docs, t), s"trial $trial t=$t")
    }
  }
}
