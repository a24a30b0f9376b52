package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Semantic guarantees of the vector operators beyond the DuckDB
  * hash-match: hard-negative mining's positives/negatives are the TRUE
  * per-label-class argmaxes (replayed driver-side over the raw
  * vectors), every anchor emits a row, and the semi-hard band is
  * consistent with the frozen ppm scores.
  */
class VectorOpsSpec extends AnyFunSuite with LocalSpark {

  test("mine_hard_negatives: driver-side replay — true per-class argmaxes, " +
       "no anchor dropped, semi-hard band consistent") {
    val d = graft.TestData.requireSf("sf0.001")
    val rows = graft.SparkEntry.queries("mine_hard_negatives")(spark, d)
      .collect()
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def ppm(x: Double): Long = math.floor(x * 1000000 + 0.5).toLong
    val anchors = vecs.filter(_._1 < 64)
    assert(rows.length == anchors.length, "an anchor was silently dropped")
    val byId = rows.map(r => r.getAs[Long]("q_id") -> r).toMap
    anchors.foreach { case (qid, qlabel, vq) =>
      val r = byId(qid)
      def argmax(same: Boolean): (Long, Long) = vecs
        .filter { case (nid, nl, _) => nid != qid && (nl == qlabel) == same }
        .map { case (nid, _, ve) => (nid, ppm(cos(vq, ve))) }
        .minBy { case (nid, p) => (-p, nid) }
      val (posId, posPpm) = argmax(same = true)
      val (negId, negPpm) = argmax(same = false)
      assert(r.getAs[Long]("pos_id") == posId &&
        r.getAs[Long]("pos_ppm") == posPpm, s"anchor $qid positive: $r")
      assert(r.getAs[Long]("neg_id") == negId &&
        r.getAs[Long]("neg_ppm") == negPpm, s"anchor $qid negative: $r")
      assert(r.getAs[Long]("margin_ppm") == posPpm - negPpm)
      assert(r.getAs[Boolean]("semi_hard") ==
        (negPpm < posPpm && negPpm > posPpm - 100000L))
    }
    // the corpus must actually exercise the interesting band: at least
    // one semi-hard anchor and at least one negative margin (a
    // negative OUTRANKING the positive — the rows batch-hard mining
    // exists to find)
    assert(rows.exists(_.getAs[Boolean]("semi_hard")),
      "no semi-hard anchors on this corpus — band check is vacuous")
    assert(rows.exists(_.getAs[Long]("margin_ppm") < 0L),
      "no hard (negative-margin) anchors on this corpus")
  }

  test("emb_pca: driver-side integer replay matches bit-for-bit, and the " +
       "iterate's Rayleigh quotient is near the top eigenvalue") {
    val d = graft.TestData.requireSf("sf0.001")
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val dim = vecs.head._2.length
    val n = vecs.length.toLong
    val qs = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1024 + 0.5).toLong)
    }
    val sums = Array.tabulate(dim)(j => qs.map(_._2(j)).sum)
    val scat = Array.tabulate(dim, dim)((i, j) =>
      qs.map { case (_, q) => q(i) * q(j) }.sum)
    // Scala Long '/' truncates toward zero — same as Spark div / DuckDB //
    val m = Array.tabulate(dim, dim)((i, j) =>
      scat(i)(j) - (sums(i) * sums(j)) / n)
    var v = Array.fill(dim)(1L)
    for (_ <- 1 to 24) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val mx = w.map(math.abs).max
      v = w.map(x => (x * 1024) / mx)
    }
    val loadings = graft.SparkEntry.queries("emb_pca_loadings")(spark, d)
      .collect().map(r => r.getAs[Long]("dim") -> r.getAs[Long]("loading"))
      .sortBy(_._1).map(_._2)
    assert(loadings.toSeq == v.toSeq,
      s"distributed PCA diverged from integer replay:\n got ${loadings.toSeq}\n exp ${v.toSeq}")
    // convergence: the corpus spectrum is near-degenerate (lambda2/
    // lambda1 ~ 0.93), so eigenVECTOR alignment is the wrong metric —
    // the captured VARIANCE is what PCA is for. Reference lambda_max
    // from a long double-precision power iteration; the integer
    // iterate's Rayleigh quotient must capture >= 95% of it.
    var e = Array.fill(dim)(1.0)
    for (_ <- 1 to 300) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j).toDouble * e(j)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      e = w.map(_ / nrm)
    }
    def rayleigh(x: Array[Double]): Double = {
      val mx = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j).toDouble * x(j)).sum)
      (0 until dim).map(i => x(i) * mx(i)).sum /
        x.map(t => t * t).sum
    }
    val ratio = rayleigh(v.map(_.toDouble)) / rayleigh(e)
    assert(ratio >= 0.95,
      f"iterate captures too little variance: R(v)/lambda_max = $ratio%.4f")
    // projections: exact integer replay of the top-10 |projection|
    val projs = qs.map { case (id, q) =>
      id -> (0 until dim).map(j => q(j) * v(j)).sum
    }
    val expTop = projs.sortBy { case (id, p) => (-math.abs(p), id) }.take(10)
    val gotTop = graft.SparkEntry.queries("emb_pca_project")(spark, d)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("proj"))
    assert(gotTop.toSeq == expTop.toSeq)
  }

  test("ann_matryoshka_recall: replayed intersections; truncation loses " +
       "something somewhere but not everything") {
    val d = graft.TestData.requireSf("sf0.001")
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def ppm(x: Double): Long = math.floor(x * 1000000 + 0.5).toLong
    def top10(qid: Long, trunc: Boolean): Set[Long] = {
      val vq = vecs.find(_._1 == qid).get._2
      val cut = (v: Array[Float]) => if (trunc) v.take(16) else v
      vecs.filter(_._1 != qid)
        .map { case (nid, ve) => (nid, ppm(cos(cut(vq), cut(ve)))) }
        .sortBy { case (nid, p) => (-p, nid) }.take(10).map(_._1).toSet
    }
    val out = graft.SparkEntry.queries("ann_matryoshka_recall")(spark, d)
      .collect().map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("hits"), r.getAs[Long]("recall_ppm"))).toMap
    assert(out.size == 5)
    out.foreach { case (qid, (hits, rppm)) =>
      val exp = (top10(qid, trunc = false) intersect top10(qid, trunc = true)).size
      assert(hits == exp.toLong, s"query $qid: hits $hits != replay $exp")
      assert(rppm == hits * 100000L)
    }
    val allHits = out.values.map(_._1)
    assert(allHits.exists(_ < 10L),
      "16-dim truncation lost nothing for any query — the eval is vacuous")
    assert(allHits.exists(_ > 0L),
      "16-dim truncation lost everything for every query")
  }

  test("emb_outlier_centroid: z-scores are standardized; csim bounded") {
    val d = graft.TestData.requireSf("sf0.001")
    val rows = graft.SparkEntry.queries("emb_outlier_centroid")(spark, d)
      .collect()
    assert(rows.length == 500)
    val zs = rows.map(_.getAs[Double]("z"))
    val mean = zs.sum / zs.length
    val std = math.sqrt(zs.map(z => (z - mean) * (z - mean)).sum / zs.length)
    assert(math.abs(mean) < 1e-3, s"z mean $mean")
    assert(math.abs(std - 1.0) < 1e-3, s"z std $std")
    rows.foreach { r =>
      val c = r.getAs[Double]("csim")
      assert(c >= -1.0 - 1e-6 && c <= 1.0 + 1e-6, s"csim out of range: $r")
      assert(r.getAs[Boolean]("is_outlier") == (r.getAs[Double]("z") < -2.0))
    }
    assert(zs.count(_ < -2.0) < zs.length / 10,
      "more than 10% flagged as outliers — threshold not selective")
  }
}
