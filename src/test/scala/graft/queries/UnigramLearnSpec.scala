package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** uniTrainFromWords / uniSegment vs a sequential in-memory unigram-LM
  * trainer: the oracle hash-match proves Spark == DuckDB, but both
  * could share a misreading of the semantics — this spec pins the plan
  * against an independent direct implementation (seed top substrings +
  * single chars -> Viterbi segmentation under (pieces, -Σf, lexicographic
  * pieces) -> EM re-count), the BpeLearnSpec pattern.
  *
  * Constants mirrored from PipelineOps: max piece length 6 (UniMaxPieceLen),
  * seed cap 256 (UniSeedV) — fixtures stay far below the cap so a drift
  * in the cap itself would be caught by the oracle, not silently here.
  */
class UnigramLearnSpec extends AnyFunSuite with LocalSpark {

  private val MaxPieceLen = 6

  /** Spark's struct ordering on ('n, 'negf, 'ps ARRAY<STRING>):
    * element-wise string compare, then shorter-is-smaller. */
  private def cmpSeq(a: Seq[String], b: Seq[String]): Int = {
    val it = a.iterator.zip(b.iterator)
    while (it.hasNext) {
      val (x, y) = it.next()
      val c = x.compareTo(y)
      if (c != 0) return c
    }
    java.lang.Integer.compare(a.size, b.size)
  }

  private case class St(n: Long, negf: Long, ps: Seq[String])
  private val stOrd: Ordering[St] = (a: St, b: St) => {
    if (a.n != b.n) java.lang.Long.compare(a.n, b.n)
    else if (a.negf != b.negf) java.lang.Long.compare(a.negf, b.negf)
    else cmpSeq(a.ps, b.ps)
  }

  /** Sequential Viterbi under vocab (piece -> f). Callers guarantee
    * single-char coverage, like the plan. */
  private def refSegment(w: String, vocab: Map[String, Long]): Seq[String] = {
    val acc = new Array[St](w.length + 1)
    acc(0) = St(0L, 0L, Nil)
    for (i <- 1 to w.length) {
      val cands = for {
        st <- math.max(1, i - MaxPieceLen + 1) to i
        piece = w.substring(st - 1, i)
        f <- vocab.get(piece).toSeq
        if acc(st - 1) != null
      } yield St(acc(st - 1).n + 1, acc(st - 1).negf - f, acc(st - 1).ps :+ piece)
      acc(i) = if (cands.isEmpty) null else cands.min(stOrd)
    }
    assert(acc(w.length) != null, s"no segmentation for $w")
    acc(w.length).ps
  }

  /** Sequential trainer: returns (piece, freq0, freq1) sorted. */
  private def refTrain(words: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    val freq0 = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; st <- 1 to w.length;
         en <- st to math.min(w.length, st + MaxPieceLen - 1))
      freq0.updateWith(w.substring(st - 1, en)) {
        case Some(v) => Some(v + f); case None => Some(f)
      }
    val top = freq0.toSeq.sortBy { case (p, f0) => (-f0, p) }.take(256).toMap
    val singles = freq0.filter { case (p, _) => p.length == 1 }
    val vocab0 = top ++ singles
    val freq1 = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- words; piece <- refSegment(w, vocab0))
      freq1.updateWith(piece) { case Some(v) => Some(v + f); case None => Some(f) }
    vocab0.toSeq.map { case (p, _) =>
      (p, freq0(p), freq1.getOrElse(p, 0L)) }.sortBy(_._1)
  }

  private def planTrain(words: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    import spark.implicits._
    PipelineOps.uniTrainFromWords(words.toDF("w", "freq"))
      .collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("freq0"),
        r.getAs[Long]("freq1")))
      .sortBy(_._1).toSeq
  }

  private def planSegment(words: Seq[(String, Long)],
                          vocab: Map[String, Long]): Map[String, Seq[String]] = {
    import spark.implicits._
    PipelineOps.uniSegment(
      words.toDF("w", "freq"),
      vocab.toSeq.toDF("piece", "f"))
      .collect()
      .map(r => r.getAs[String]("w") -> r.getSeq[String](2).toSeq)
      .toMap
  }

  test("DP tie case: equal piece count AND equal total weight — the " +
    "lexicographic pieces array breaks the tie identically on both paths") {
    // word "abc", vocab {ab:2, bc:2, a:2, b:2, c:2}: [a, bc] and
    // [ab, c] both have n=2, negf=-4; array compare picks [a, bc]
    val vocab = Map("ab" -> 2L, "bc" -> 2L, "a" -> 2L, "b" -> 2L, "c" -> 2L)
    assert(refSegment("abc", vocab) == Seq("a", "bc"))
    val seg = planSegment(Seq("abc" -> 1L), vocab)
    assert(seg("abc") == Seq("a", "bc"))
  }

  test("fewest-pieces dominates weight; weight breaks piece-count ties") {
    val vocab = Map("xy" -> 1L, "x" -> 9L, "y" -> 9L, "z" -> 1L, "yz" -> 5L)
    // "xyz": [xy, z] (negf -2) vs [x, yz] (negf -14) — n ties at 2,
    // higher total weight wins on both paths
    assert(refSegment("xyz", vocab) == Seq("x", "yz"))
    assert(planSegment(Seq("xyz" -> 1L), vocab)("xyz") == Seq("x", "yz"))
    // single piece always beats any split
    assert(refSegment("xy", vocab) == Seq("xy"))
    assert(planSegment(Seq("xy" -> 1L), vocab)("xy") == Seq("xy"))
  }

  test("train bit-equality on a hand fixture (seed -> segment -> EM)") {
    val words = Seq("banana" -> 5L, "bandana" -> 3L, "ananas" -> 2L,
      "nab" -> 7L, "a" -> 11L)
    assert(planTrain(words) == refTrain(words))
  }

  test("train bit-equality on randomized run-heavy vocabularies") {
    val rnd = new scala.util.Random(1234)
    (0 until 3).foreach { round =>
      val alpha = "abc"
      val words = (0 until 25).map { _ =>
        val len = 1 + rnd.nextInt(12)
        val w = Array.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
        w -> (1L + rnd.nextInt(9))
      }.groupBy(_._1).map { case (w, g) => w -> g.map(_._2).sum }.toSeq
      assert(planTrain(words) == refTrain(words), s"round $round diverged")
    }
  }

  test("EM prune semantics: a seeded piece chosen by no optimal " +
    "segmentation ends with freq1 = 0") {
    // "ab" appears as a substring (seeded) but the optimal segmentation
    // of every word uses longer pieces covering it
    val words = Seq("abc" -> 4L)
    val out = planTrain(words).map { case (p, f0, f1) => p -> ((f0, f1)) }.toMap
    // "abc" itself is the 1-piece optimum, so ab/bc/a/b/c all get freq1=0
    assert(out("abc")._2 == 4L)
    assert(out("ab")._2 == 0L && out("bc")._2 == 0L)
    assert(out("a")._2 == 0L && out("b")._2 == 0L && out("c")._2 == 0L)
    assert(refTrain(words) == planTrain(words))
  }
}
