package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** bpeLearnPlan vs a sequential in-memory BPE learner: the oracle
  * hash-match proves Spark == DuckDB, but both could share a
  * misreading of the merge semantics — this spec pins the plan
  * against an independent direct implementation of the reference
  * algorithm (count pairs over the word-frequency table, merge the
  * argmax pair leftmost-greedy, repeat).
  */
class BpeLearnSpec extends AnyFunSuite with LocalSpark {

  /** Sequential reference learner over (word -> freq). */
  private def refLearn(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var seg: Map[Seq[String], Long] =
      words.groupBy { case (w, _) => w.map(_.toString) }
        .map { case (syms, ws) => syms -> ws.values.sum }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- seg; Seq(a, b) <- syms.sliding(2) if syms.size >= 2)
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      val ((l, r), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
      out += ((l, r, cnt))
      seg = seg.groupBy { case (syms, _) =>
        val acc = scala.collection.mutable.ArrayBuffer(syms.head)
        for (x <- syms.tail) {
          if (acc.last == l && x == r) acc(acc.size - 1) = l + r
          else acc += x
        }
        acc.toSeq
      }.map { case (syms, ws) => syms -> ws.values.sum }
    }
    out.toSeq
  }

  private def planLearn(words: Seq[(String, Long)], rounds: Int): Seq[(String, String, Long)] = {
    import spark.implicits._
    PipelineOps.bpeLearnPlan(words.toDF("w", "freq"), rounds)
      .collect()
      .sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[String]("l"), r.getAs[String]("r"), r.getAs[Long]("cnt")))
      .toSeq
  }

  test("overlapping occurrences merge pairwise-left: aaaa -> aa aa") {
    // Round 1 on {aaaa: 3} counts (a,a) 3 per adjacency * 3 words'
    // frequency... the COUNT is per adjacent slot (3 slots * freq 3
    // = 9), and merging must collapse to [aa, aa] (2 symbols), so
    // round 2 sees (aa, aa) with count 3 — the leftmost-greedy
    // semantics the fold's no-flag construction claims.
    val words = Seq("aaaa" -> 3L)
    assert(planLearn(words, 2) == refLearn(words.toMap, 2))
    assert(planLearn(words, 2) == Seq(("a", "a", 9L), ("aa", "aa", 3L)))
  }

  test("odd-length runs leave the tail single: aaa under (a,a)") {
    val words = Seq("aaa" -> 2L, "ab" -> 5L)
    assert(planLearn(words, 3) == refLearn(words.toMap, 3))
  }

  test("tie-break is (count DESC, l ASC, r ASC) on both paths") {
    // "xy" and "xz" tie at freq 4; the learner must pick (x,y).
    val words = Seq("xy" -> 4L, "xz" -> 4L)
    assert(planLearn(words, 1) == Seq(("x", "y", 4L)))
    assert(refLearn(words.toMap, 1) == Seq(("x", "y", 4L)))
  }

  test("randomized run-heavy vocabularies: plan == sequential learner") {
    // {a,b} words maximize merge-overlap pathology (runs like
    // "aabab"); 12 seeded corpora x 3 rounds cross-validate the
    // DISTRIBUTED fold + argmax against the reference learner where
    // the pure-model property suite (BpeFoldPropSpec) can't reach —
    // through the actual Spark expressions.
    val rnd = new scala.util.Random(42)
    for (c <- 1 to 12) {
      val words = (1 to (3 + rnd.nextInt(6))).map { _ =>
        val len = 2 + rnd.nextInt(6)
        (1 to len).map(_ => if (rnd.nextBoolean()) "a" else "b").mkString
      }.distinct.map(w => w -> (1L + rnd.nextInt(9))).toSeq
      val got = planLearn(words, 3)
      val want = refLearn(words.toMap, 3)
      assert(got == want, s"case $c: $words -> $got != $want")
    }
  }

  test("8 rounds on the sf0.001 corpus match the sequential learner") {
    val d = graft.TestData.requireSf("sf0.001")
    val freqs = spark.read.parquet(s"$d/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS tok")
      .where("tok <> ''")
      .groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    import spark.implicits._
    val planned = PipelineOps.bpeLearnPlan(
        freqs.toSeq.toDF("w", "freq"), 8)
      .collect()
      .sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[String]("l"), r.getAs[String]("r"), r.getAs[Long]("cnt")))
      .toSeq
    assert(planned == refLearn(freqs, 8))
  }
}
