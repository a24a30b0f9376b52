package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Semantic guarantees of the temporal joins that the DuckDB oracle
  * witnesses but a reader can't see from the plan: the as-of union+
  * window plan equals a brute-force nested-loop as-of (every purchase,
  * the max-(ts, id) click at-or-before it), and the bucketed range
  * join produces each qualifying pair exactly once (no edge-bucket
  * duplicates, no boundary loss) versus a direct inequality join.
  * Runs on the sf0.001 testdata so the cross-check is over real
  * distributions, not a fixture the implementation could be shaped to.
  */
class TemporalOpsSpec extends AnyFunSuite with LocalSpark {

  /** Fixture root; cancels (not fails) the calling test when the
    * driver-generated parquet isn't present on this machine.
    */
  private def Sf: String = {
    val d = graft.TestData.requireSf("sf0.001")
    d
  }

  private def queries = graft.SparkEntry.queries

  private case class Ev(userId: Long, eventId: Long, tsUs: Long)

  private def side(eventType: String): Seq[Ev] = {
    val rows = Records.events(spark, Sf)
      .selectExpr("user_id", "event_id", "ts div 1000 AS ts_us", "event_type")
      .where(s"event_type = '$eventType'")
      .collect()
    rows.map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("as-of join equals the brute-force nested-loop as-of on sf0.001") {
    val clicks = side("click").groupBy(_.userId)
    val expected = side("purchase").map { p =>
      val prior = clicks.getOrElse(p.userId, Nil)
        .filter(_.tsUs <= p.tsUs)
      val best = prior.sortBy(c => (c.tsUs, c.eventId)).lastOption
      (p.eventId, best.map(_.eventId).getOrElse(-1L),
        best.map(c => p.tsUs - c.tsUs).getOrElse(-1L))
    }.sortBy(_._1)

    val got = queries("j3_asof_join")(spark, Sf)
      .selectExpr("p_event_id", "click_id", "gap_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    assert(got == expected)
    // the dataset must actually exercise both branches
    assert(expected.exists(_._2 == -1L), "no purchase-before-any-click case")
    assert(expected.count(_._2 != -1L) > expected.size / 2)
  }

  test("as-of tie semantics: 25 seeded random datasets with dense ts collisions") {
    import spark.implicits._
    // Real event data has no same-microsecond collisions, so the tie
    // surface (click at exactly the purchase's ts; several clicks at
    // one ts -> highest click_id wins) only randomized tiny domains
    // exercise: 3 users x ts in 0..9 makes collisions the common case.
    for (seed <- 1 to 25) {
      val rnd = new scala.util.Random(seed)
      val clicks = Vector.tabulate(rnd.nextInt(12) + 1)(i =>
        (rnd.nextInt(3).toLong, rnd.nextInt(10).toLong, 100L + i))
      val purchases = Vector.tabulate(rnd.nextInt(8) + 1)(i =>
        (rnd.nextInt(3).toLong, rnd.nextInt(10).toLong, 200L + i))

      val got = TemporalOps.asofAttribution(
          clicks.toDF("user_id", "ts_us", "click_id"),
          purchases.toDF("user_id", "ts_us", "p_event_id"))
        .selectExpr("p_event_id", "click_id", "click_ts_us").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

      val expected = purchases.map { case (u, ts, pid) =>
        val best = clicks.filter(c => c._1 == u && c._2 <= ts)
          .sortBy(c => (c._2, c._3)).lastOption
        (pid, best.map(_._3).getOrElse(-1L), best.map(_._2).getOrElse(-1L))
      }.sortBy(_._1)

      assert(got == expected, s"seed=$seed clicks=$clicks purchases=$purchases")
    }
  }

  test("bucketed range join equals the direct inequality join on sf0.001") {
    val clicks = side("click").groupBy(_.userId)
    val hourUs = 3600L * 1000000L
    val expected = side("purchase").flatMap { p =>
      val n = clicks.getOrElse(p.userId, Nil)
        .count(c => c.tsUs >= p.tsUs - hourUs && c.tsUs < p.tsUs)
      if (n > 0) Some(p.eventId -> n.toLong) else None
    }.sortBy(_._1)

    val got = queries("j4_range_join")(spark, Sf)
      .selectExpr("p_event_id", "n_clicks").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(got == expected)
    assert(expected.nonEmpty, "no purchase with a click in the prior hour")
  }
}
