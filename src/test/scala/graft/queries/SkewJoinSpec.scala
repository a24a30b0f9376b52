package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Skew hardening beyond j5_salted_join's explicit x8 salt (VERDICT
  * r11 #7): the engine's OTHER answer to a hot join key is AQE's
  * runtime skew-join split, and this spec is the audit that it
  * actually engages and actually flattens task skew — measured from
  * TASK METRICS, not plan strings alone.
  *
  * Fixture: a Zipf-ish band-bucket table where ONE key owns half of
  * all rows (the boilerplate-bucket shape an LSH banding produces on
  * a templated corpus) joined against a per-key dim too large to
  * broadcast. Without mitigation the hot key's shuffle partition is
  * one task doing ~half the stage; with skewJoin enabled AQE splits
  * it, and no task may read more than a bounded share of the join
  * stage's input.
  *
  * Division of labor this spec pins (see SURVEY "skew strategy"):
  *  - LSH band-bucket candidate joins: capped BEFORE the join
  *    (TextOps.cappedCandidates) — skew is removed structurally, AQE
  *    not needed;
  *  - j5_salted_join: explicit salting, the portable form when the
  *    dim can't broadcast and skew exceeds AQE's split granularity;
  *  - everything else (events/profile joins, doc joins at 100 TB):
  *    relies on AQE skew-join — THIS spec is the proof it engages.
  */
class SkewJoinSpec extends AnyFunSuite with LocalSpark {

  override protected def conf = Seq(
    "spark.sql.shuffle.partitions" -> "10",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    // test-sized skew thresholds: hot partition ~8 MB vs ~1 MB median
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "512k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256k",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** Runs `f` and returns, for the stage with the largest total
    * shuffle-read record count (the join stage), the max single-task
    * share of that count.
    */
  private def maxTaskShare(f: => Unit): Double = {
    val perStage = scala.collection.mutable.Map.empty[Int, List[Long]]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          val recs = m.shuffleReadMetrics.recordsRead
          if (recs > 0) perStage.synchronized {
            perStage(t.stageId) = recs :: perStage.getOrElse(t.stageId, Nil)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // drain the listener bus: task-end events are async
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var size = -1
      while (System.nanoTime() < deadline &&
        { val s = perStage.synchronized(perStage.values.map(_.size).sum)
          val changed = s != size; size = s; changed }) Thread.sleep(200)
    } finally spark.sparkContext.removeSparkListener(listener)
    val joinStage = perStage.maxBy(_._2.sum)._2
    joinStage.max.toDouble / joinStage.sum
  }

  private def runJoin(): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 200000
    // left: band-bucket rows, key "hot" owns 50% (Zipf head); ~100 B
    // of payload per row so byte-based skew detection sees it
    val left = spark.range(n).select(
      when(col("id") % 2 === 0, lit("hot"))
        .otherwise(concat(lit("k"), (col("id") % 997).cast("string")))
        .as("band_key"),
      col("id").as("doc_id"),
      lpad(col("id").cast("string"), 96, "x").as("pad"))
    val dim = spark.range(1000).select(
      when(col("id") === 0, lit("hot"))
        .otherwise(concat(lit("k"), (col("id") % 997).cast("string")))
        .as("band_key"),
      (col("id") * 37).as("bucket_stat"))
      .distinct()
    // consume with an aggregation NOT keyed on band_key: a downstream
    // shuffle on the join key would inhibit OptimizeSkewedJoin (it
    // refuses to break a reusable partitioning)
    left.join(dim, "band_key")
      .agg(sum(length(col("pad")) + col("bucket_stat")))
      .collect()
  }

  test("AQE skew-join splits the hot band-bucket: no task reads more " +
    "than 35% of the join stage (unmitigated: one task reads half)") {
    val withSkewHandling = maxTaskShare {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      runJoin()
    }
    val without = maxTaskShare {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      runJoin()
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    assert(without >= 0.45,
      f"fixture lost its teeth: unmitigated max-task share $without%.2f " +
        "should be ~0.5 (the hot key in one task)")
    // RELATIVE improvement, not an absolute ceiling (ADVICE r12): the
    // absolute share AQE lands on depends on the host's byte-size
    // estimates and can drift near a hard threshold under load; what
    // the test owns is that the split HAPPENED — the hot task's share
    // drops by at least 1.3x vs the unmitigated run, with a loose
    // absolute sanity bound well above any value a working split
    // produces on this fixture (~0.2-0.3).
    assert(withSkewHandling < without / 1.3 && withSkewHandling <= 0.42,
      f"AQE skew-join did not flatten the hot bucket: max task share " +
        f"$withSkewHandling%.2f (unmitigated $without%.2f)")
  }
}
