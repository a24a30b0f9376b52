package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.log.{BackendHarness, StreamStore}
import graft.model._

/** The live-dedup family's STATE BOUND (VERDICT r11 #1): every
  * streaming dedup demo runs `dropDuplicatesWithinWatermark` behind a
  * watermark on the record's ms clock, so the state store retains a
  * key only while the watermark is within the horizon of its event
  * time. This spec drives the clock PAST the horizon across query
  * restarts and pins all three halves of the contract:
  *
  *   1. BOUNDED — after the watermark passes a key's expiry the state
  *      row count drops back down; total state never approaches the
  *      count of distinct keys ever seen (the unbounded-dropDuplicates
  *      failure mode this spec exists to forbid).
  *   2. IN-HORIZON DUPS STILL DROP — a duplicate arriving while its
  *      key is retained is dropped, including across a checkpoint
  *      restart.
  *   3. EVICTION IS REAL — a key re-sent long after its horizon is
  *      re-emitted (its state row is gone), which is the documented
  *      dropDuplicatesWithinWatermark tradeoff: dedup is exact within
  *      the horizon, best-effort beyond it.
  */
class StreamDedupStateSpec extends AnyFunSuite with LocalSpark {

  override protected def conf = Seq("spark.sql.shuffle.partitions" -> "2")

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private val Hour = 3600L * 1000L

  test("dedup state is watermark-bounded across restarts") {
    val dir = BackendHarness.tempDir("graft-wmdedup").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("wm-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("wm-basin", "wd")
    def rec(body: String) = EnvelopeRecord(Nil, body.getBytes)

    // Mirrors EngineDemos.dedupWithinHorizon exactly: ms clock ->
    // ev_ts, 1-hour horizon, key = body.
    def run(): (Map[String, Int], Long) = {
      val q = spark.readStream.format("graft-stream")
        .option("root", dir).option("basin", "wm-basin")
        .option("stream", "wd").load()
        .selectExpr("CAST(body AS STRING) AS body",
          "timestamp_millis(timestamp) AS ev_ts")
        .withWatermark("ev_ts", "1 hour")
        .dropDuplicatesWithinWatermark(Seq("body"))
        .select("body")
        .writeStream.format("parquet")
        .option("path", s"$dir/_wdsink")
        .option("checkpointLocation", s"$dir/_wdckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val stateRows = q.recentProgress.toSeq
        .flatMap(_.stateOperators).lastOption
        .map(_.numRowsTotal).getOrElse(-1L)
      val kept = spark.read.parquet(s"$dir/_wdsink")
        .collect().map(_.getString(0)).toSeq
      (kept.groupBy(identity).view.mapValues(_.size).toMap, stateRows)
    }

    val base = 1000L * Hour // a pinned epoch hour, far from zero

    // Run 1: four distinct keys + an in-batch dup of "a".
    st.append("wm-basin", "wd", AppendInput(Seq(
      rec("a"), rec("b"), rec("d"), rec("e"), rec("a"))), Some(base))
    val (kept1, state1) = run()
    assert(kept1 == Map("a" -> 1, "b" -> 1, "d" -> 1, "e" -> 1),
      s"run1 kept $kept1")
    assert(state1 == 4L, s"run1 state rows $state1")

    // Run 2 (restart): the clock jumps 4 hours — far past the 1-hour
    // horizon of run 1's keys — carrying one new key. The dedup state
    // and the watermark both live in the checkpoint.
    st.append("wm-basin", "wd", AppendInput(Seq(rec("c"))),
      Some(base + 4 * Hour))
    val (kept2, state2) = run()
    assert(kept2 == kept1 + ("c" -> 1), s"run2 kept $kept2")

    // Run 3 (restart): watermark restored at (base+4h - 1h) = base+3h,
    // beyond run 1's expiries at base+1h -> a/b/d/e are evicted this
    // batch. "c" (expiry base+5h) is retained, so its dup still
    // drops; bounded state means the store holds ~one horizon of
    // keys, never the 5 distinct keys ever seen.
    st.append("wm-basin", "wd", AppendInput(Seq(
      rec("c"), rec("f"))), Some(base + 4 * Hour + 60 * 1000L))
    val (kept3, state3) = run()
    assert(kept3("c") == 1, s"in-horizon dup of c must drop: $kept3")
    assert(kept3("f") == 1, s"run3 kept $kept3")
    assert(state3 >= 0 && state3 <= 2,
      s"state must be bounded to the horizon (got $state3; unbounded would be 6)")

    // Run 4 (restart): "a" re-sent long after its horizon — its state
    // row is GONE, so it re-emits: the proof eviction physically
    // happened (an unbounded dedup would still drop it), and the
    // documented beyond-horizon tradeoff.
    st.append("wm-basin", "wd", AppendInput(Seq(rec("a"))),
      Some(base + 4 * Hour + 120 * 1000L))
    val (kept4, state4) = run()
    assert(kept4("a") == 2,
      s"beyond-horizon re-encode must re-emit (state evicted): $kept4")
    assert(state4 >= 0 && state4 <= 3, s"run4 state rows $state4")
  }
}
