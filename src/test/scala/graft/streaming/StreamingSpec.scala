package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.log.BackendHarness

import graft.log.StreamStore
import graft.model._

/** R8 follow (file-stream tail over the store) and A8/A2/A3 streaming
  * sequencer tests, driven synchronously with memory sinks
  * (processAllAvailable).
  */
class StreamingSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Nil, body.getBytes)

  test("follow delivers catch-up then live batches in order (R8)") {
    val dir = BackendHarness.tempDir("graft-follow").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    st.append("test-basin", "s", AppendInput(Seq(env("a"), env("b"))), Some(1000L))

    val q = Follow.follow(st, "test-basin", "s", fromSeq = 1)
      .writeStream.format("memory").queryName("follow_out")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got1 = spark.sql("SELECT seq_num FROM follow_out ORDER BY seq_num")
        .collect().map(_.getLong(0)).toSeq
      assert(got1 == Seq(1L)) // catch-up, fromSeq=1 skips seq 0
      // live append lands as a new file -> next micro-batch
      st.append("test-basin", "s", AppendInput(Seq(env("c"), env("d"))), Some(2000L))
      q.processAllAvailable()
      val got2 = spark.sql("SELECT seq_num FROM follow_out ORDER BY seq_num")
        .collect().map(_.getLong(0)).toSeq
      assert(got2 == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("follow filters command records when asked (R10 on the live feed)") {
    val dir = BackendHarness.tempDir("graft-follow2").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    st.append("test-basin", "s",
      AppendInput(Seq(env("a"), FenceCommand("tok"), env("b"))), Some(1000L))
    val q = Follow.follow(st, "test-basin", "s", ignoreCommands = true)
      .writeStream.format("memory").queryName("follow_nc")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT seq_num FROM follow_nc ORDER BY seq_num")
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(0L, 2L))
    } finally q.stop()
  }

  test("continuous ingest: micro-batches land as contiguous durable appends (A8 end-to-end)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = BackendHarness.tempDir("graft-singest").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    val input = MemoryStream[(String, String, Option[Long], Array[Byte], Long)]
    val raw = input.toDF()
      .toDF("basin", "stream", "ts_client", "body", "arrival")
      .withColumn("headers", org.apache.spark.sql.functions.expr(
        "CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
    val q = StreamIngest.start(st, raw, s"$dir/_ckpt")
    try {
      input.addData(("test-basin", "s", Some(1000L), "a".getBytes, 0L),
                    ("test-basin", "s", Some(2000L), "b".getBytes, 1L))
      q.processAllAvailable()
      assert(st.checkTail("test-basin", "s").seqNum == 2)
      input.addData(("test-basin", "s", Some(1500L), "c".getBytes, 2L))
      q.processAllAvailable()
      val rows = st.readBatch("test-basin", "s",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0)))).toOption.get
      assert(rows.map(_.seqNum) == Seq(0L, 1L, 2L))
      // monotone clamp carried across micro-batches: 1500 -> 2000
      assert(rows.map(_.timestamp) == Seq(1000L, 2000L, 2000L))
    } finally q.stop()
  }

  test("streaming sequencer: contiguous seqs + monotone ts across micro-batches (A8)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Sequencer.RawAppend]
    val seqd = Sequencer.sequence(input.toDS(),
      initialTails = Map(("b1", "x") -> (5L, 3000L)),
      nowMs = () => 10000L)
    val q = seqd.writeStream.format("memory").queryName("seq_out")
      .outputMode("append").start()
    try {
      // batch 1: two streams interleaved, out-of-order arrival ids
      input.addData(
        Sequencer.RawAppend("b1", "x", 2, Some(4000L), "x2".getBytes),
        Sequencer.RawAppend("b1", "x", 1, Some(2000L), "x1".getBytes),
        Sequencer.RawAppend("b1", "y", 3, None, "y1".getBytes))
      q.processAllAvailable()
      // batch 2: continues from carried state
      input.addData(
        Sequencer.RawAppend("b1", "x", 4, Some(99999L), "x3".getBytes),
        Sequencer.RawAppend("b1", "y", 5, Some(1L), "y2".getBytes))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT stream, seqNum, timestamp FROM seq_out ORDER BY stream, seqNum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(
        // x: starts at tail 5; ts 2000 clamped to carried max 3000, then 4000;
        // batch 2: future 99999 capped to now=10000
        ("x", 5L, 3000L), ("x", 6L, 4000L), ("x", 7L, 10000L),
        // y: fresh stream; None -> now; batch 2: 1 clamps to running max
        ("y", 0L, 10000L), ("y", 1L, 10000L)))
    } finally q.stop()
  }
}
