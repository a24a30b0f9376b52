package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

import graft.log.{BackendHarness, DirectParquet, Layout, StreamStore}
import graft.model._

/** The custom DataSource V2 micro-batch source: seq_num offsets,
  * footer-stat file pruning, checkpoint resumption.
  */
class GraftSourceSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def env(body: String): EnvelopeRecord =
    EnvelopeRecord(Seq(Header.utf8("h", "v")), body.getBytes)

  test("seq offsets: catch-up from startSeq, live batches, only durable rows") {
    val dir = BackendHarness.tempDir("graft-src").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    st.append("test-basin", "s", AppendInput(Seq(env("a"), env("b"), env("c"))), Some(1000L))

    val stream = spark.readStream.format("graft-stream")
      .option("root", dir).option("basin", "test-basin").option("stream", "s")
      .option("startSeq", "1")
      .load()
    val q = stream.writeStream.format("memory").queryName("gsrc")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got1 = spark.sql("SELECT seq_num, CAST(body AS STRING) FROM gsrc ORDER BY seq_num")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got1 == Seq((1L, "b"), (2L, "c"))) // startSeq=1 skips seq 0
      // live appends arrive as the next micro-batch
      st.append("test-basin", "s", AppendInput(Seq(env("d"))), Some(2000L))
      q.processAllAvailable()
      val got2 = spark.sql("SELECT seq_num FROM gsrc ORDER BY seq_num")
        .collect().map(_.getLong(0)).toSeq
      assert(got2 == Seq(1L, 2L, 3L))
      // headers survive the custom reader
      val h = spark.sql("SELECT headers FROM gsrc WHERE seq_num = 1").first()
        .getSeq[org.apache.spark.sql.Row](0)
      assert(new String(h.head.getAs[Array[Byte]](0)) == "h")
    } finally q.stop()
  }

  test("an encrypted stream tails through the source with in-plan decryption (A13 x R8)") {
    // bodies land encrypted (format-byte framing); the follower's
    // pipeline composes the SAME codegen'd record_decrypt column the
    // batch read path uses — live micro-batches decrypt in-plan,
    // never on the driver, and a wrong key fails authentication
    // instead of delivering garbage
    val dir = BackendHarness.tempDir("graft-src-enc").toString
    val st = new StreamStore(spark, dir)
    val key = Array.fill(32)(0x77.toByte)
    st.catalog.createBasin("enc-src-basin", BasinConfig(
      defaultStreamConfig = StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
      streamCipher = Some(graft.log.CipherAlgo.Aegis256)))
    st.catalog.createStream("enc-src-basin", "s")
    st.append("enc-src-basin", "s", AppendInput(Seq(env("cipher-a"), env("cipher-b"))),
      Some(1000L), Some(key))

    val stream = spark.readStream.format("graft-stream")
      .option("root", dir).option("basin", "enc-src-basin").option("stream", "s")
      .load()
    val decrypted = graft.log.RecordCipher.decryptRecords(
      stream, key, "enc-src-basin", "s")
    val q = decrypted.writeStream.format("memory").queryName("gsrcenc")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // catch-up batch decrypted
      assert(spark.sql("SELECT CAST(body AS STRING) FROM gsrcenc ORDER BY seq_num")
        .collect().map(_.getString(0)).toSeq == Seq("cipher-a", "cipher-b"))
      // a LIVE append decrypts in the next micro-batch too
      st.append("enc-src-basin", "s", AppendInput(Seq(env("cipher-c"))),
        Some(2000L), Some(key))
      q.processAllAvailable()
      assert(spark.sql("SELECT CAST(body AS STRING) FROM gsrcenc ORDER BY seq_num")
        .collect().map(_.getString(0)).toSeq ==
        Seq("cipher-a", "cipher-b", "cipher-c"))
    } finally q.stop()
    // raw tail (no decrypt column) delivers the encrypted framing —
    // the source itself never sees plaintext
    val raw = spark.readStream.format("graft-stream")
      .option("root", dir).option("basin", "enc-src-basin").option("stream", "s")
      .load()
    val q2 = raw.writeStream.format("memory").queryName("gsrcraw")
      .option("checkpointLocation", s"$dir/_ckpt2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val b = spark.sql("SELECT body FROM gsrcraw WHERE seq_num = 0").first()
        .getAs[Array[Byte]](0)
      assert(b(0) == graft.log.CipherAlgo.Aegis256.formatId)
    } finally q2.stop()
  }

  test("checkpoint resumption continues exactly after the last offset (R9)") {
    val dir = BackendHarness.tempDir("graft-src2").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    st.append("test-basin", "s", AppendInput(Seq(env("a"), env("b"))), Some(1000L))

    def run(): Seq[Long] = {
      val q = spark.readStream.format("graft-stream")
        .option("root", dir).option("basin", "test-basin").option("stream", "s")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$dir/_sink")
        .option("checkpointLocation", s"$dir/_ckpt2")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(s"$dir/_sink").select("seq_num")
        .collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(run() == Seq(0L, 1L))
    // new data while the query is down; restart must deliver ONLY seq 2+
    st.append("test-basin", "s", AppendInput(Seq(env("c"))), Some(2000L))
    assert(run() == Seq(0L, 1L, 2L)) // sink accumulates; no duplicates
  }

  test("admission control: maxRecordsPerTrigger bounds each micro-batch") {
    val dir = BackendHarness.tempDir("graft-src3").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    // a 12-record backlog across several files; a resume-from-0 follower
    // must drain it as several bounded batches, not one
    (0 until 4).foreach(i => st.append("test-basin", "s",
      AppendInput(Seq(env(s"a$i"), env(s"b$i"), env(s"c$i"))), Some(1000L + i)))

    val q = spark.readStream.format("graft-stream")
      .option("root", dir).option("basin", "test-basin").option("stream", "s")
      .option("maxRecordsPerTrigger", "5")
      .load()
      .writeStream.format("memory").queryName("gsrc_adm")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM gsrc_adm").first().getLong(0) == 12L)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length >= 3, s"expected >= 3 bounded batches, got ${batches.toSeq}")
      assert(batches.forall(_ <= 5), s"batch exceeded cap: ${batches.toSeq}")
    } finally q.stop()
  }

  test("admission control: maxBytesPerTrigger admits whole files up to the budget") {
    val dir = BackendHarness.tempDir("graft-src4").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    (0 until 3).foreach(i => st.append("test-basin", "s",
      AppendInput(Seq(env(s"x$i"), env(s"y$i"))), Some(1000L + i)))

    val q = spark.readStream.format("graft-stream")
      .option("root", dir).option("basin", "test-basin").option("stream", "s")
      .option("maxBytesPerTrigger", "1") // below one file: still admits 1 file/batch
      .load()
      .writeStream.format("memory").queryName("gsrc_bytes")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM gsrc_bytes").first().getLong(0) == 6L)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length == 3, s"expected one file per batch, got ${batches.toSeq}")
    } finally q.stop()
  }

  test("visibility: follow-from-0 delivers nothing below the trim point") {
    val dir = BackendHarness.tempDir("graft-src5").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    st.append("test-basin", "s",
      AppendInput(Seq(env("a"), env("b"), env("c"), env("d"), env("e"))), Some(1000L))
    // trim the prefix [0, 3); the files are NOT compacted yet — the
    // streaming path must still mask them like the batch path does
    st.append("test-basin", "s", AppendInput(Seq(TrimCommand(3L))), Some(2000L))
    assert(st.manifest("test-basin", "s").trimPoint == 3L)

    val q = spark.readStream.format("graft-stream")
      .option("root", dir).option("basin", "test-basin").option("stream", "s")
      .option("startSeq", "0")
      .load()
      .writeStream.format("memory").queryName("gsrc_trim")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val seqs = spark.sql("SELECT seq_num FROM gsrc_trim ORDER BY seq_num")
        .collect().map(_.getLong(0)).toSeq
      assert(seqs == Seq(3L, 4L, 5L)) // 5 = the trim command record itself
    } finally q.stop()
  }

  test("visibility: retention-expired records are masked from followers (pinned clock)") {
    val dir = BackendHarness.tempDir("graft-src6").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin")
    st.catalog.createStream("test-basin", "s",
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Age(3600))))
    // pinned time: "now" = 4e9 ms; records at ts 1000 are expired,
    // records at ts 4e9 are inside the hour window — no wall clock
    val pinned = 4000000000L
    st.append("test-basin", "s", AppendInput(Seq(env("old1"), env("old2"))), Some(1000L))
    st.append("test-basin", "s", AppendInput(Seq(env("new1"), env("new2"))), Some(pinned))

    val q = spark.readStream.format("graft-stream")
      .option("root", dir).option("basin", "test-basin").option("stream", "s")
      .option("nowMs", pinned.toString)
      .load()
      .writeStream.format("memory").queryName("gsrc_ret")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val seqs = spark.sql("SELECT seq_num FROM gsrc_ret ORDER BY seq_num")
        .collect().map(_.getLong(0)).toSeq
      assert(seqs == Seq(2L, 3L))
    } finally q.stop()

    // batch and streaming visibility of the same boundary stream must
    // agree row-for-row at the same pinned clock (VERDICT r3 item 5)
    val batch = st.read("test-basin", "s",
        ReadSpec(ReadStart(ReadFrom.SeqNum(0))), nowMs = Some(pinned))
      .toOption.get.select("seq_num")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(batch == Seq(2L, 3L))
  }

  test("batch read through the connector equals the engine read path") {
    val dir = BackendHarness.tempDir("graft-src8").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    st.append("test-basin", "s",
      AppendInput(Seq(env("a"), env("b"), env("c"), env("d"), env("e"))), Some(1000L))
    st.append("test-basin", "s", AppendInput(Seq(TrimCommand(2L))), Some(2000L))
    st.append("test-basin", "s", AppendInput(Seq(env("f"), env("g"))), Some(3000L))

    def connector(stream: String, opts: (String, String)*) =
      opts.foldLeft(spark.read.format("graft-stream")
        .option("root", dir).option("basin", "test-basin")
        .option("stream", stream)) { case (r, (k, v)) => r.option(k, v) }
        .load()
    def seqs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("seq_num").collect().map(_.getLong(0)).toSeq.sorted
    def engine(stream: String, spec: ReadSpec, nowMs: Option[Long] = None,
               ignoreCommands: Boolean = false) =
      st.read("test-basin", stream, spec, ignoreCommands, nowMs).toOption.get
    def metered(df: org.apache.spark.sql.DataFrame): Long =
      df.selectExpr("coalesce(sum(metered_size), 0L)").first().getLong(0)
    val fromZero = ReadSpec(ReadStart(ReadFrom.SeqNum(0)))

    // same connector, batch: spark.read instead of readStream
    val got = seqs(connector("s"))
    assert(got == seqs(engine("s", fromZero)) && got == Seq(2L, 3L, 4L, 5L, 6L, 7L),
      s"trim not masked alike: $got") // trim masked
    assert(got == seqs(st.visible("test-basin", "s")))
    assert(st.storageBytesFast("test-basin", "s") ==
      metered(st.visible("test-basin", "s")))

    // explicit seq bounds prune
    assert(seqs(connector("s", "startSeq" -> "3", "endSeq" -> "5")) == Seq(3L, 4L))

    // an `until` bound: the engine stops before the first record at or
    // past it; the connector and visible see the same rows by predicate
    val until = seqs(engine("s",
      fromZero.copy(end = ReadEnd(until = Some(3000L)))))
    assert(until == Seq(2L, 3L, 4L, 5L), s"until: $until")
    assert(seqs(connector("s").where(col("timestamp") < 3000L)) == until)
    assert(seqs(st.visible("test-basin", "s").where(col("timestamp") < 3000L)) == until)

    // a timestamp start: the first visible record at or past it
    val fromTs = seqs(engine("s", ReadSpec(ReadStart(ReadFrom.Timestamp(2000L)))))
    assert(fromTs == Seq(5L, 6L, 7L), s"timestamp start: $fromTs")
    assert(seqs(connector("s").where(col("timestamp") >= 2000L)) == fromTs)
    assert(seqs(st.visible("test-basin", "s").where(col("timestamp") >= 2000L)) == fromTs)

    // ignoreCommands: the follower and the engine drop the same rows
    val noCmds = seqs(engine("s", fromZero, ignoreCommands = true))
    assert(noCmds == Seq(2L, 3L, 4L, 6L, 7L), s"ignoreCommands: $noCmds")
    val q = Follow.follow(st, "test-basin", "s", ignoreCommands = true)
      .writeStream.format("memory").queryName("gsrc_eq_cmds")
      .option("checkpointLocation", s"$dir/_ckpt_cmds")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(seqs(spark.table("gsrc_eq_cmds")) == noCmds)
    } finally q.stop()

    // an Age retention at a pinned clock: records at ts 1000 are expired,
    // records at the pinned time are inside the hour
    val pinned = 4000000000L
    st.catalog.createStream("test-basin", "r",
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Age(3600))))
    st.append("test-basin", "r", AppendInput(Seq(env("old1"), env("old2"))), Some(1000L))
    st.append("test-basin", "r",
      AppendInput(Seq(env("new1"), env("new1b"))), Some(pinned - 1000L))
    st.append("test-basin", "r", AppendInput(Seq(env("new2"))), Some(pinned))
    val live = seqs(connector("r", "nowMs" -> pinned.toString))
    assert(live == Seq(2L, 3L, 4L), s"retention: $live")
    assert(seqs(engine("r", fromZero, Some(pinned))) == live)
    assert(seqs(st.visible("test-basin", "r", Some(pinned))) == live)
    assert(st.storageBytesFast("test-basin", "r", Some(pinned)) ==
      metered(st.visible("test-basin", "r", Some(pinned))))
    assert(st.storageBytesFast("test-basin", "r", Some(pinned)) ==
      metered(connector("r", "nowMs" -> pinned.toString)))
  }

  test("connector overlap guard: a duplicate-range twin below the tail is " +
    "never served; the planner re-lists until it vanishes") {
    val dir = BackendHarness.tempDir("graft-src10").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    assert(st.append("test-basin", "s", AppendInput(Seq(env("real"))), Some(1000L)).isRight)
    val genDir = Paths.get(Layout.genDir(st.root, "test-basin", "s",
      st.manifest("test-basin", "s").generation))
    // a loser twin covering the SAME committed range with a different
    // body, published whole into the generation dir
    val scratch = BackendHarness.tempDir("graft-src10-twin")
    val f = Paths.get(DirectParquet.writeBatch(scratch.toString,
      Seq(DirectParquet.Rec(0L, 999L, Nil, "ghost".getBytes("UTF-8"), 13L))))
    val ghost = Files.move(f, genDir.resolve(f.getFileName))
    val deleter = new Thread(() => { Thread.sleep(200); Files.delete(ghost) })
    deleter.start()
    val rows = try spark.read.format("graft-stream")
      .option("root", dir).option("basin", "test-basin").option("stream", "s")
      .load().selectExpr("seq_num", "CAST(body AS STRING)")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    finally deleter.join()
    assert(rows == Seq((0L, "real")), s"connector served a transient twin: $rows")
  }

  test("batch read pushes seq_num/timestamp predicates into file pruning") {
    val dir = BackendHarness.tempDir("graft-src9").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    // two files: seqs 0-2 (ts 1000), seqs 3-5 (ts 2000)
    st.append("test-basin", "s",
      AppendInput(Seq(env("a"), env("b"), env("c"))), Some(1000L))
    st.append("test-basin", "s",
      AppendInput(Seq(env("d"), env("e"), env("f"))), Some(2000L))

    def scan() = spark.read.format("graft-stream")
      .option("root", dir).option("basin", "test-basin").option("stream", "s")
      .load()

    // a WHERE on seq_num must both return exact rows and open only the
    // overlapping file (on this suite's 4 cores two tiny files plan as
    // two input partitions: each costs spark.sql.files.openCostInBytes,
    // the split size here)
    val q = scan().where(col("seq_num") >= 3)
    assert(q.select("seq_num").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L, 5L))
    assert(q.rdd.getNumPartitions == 1, "seq_num bound did not prune the first file")

    val q2 = scan().where(col("timestamp") < 1500)
    assert(q2.select("seq_num").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L))
    assert(q2.rdd.getNumPartitions == 1, "timestamp bound did not prune the second file")
  }

  test("bytes admission charges only the remaining suffix of a mid-file resume") {
    import graft.log.{FileIndex, Layout}
    import graft.streaming.source.{GraftMicroBatchStream, GraftOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit

    val dir = BackendHarness.tempDir("graft-src7").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("test-basin",
      BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
    st.catalog.createStream("test-basin", "s")
    // file 1: seqs 0-3, file 2: seqs 4-5
    st.append("test-basin", "s",
      AppendInput(Seq(env("a"), env("b"), env("c"), env("d"))), Some(1000L))
    st.append("test-basin", "s", AppendInput(Seq(env("e"), env("f"))), Some(2000L))

    val files = FileIndex.listStats(Layout.genDir(dir, "test-basin", "s", 0L))
    assert(files.size == 2)
    val whole1 = FileIndex.sums(files(0).path).metered
    val whole2 = FileIndex.sums(files(1).path).metered
    val prefix = FileIndex.prefixMetered(files(0).path, 2L) // seqs 0,1
    assert(prefix > 0 && prefix < whole1)

    // resuming at seq 2 with a budget of exactly (rest of file 1 +
    // file 2): both files must be admitted — charging whole1 would
    // stop after the boundary file (VERDICT r3 item 7)
    val budget = (whole1 - prefix) + whole2
    val mbs = new GraftMicroBatchStream(dir, "test-basin", "s", 0L, None, Some(budget))
    val end = mbs.latestOffset(GraftOffset(2L), ReadLimit.maxBytes(budget))
    assert(end == GraftOffset(6L), s"expected both files admitted, got $end")

    // one byte less: only the boundary file fits
    val mbs2 = new GraftMicroBatchStream(dir, "test-basin", "s", 0L, None, Some(budget - 1))
    val end2 = mbs2.latestOffset(GraftOffset(2L), ReadLimit.maxBytes(budget - 1))
    assert(end2 == GraftOffset(4L), s"expected boundary file only, got $end2")
  }
}
