package graft.log

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark
import graft.model._

/** `StreamStore.read` is an ordered scan: its partitions are runs of
  * the seq-sorted, disjoint data files, so every read comes back in
  * seq order with no sort and no exchange in the plan, whatever the
  * shuffle-partition count or AQE setting.
  */
class OrderedReadSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private val key = Array.fill(32)(0x5a.toByte)

  private def env(body: String, hs: (String, String)*): EnvelopeRecord =
    EnvelopeRecord(hs.map { case (n, v) => Header.utf8(n, v) }, body.getBytes)

  private def store(prefix: String): StreamStore = {
    val st = new StreamStore(spark, BackendHarness.tempDir(prefix).toString)
    Seq("ord-plain" -> None, "ord-aegis" -> Some(CipherAlgo.Aegis256)).foreach {
      case (b, algo) =>
        st.catalog.createBasin(b, BasinConfig(
          defaultStreamConfig =
            StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
          streamCipher = algo)).fold(e => fail(e), identity)
        st.catalog.createStream(b, "s")
    }
    st
  }

  /** One stream, the same in both basins: unary appends, a trim and a
    * fence command, a compaction (the trimmed prefix becomes physical
    * in a new generation), more appends, a bulk `ingest`, and a second
    * trim that stays a logical mask. */
  private def build(st: StreamStore, basin: String, cipher: Option[Array[Byte]]): Unit = {
    def append(in: AppendInput, now: Long): Unit =
      st.append(basin, "s", in, Some(now), cipher).fold(e => fail(e.toString), identity)
    (0 until 20).foreach { i =>
      append(AppendInput((0 until 5).map(j =>
        if (j % 2 == 0) env(s"u$i-$j", "h" -> s"v$i") else env(s"u$i-$j"))), 1000L + 10 * i)
    }
    append(AppendInput(Seq(TrimCommand(30))), 1200L)             // seq 100
    append(AppendInput(Seq(FenceCommand("tok-1"))), 1210L)       // seq 101
    st.compact(basin, "s", Some(1220L))
    assert(st.manifest(basin, "s").generation > 0)
    (0 until 10).foreach { i =>
      append(AppendInput((0 until 3).map(j => env(s"c$i-$j" * (j + 1)))), 1300L + 10 * i)
    }                                                             // seqs 102..131
    import spark.implicits._
    val bulk = (0 until 60).map(i => (basin, "s", Option(1500L + i), s"bulk-$i".getBytes, i.toLong))
      .toDF("basin", "stream", "ts_client", "body", "arrival")
      .withColumn("headers", expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .select("basin", "stream", "ts_client", "headers", "body", "arrival")
    st.ingest(bulk, Some(1600L), cipher = cipher)                 // seqs 132..191
    append(AppendInput(Seq(TrimCommand(40))), 1700L)             // seq 192
    append(AppendInput(Seq(env("last-a"), env("last-b"))), 1710L) // seqs 193..194
  }

  /** (seq, ts, headers, body, metered) of a collected read. */
  private type Rec = (Long, Long, String, String, Long)

  private def rows(df: DataFrame): Seq[Rec] = df.collect().toSeq.map { r =>
    val hs = Option(r.getSeq[org.apache.spark.sql.Row](2)).map(_.map(h =>
      s"${Option(h.getAs[Array[Byte]](0)).map(new String(_)).orNull}=" +
        s"${Option(h.getAs[Array[Byte]](1)).map(new String(_)).orNull}").mkString(";"))
    (r.getLong(0), r.getLong(1), hs.orNull,
      Option(r.getAs[Array[Byte]](3)).map(new String(_)).orNull, r.getLong(4))
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Every sort, top-K or exchange node, AQE stages included. */
    def ordering(p: SparkPlan): Seq[String] = collect(p) {
      case n @ (_: Exchange | _: SortExec | _: TakeOrderedAndProjectExec) => n.nodeName
    }
  }

  private val settings = for (parts <- Seq(1, 7); aqe <- Seq(true, false)) yield (parts, aqe)

  /** `f`'s read, collected under every (shuffle partitions, AQE)
    * setting: identical rows each time, a plan with no sort and no
    * exchange. */
  private def underEverySetting(what: String)(f: => DataFrame): Seq[Rec] = {
    val results = settings.map { case (parts, aqe) =>
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        val df = f
        val got = rows(df)
        val bad = Plans.ordering(df.queryExecution.executedPlan)
        assert(bad.isEmpty, s"$what (partitions=$parts, aqe=$aqe) plans $bad:\n" +
          df.queryExecution.executedPlan)
        got
      } finally {
        spark.conf.unset("spark.sql.shuffle.partitions")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
    results.drop(1).foreach(r => assert(r == results.head, s"$what differs across settings"))
    val seqs = results.head.map(_._1)
    assert(seqs.zip(seqs.drop(1)).forall { case (a, b) => a < b },
      s"$what is not strictly seq-ascending: $seqs")
    results.head
  }

  private def isCommand(r: Rec): Boolean = r._3 != null && !r._3.contains(";") && r._3.startsWith("=")

  test("every read is seq-ordered, budget-exact and identical under shuffle " +
    "partitions {1, 7} x AQE {on, off}, with no sort and no exchange in its plan") {
    val st = store("graft-ordread")
    build(st, "ord-plain", None)
    build(st, "ord-aegis", Some(key))
    assert(st.checkTail("ord-plain", "s").seqNum == 195)

    def read(spec: ReadSpec, ignoreCommands: Boolean = false): Seq[Rec] = {
      val what = s"$spec ignoreCommands=$ignoreCommands"
      val plain = underEverySetting(what)(
        st.read("ord-plain", "s", spec, ignoreCommands).fold(e => fail(e), identity))
      val dec = underEverySetting(s"$what (aegis)")(
        st.read("ord-aegis", "s", spec, ignoreCommands, cipher = Some(key))
          .fold(e => fail(e), identity))
      assert(dec == plain, s"$what: decrypted AEGIS-256 read differs from plaintext")
      plain
    }
    def from(s: ReadFrom, limit: ReadLimit = ReadLimit(), until: Option[Long] = None) =
      ReadSpec(ReadStart(s), ReadEnd(limit, until))

    // the whole visible stream: 40..194, trimmed prefix masked, commands kept
    val all = read(from(ReadFrom.SeqNum(0)))
    assert(all.map(_._1) == (40L until 195L))
    assert(all.exists(isCommand))
    val data = read(from(ReadFrom.SeqNum(0)), ignoreCommands = true)
    assert(data == all.filterNot(isCommand))
    assert(data.map(_._1) == (40L until 195L).filterNot(Set(100L, 101L, 192L)))

    def after(seq: Long, rs: Seq[Rec] = all) = rs.filter(_._1 >= seq)
    def budget(rs: Seq[Rec], count: Long, bytes: Long): Seq[Rec] =
      rs.zip(rs.scanLeft(0L)(_ + _._5).drop(1)).zipWithIndex
        .takeWhile { case ((_, cum), i) => i < count && cum <= bytes }.map(_._1._1)

    assert(read(from(ReadFrom.SeqNum(120))) == after(120))
    // first record at or after ts 1305 is seq 105 (the append at ts 1310)
    assert(all.find(_._2 >= 1305L).map(_._1).contains(105L))
    assert(read(from(ReadFrom.Timestamp(1305L))) == after(105))
    assert(read(from(ReadFrom.TailOffset(25))) == after(170))
    assert(read(from(ReadFrom.SeqNum(50), until = Some(1330L))) ==
      after(50).filter(_._2 < 1330L))

    val count = read(from(ReadFrom.SeqNum(45), ReadLimit(count = Some(17))))
    assert(count == after(45).take(17))
    val bytes = read(from(ReadFrom.SeqNum(60), ReadLimit(bytes = Some(500L))))
    assert(bytes.nonEmpty && bytes == budget(after(60), Long.MaxValue, 500L))
    assert(bytes.map(_._5).sum <= 500L)
    for ((c, b) <- Seq(10L -> 4000L, 1000L -> 900L)) {
      val both = read(from(ReadFrom.SeqNum(90), ReadLimit(count = Some(c), bytes = Some(b))))
      assert(both == budget(after(90), c, b), s"count $c bytes $b")
    }
    // command records do not spend the budget of an ignoreCommands read
    val dataCount = read(from(ReadFrom.SeqNum(95), ReadLimit(count = Some(12))),
      ignoreCommands = true)
    assert(dataCount == after(95, data).take(12))
    assert(dataCount.map(_._1).contains(106L))
  }

  test("many small files pack into few partitions; a full read is seq 0..299 " +
    "and take(5) stops early without leaving a parquet reader open") {
    val root = BackendHarness.tempDir("graft-ordpack")
    val st = new StreamStore(spark, root.toString)
    st.catalog.createBasin("ord-plain", BasinConfig(defaultStreamConfig =
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st.catalog.createStream("ord-plain", "p")
    (0 until 300).foreach { i =>
      st.append("ord-plain", "p", AppendInput(Seq(env(s"r$i"))), Some(1000L + i))
        .fold(e => fail(e.toString), identity)
    }
    val spec = ReadSpec(ReadStart(ReadFrom.SeqNum(0)))
    val df = st.read("ord-plain", "p", spec).fold(e => fail(e), identity)
    assert(df.inputFiles.length == 300)
    val parts = df.rdd.getNumPartitions
    assert(parts > 1 && parts <= 30, s"300 files planned as $parts partitions")
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 300L))

    def openUnder(dir: Path): Seq[String] = {
      val fds = Paths.get("/proc/self/fd")
      if (!Files.isDirectory(fds)) Nil
      else Files.list(fds).iterator().asScala.flatMap { fd =>
        try Some(Files.readSymbolicLink(fd).toString) catch { case _: java.io.IOException => None }
      }.filter(_.startsWith(dir.toRealPath().toString)).toSeq
    }
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    val first = st.read("ord-plain", "p", spec).fold(e => fail(e), identity).take(5)
    assert(first.map(_.getLong(0)).toSeq == (0L until 5L))
    val open = openUnder(root)
    assert(open.isEmpty, s"take(5) left files open: $open")
  }

  test("the partition reader fails the task on a seq regression") {
    val st = store("graft-ordregr")
    (0 until 2).foreach { i =>
      st.append("ord-plain", "s", AppendInput(Seq(env(s"a$i"), env(s"b$i"))), Some(1000L + i))
        .fold(e => fail(e.toString), identity)
    }
    val files = FileIndex.listStats(Layout.genDir(st.root, "ord-plain", "s", 0L))
    assert(files.map(_.minSeq) == Seq(0L, 2L))
    val mask = Visibility.Mask(0L, 4L, Long.MinValue, Long.MaxValue)
    assert(drain(files, mask) == Seq(0L, 1L, 2L, 3L))
    val e = intercept[IllegalStateException](drain(files.reverse, mask))
    assert(e.getMessage.contains("regression"))
  }

  test("a count-10 read from the middle of a compacted multi-row-group file " +
    "reads about its range, not the whole file") {
    val root = BackendHarness.tempDir("graft-ordmid")
    val st = new StreamStore(spark, root.toString)
    st.catalog.createBasin("ord-plain", BasinConfig(defaultStreamConfig =
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    st.catalog.createStream("ord-plain", "m")
    import spark.implicits._
    val n = 20000
    val rnd = new scala.util.Random(7)
    val bulk = (0 until n).map { i =>
      ("ord-plain", "m", Option(1000L + i), Array.fill(200)(rnd.nextInt().toByte), i.toLong)
    }.toDF("basin", "stream", "ts_client", "body", "arrival")
      .withColumn("headers", expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"))
      .select("basin", "stream", "ts_client", "headers", "body", "arrival")
    st.ingest(bulk, Some(50000L))
    // small row groups, so the one compacted file holds many of them
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 64 << 10)
    try st.compact("ord-plain", "m", Some(60000L)) finally hc.unset("parquet.block.size")
    val files = FileIndex.listStats(Layout.genDir(root.toString, "ord-plain", "m",
      st.manifest("ord-plain", "m").generation))
    assert(files.map(f => (f.minSeq, f.maxSeq)) == Seq((0L, n - 1L)))
    val rowGroups = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.path), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.size finally r.close()
    }
    assert(rowGroups >= 16, s"compacted file has $rowGroups row groups")

    val mid = (n / 2).toLong
    val spec = ReadSpec(ReadStart(ReadFrom.SeqNum(mid)), ReadEnd(ReadLimit(count = Some(10))))
    assert(st.readBatch("ord-plain", "m", spec).fold(e => fail(e), identity)
      .map(_.position.seqNum) == (mid until mid + 10))

    // bytes this process reads while the partition reader drains
    // `mask` over the file. The kernel's count (`rchar`), not Hadoop's
    // FileSystem statistics: parquet's vectored reads go through an
    // asynchronous channel those statistics do not see.
    val io = Paths.get("/proc/self/io")
    assume(Files.isReadable(io), "needs /proc/self/io")
    def rchar: Long = Files.readAllLines(io).asScala
      .collectFirst { case l if l.startsWith("rchar:") => l.drop(6).trim.toLong }.get
    def bytesRead(mask: Visibility.Mask): (Seq[Long], Long) = {
      val before = rchar
      val seqs = drain(files, mask)
      (seqs, rchar - before)
    }
    val (all, whole) = bytesRead(Visibility.Mask(0L, n, Long.MinValue, Long.MaxValue))
    assert(all == (0L until n))
    // the fewest of three drains: rchar counts every thread's reads
    val ranged = Seq.fill(3)(bytesRead(Visibility.Mask(mid, mid + 10, Long.MinValue, Long.MaxValue)))
    assert(ranged.forall(_._1 == (mid until mid + 10)))
    val part = ranged.map(_._2).min
    assert(whole * 10 >= files.head.bytes * 9,
      s"a full drain read $whole of ${files.head.bytes} bytes")
    assert(part * 8 < whole, s"a 10-record range read $part bytes, a full drain $whole")
    info(s"a 10-record range read $part bytes, a full drain $whole")
  }

  /** The seqs the partition reader serves over `files` under `mask`. */
  private def drain(files: Seq[FileIndex.FileStats], mask: Visibility.Mask): Seq[Long] = {
    val r = new GraftPartitionReader(GraftInputPartition(files, mask))
    try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().getLong(0)).toSeq
    finally r.close()
  }
}
