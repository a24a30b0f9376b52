package graft.log

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark
import graft.model._

/** Bulk ingest's file layout: a stream whose rows fit in one range's
  * share (⌈rows ÷ ranges⌉) is written as exactly one file even where
  * the range cut points fall inside it, a larger stream is still split
  * across ranges, and either way every stream gets the seqs,
  * timestamps and bodies of its arrival-ordered chain, under any
  * shuffle-partition count and AQE setting, plaintext or encrypted.
  */
class IngestLayoutSpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private val key = Array.fill(32)(0x3c.toByte)
  private val now = 10000000L
  private val basins = Seq("lay-plain" -> None, "lay-aegis" -> Some(CipherAlgo.Aegis256))

  private def store(streams: Seq[String]): StreamStore = {
    val st = new StreamStore(spark, BackendHarness.tempDir("graft-layout").toString)
    basins.foreach { case (b, algo) =>
      st.catalog.createBasin(b, BasinConfig(
        defaultStreamConfig = StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
        streamCipher = algo)).fold(e => fail(e), identity)
      streams.foreach(st.catalog.createStream(b, _))
    }
    st
  }

  private def cipherOf(basin: String): Option[Array[Byte]] =
    basins.toMap.apply(basin).map(_ => key)

  /** One input row: `ts` None is a missing client timestamp. */
  private final case class In(stream: String, arrival: Long, ts: Option[Long], body: String)

  private def frame(basin: String, rows: Seq[In]): DataFrame = {
    import spark.implicits._
    rows.map(r => (basin, r.stream, r.ts, r.body.getBytes, r.arrival))
      .toDF("basin", "stream", "ts_client", "body", "arrival")
      .withColumn("headers", when(col("arrival") % 2 === 0,
        array(struct(lit("k").cast("binary").as("name"),
          col("arrival").cast("string").cast("binary").as("value")))))
      .select("basin", "stream", "ts_client", "headers", "body", "arrival")
      .repartition(5) // scrambled input placement
  }

  /** Data files of one stream's live generation. */
  private def files(st: StreamStore, basin: String, stream: String): Seq[FileIndex.FileStats] =
    FileIndex.listStats(Layout.genDir(st.root, basin, stream, st.manifest(basin, stream).generation))

  /** (seq, ts, header value, body) of one stream's records from `from` on. */
  private def chain(st: StreamStore, basin: String, stream: String,
                    from: Long): Seq[(Long, Long, Option[String], String)] =
    st.read(basin, stream, ReadSpec(ReadStart(ReadFrom.SeqNum(from))), cipher = cipherOf(basin))
      .fold(e => fail(e), identity).collect().toSeq.map { r =>
        val hs = Option(r.getSeq[org.apache.spark.sql.Row](2)).getOrElse(Nil)
        (r.getLong(0), r.getLong(1),
          hs.headOption.map(h => new String(h.getAs[Array[Byte]](1))),
          new String(r.getAs[Array[Byte]](3)))
      }

  // 900 rows: `big` is larger than a range's share at P = 4 (225) and
  // P = 7 (129), the six others are smaller, and at both counts some
  // cut points fall inside the small streams (s1 at P = 4; s1 and s3
  // at P = 7, with rows ordered by stream name)
  private val sizes = Seq("big" -> 600, "s0" -> 37, "s1" -> 55, "s2" -> 80,
    "s3" -> 23, "s4" -> 61, "s5" -> 44)
  private val input: Seq[In] = {
    val order = new scala.util.Random(11).shuffle(
      sizes.flatMap { case (s, n) => (0 until n).map(s -> _) })
    order.zipWithIndex.map { case ((s, k), a) =>
      val last = k == sizes.toMap.apply(s) - 1
      // missing client timestamps: s2's last record and s4's middle one
      val ts = if ((s == "s2" && last) || (s == "s4" && k == 30)) None
               else Some(1000L + a * 3 - (a % 7) * 5)
      In(s, a.toLong, ts, s"$s-$k")
    }
  }

  test("streams no larger than a share commit one file each, a larger one is " +
    "split, and every stream's chain is exact under shuffle partitions " +
    "{1, 4, 7} x AQE {on, off}, plaintext and AEGIS-256") {
    for (parts <- Seq(1, 4, 7); aqe <- Seq(true, false)) {
      val what = s"partitions=$parts aqe=$aqe"
      val st = store(sizes.map(_._1))
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try basins.foreach { case (b, _) =>
        // s3 continues from a unary append: seq 1, timestamp floor 500
        st.append(b, "s3", AppendInput(Seq(EnvelopeRecord(Nil, "seed".getBytes))),
          Some(500L), cipherOf(b)).fold(e => fail(e.toString), identity)
        val acks = st.ingest(frame(b, input), Some(now), cipher = cipherOf(b))
        assert(acks.keySet == sizes.map(s => (b, s._1)).toSet, what)
        val share = (input.size + parts - 1) / parts
        sizes.foreach { case (s, n) =>
          val (tail0, ts0) = if (s == "s3") (1L, 500L) else (0L, 0L)
          val mine = input.filter(_.stream == s).sortBy(_.arrival)
          val ts = mine.scanLeft(ts0)((t, r) => math.max(t, r.ts.getOrElse(now))).drop(1)
          val expected = mine.zip(ts).zipWithIndex.map { case ((r, t), i) =>
            (tail0 + i, t, Option.when(r.arrival % 2 == 0)(r.arrival.toString), r.body)
          }
          assert(chain(st, b, s, tail0) == expected, s"$b/$s $what")
          val ack = acks((b, s))
          assert(ack.start.seqNum == tail0 && ack.end == ack.tail &&
            ack.tail == StreamPosition(tail0 + n, ts.last), s"$b/$s $what: $ack")
          val written = files(st, b, s).filter(_.minSeq >= tail0)
          assert(written.map(_.rows).sum == n, s"$b/$s $what")
          if (n <= share)
            assert(written.size == 1, s"$b/$s ($n rows, share $share) $what: $written")
          else
            assert(written.size > 1, s"$b/$s ($n rows, share $share) $what: $written")
        }
      } finally {
        spark.conf.unset("spark.sql.shuffle.partitions")
        spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }

  test("the two-reads guard still fails an ingest whose changed rows belong " +
    "to a stream moved whole into one range") {
    // x0..x4 hold 8 rows each, ids 8i..8i+7 in key order: at P = 4 the
    // cut points fall near ranks 10, 20 and 30, inside x1, x2 and x3,
    // and each of them (8 rows) fits in the share of 10
    def input(keep: org.apache.spark.sql.Column): DataFrame =
      spark.range(0, 40, 1, 4).where(keep).select(
        lit("lay-plain").as("basin"),
        concat(lit("x"), (col("id") / 8).cast("int").cast("string")).as("stream"),
        lit(null).cast("long").as("ts_client"),
        expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
        col("id").cast("string").cast("binary").as("body"),
        col("id").as("arrival"))
    val streams = (0 until 5).map(i => s"x$i")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      // unchanged, the input commits one file per stream
      val st0 = store(streams)
      st0.ingest(input(lit(true)), Some(now))
      streams.foreach(s => assert(files(st0, "lay-plain", s).size == 1, s))

      val st = store(streams)
      IngestLayoutSpec.evals.clear()
      // keeps every row on its first two evaluations (the range and
      // count passes) and drops id 9, in x1, on the third (the body job)
      val keep = udf { (id: Long) =>
        val n = IngestLayoutSpec.evals
          .computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger())
          .incrementAndGet()
        !(n == 3 && id == 9L)
      }.asNondeterministic()
      val thrown = intercept[Exception](st.ingest(input(keep(col("id"))), Some(now)))
      val chain = Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
      assert(chain.contains("ingest input changed") && chain.contains("lay-plain/x1"), chain)
      assert(IngestLayoutSpec.evals.values.asScala.exists(_.get >= 3),
        "the body job never re-evaluated the input")
      streams.foreach { s =>
        assert(st.checkTail("lay-plain", s).seqNum == 0, s)
        assert(files(st, "lay-plain", s).isEmpty, s)
      }
    } finally spark.conf.unset("spark.sql.shuffle.partitions")
  }

  test("whole-stream homes: the range with most rows, lowest on a tie, exact " +
    "merged counts, and streams larger than a share stay split") {
    // counts per (range, basin, stream): rows, max ts_client, null ts_clients
    val stats = scala.collection.mutable.HashMap[(Int, String, String), Array[Long]](
      (0, "b", "a") -> Array(3L, 70L, 1L), (1, "b", "a") -> Array(5L, 40L, 0L),
      (1, "b", "t") -> Array(4L, Long.MinValue, 4L), (2, "b", "t") -> Array(4L, 9L, 0L),
      (2, "b", "big") -> Array(20L, 5L, 0L), (3, "b", "big") -> Array(20L, 6L, 2L),
      (3, "b", "one") -> Array(4L, 1L, 0L))
    // 60 rows over 4 ranges: a share is 15
    val home = StreamStore.wholeStreamHomes(stats, 4)
    assert(home == Map(("b", "a") -> 1, ("b", "t") -> 1))
    assert(stats.map { case (k, a) => k -> a.toSeq }.toMap == Map(
      (1, "b", "a") -> Seq(8L, 70L, 1L), (1, "b", "t") -> Seq(8L, 9L, 4L),
      (2, "b", "big") -> Seq(20L, 5L, 0L), (3, "b", "big") -> Seq(20L, 6L, 2L),
      (3, "b", "one") -> Seq(4L, 1L, 0L)))
  }
}

object IngestLayoutSpec {
  /** Evaluations per input row id (the guard test's nondeterministic
    * filter); executors share the test JVM in local mode. */
  val evals = new java.util.concurrent.ConcurrentHashMap[Long,
    java.util.concurrent.atomic.AtomicInteger]()
}
