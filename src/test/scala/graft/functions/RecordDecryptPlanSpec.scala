package graft.functions

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.log._
import graft.model._

/** Plan-shape pin for A13 read-side decryption: the cipher must run
  * EXACTLY ONCE per record regardless of how many restored columns the
  * query touches. Catalyst inlines deterministic aliases into
  * pushed-down predicates and collapsed projects — before the
  * deterministic=false pin on RecordDecryptExpr, a filter referencing
  * both headers and body re-ran the cipher 4x per record (measured via
  * EnvelopeCodec.decryptCalls), a silent 4x cipher bill at 100 TB.
  */
class RecordDecryptPlanSpec extends AnyFunSuite with LocalSpark {

  private val key = Array.fill(32)(0x66.toByte)

  private def encStore(): StreamStore = {
    val dir = Files.createTempDirectory("dec-plan").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("enc-basin", BasinConfig(
      defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
      streamCipher = Some(CipherAlgo.Aegis256)))
    st.catalog.createStream("enc-basin", "s")
    val recs = (0 until 50).map(i =>
      EnvelopeRecord(Seq(Header.utf8("h", s"v$i")), s"body-$i".getBytes))
    recs.grouped(25).foreach(g =>
      st.append("enc-basin", "s", AppendInput(g.toSeq), Some(1000000L), Some(key))
        .fold(e => fail(e.toString), identity))
    st
  }

  test("one decrypt per record when a query references BOTH restored " +
    "columns through a filter (the alias-inlining trap)") {
    val st = encStore()
    val df = st.read("enc-basin", "s",
      ReadSpec(ReadStart(ReadFrom.SeqNum(0))), cipher = Some(key))
      .toOption.get
      .where(octet_length(col("body")) > 0 && size(col("headers")) === 1)
      .select(col("seq_num"), col("body"), col("headers"))
    EnvelopeCodec.decryptCalls.reset()
    val n = df.collect().length
    assert(n == 50)
    val calls = EnvelopeCodec.decryptCalls.sum()
    assert(calls == 50L,
      s"expected exactly 50 decrypts for 50 records, measured $calls " +
        "(the decrypt alias leaked into multiple plan nodes)")
  }

  test("ReadSpec bounds prune BEFORE the cipher: a count-limited read " +
    "of an encrypted stream decrypts only the surviving rows") {
    val st = encStore()
    val df = st.read("enc-basin", "s",
      ReadSpec(ReadStart(ReadFrom.SeqNum(10)),
        ReadEnd(limit = ReadLimit(count = Some(10)))), cipher = Some(key))
      .toOption.get
    EnvelopeCodec.decryptCalls.reset()
    val rows = df.collect()
    assert(rows.length == 10)
    // the count budget resolves to an exact seq cut on the driver and
    // the partition reader masks every row outside [10, 20) before
    // the decrypt project sees it — 50 stored records, 10 decrypts.
    // The ordered scan has no sort whose sampling pass could run the
    // cipher a second time.
    val calls = EnvelopeCodec.decryptCalls.sum()
    assert(calls <= 10L && calls > 0L,
      s"count-limited read should decrypt <= 10 records, measured $calls")
  }

  test("basin-wide decrypting scan: one plan, per-row stream-derived " +
    "AAD authenticates every stream, exactly one decrypt per record") {
    val dir = Files.createTempDirectory("dec-basin").toString
    val st = new StreamStore(spark, dir)
    st.catalog.createBasin("enc-basin", BasinConfig(
      defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
      streamCipher = Some(CipherAlgo.Aegis256)))
    val streams = Seq("alpha", "beta", "needs escaping/..")
    streams.foreach(st.catalog.createStream("enc-basin", _))
    streams.foreach { s =>
      st.append("enc-basin", s, AppendInput((0 until 5).map(i =>
        EnvelopeRecord(Seq(Header.utf8("h", s)), s"$s-$i".getBytes))),
        Some(1000000L), Some(key))
        .fold(e => fail(e.toString), identity)
    }
    val df = RecordCipher.decryptBasin(
      st.visibleBasin("enc-basin"), key, "enc-basin")
    EnvelopeCodec.decryptCalls.reset()
    val rows = df.select(col("stream"), col("body"), col("headers")).collect()
    assert(rows.length == 15)
    // AAD bound the right stream name to each record: every body
    // round-trips under its own stream's AAD (a cross-stream mixup
    // would have thrown AEADBadTagException before this point), and
    // the sealed headers decode to the stream name they were written
    // with
    rows.foreach { r =>
      val s = r.getString(r.fieldIndex("stream"))
      assert(new String(r.getAs[Array[Byte]]("body")).startsWith(s + "-"))
      val hs = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("headers"))
      assert(new String(hs.head.getAs[Array[Byte]](1)) == s)
    }
    val calls = EnvelopeCodec.decryptCalls.sum()
    assert(calls == 15L,
      s"expected exactly 15 decrypts for 15 records, measured $calls")
    // the scale property: the plan has NO union — one scan node serves
    // every stream
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"),
      "basin-wide decrypting scan must be a single scan, not " +
        s"per-stream union branches:\n$plan")
  }
}
