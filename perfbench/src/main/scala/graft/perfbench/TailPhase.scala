package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.log.{HttpRecordsClient, HttpRecordsServer, Layout}
import graft.model._
import graft.streaming.Follow

/** `tail`: a live produce-and-follow loop. Two open-loop producers
  * send unary append RPCs over the HTTP records API, one per stream;
  * an SSE read session follows stream `a` and a `Follow.follow`
  * Structured Streaming query follows stream `b`. Latency counts from
  * each RPC's due time, which every record carries in its body. */
final class TailPhase(ctx: Ctx) {
  import TailPhase._
  private val report = ctx.report
  private val store = ctx.store

  /** What one follower saw, in delivery order. */
  final class Consumer(val stream: String) {
    val seqs = new ArrayBuffer[Long]
    val chain = new Chain
    val latMs = new ArrayBuffer[Double]
    @volatile var delivered = 0L
    var batches = 0L
    var heartbeats = 0L
    var maxBacklog = 0L
    /** (first seq, size) of each delivered batch. */
    val batchShapes = new ArrayBuffer[(Long, Int)]

    def onBatch(records: Seq[(Long, Array[Byte])], recvNs: Long): Unit = synchronized {
      if (records.nonEmpty) {
        batches += 1
        batchShapes += ((records.head._1, records.size))
      }
      records.foreach { case (seq, body) =>
        seqs += seq
        chain.add(body)
        val (rpc, i, dueNs) = Gen.parseTail(body)
        if (i == 0 && rpc >= measuredFrom) latMs += (recvNs - dueNs) / 1e6
      }
      delivered += records.size
    }
  }

  @volatile private var measuredFrom = Int.MaxValue
  private var server: com.sun.net.httpserver.HttpServer = _
  private var endpoint: String = _
  private val sse = new Consumer("a")
  private val follow = new Consumer("b")
  private var sseThread: Thread = _
  private var query: StreamingQuery = _
  private val checkpoint = ctx.runDir.resolve("follow-ckpt")
  /** (durations by phase, input rows) of every micro-batch. */
  private val progress = new ConcurrentLinkedQueue[(Map[String, Long], Long)]()
  private var listener: StreamingQueryListener = _
  private val chains = Streams.map(_ => new Chain)
  /** Ack samples of the timed RPCs, per stream. */
  private val acks = Streams.map(_ => new ArrayBuffer[Sent])
  private var nextRpc = 0
  private var totalRpcs = 0

  private def appendUrl(s: String) = s"$endpoint/v1/streams/$s/records"

  /** Fixtures: basin, streams, server, both followers. `plannedRpcs`
    * per stream, warm-up included, bounds the SSE session so it ends
    * with [DONE]. */
  def start(plannedRpcs: Int): Unit = {
    totalRpcs = plannedRpcs
    ctx.createBasin(Basin)
    (Streams :+ ProbeStream).foreach(s => store.catalog.createStream(Basin, s))
    val (srv, ep) = HttpRecordsServer.start(store)
    server = srv; endpoint = ep
    listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add((e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          e.progress.numInputRows))
    }
    ctx.spark.streams.addListener(listener)
    val want = plannedRpcs.toLong * RecordsPerRpc
    val hdr = Seq("s2-basin" -> Basin)
    sseThread = new Thread(() =>
      try Trace.span("log.http.read_session") {
        HttpRecordsClient.streamSse(
          s"${appendUrl("a")}?seq_num=0&count=$want&wait=60", hdr) { ev =>
          val now = System.nanoTime()
          ev.event match {
            case Some("batch") =>
              sse.onBatch(SseRecord.findAllMatchIn(ev.data)
                .map(m => (m.group(1).toLong, m.group(2).getBytes(UTF_8))).toSeq, now)
            case Some("ping") => sse.synchronized(sse.heartbeats += 1)
            case _ => ()
          }
          true
        }
      } catch { case t: Throwable => report.fail(s"tail: SSE session: $t") },
      "perfbench-sse")
    sseThread.setDaemon(true)
    sseThread.start()
    query = Trace.span("streaming.source.follow") {
      Follow.follow(store, Basin, "b").select("seq_num", "body").writeStream
        .queryName("perfbench_follow")
        .option("checkpointLocation", checkpoint.toString)
        .foreachBatch(new VoidFunction2[Dataset[Row], java.lang.Long] {
          def call(df: Dataset[Row], id: java.lang.Long): Unit = {
            val rows = df.collect()
            val now = System.nanoTime()
            follow.onBatch(rows.toSeq.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
              .sortBy(_._1), now)
          }
        })
        .start()
    }
  }

  /** Send `n` RPCs per stream at the fixed rate; returns once sent.
    * `timed` keeps their ack samples. */
  private def produce(n: Int, timed: Boolean): Unit = {
    val base = nextRpc
    val periodNs = 1000000000L / RpcsPerSec
    val t0 = System.nanoTime() + 20000000L
    val hdr = Seq("s2-basin" -> Basin)
    val threads = Streams.zipWithIndex.map { case (s, j) =>
      val th = new Thread(() => {
        // stagger the streams by half a period so their RPCs interleave
        val sent = new OpenLoop(periodNs).run(t0 + j * periodNs / 2, n) { (k, due) =>
          val rpc = base + k
          val bodies = (0 until RecordsPerRpc).map(i =>
            Gen.tailBody(ctx.seed, j, rpc, i, due, ctx.shape.tailBody))
          val json = bodies.map(b => s"""{"body":"${new String(b, UTF_8)}"}""")
            .mkString("""{"records":[""", ",", "]}").getBytes(UTF_8)
          val (code, resp) =
            try Trace.span("log.http.append")(
              HttpRecordsClient.request("POST", appendUrl(s), hdr, json))
            catch { case t: Throwable => (-1, t.toString) }
          val ok = code == 200 && AckStart.findFirstMatchIn(resp)
            .exists(_.group(1).toLong == rpc.toLong * RecordsPerRpc)
          chains(j).synchronized {
            report.check(ok, s"tail: append rpc $rpc to $s -> $code $resp")
            if (ok) bodies.foreach(chains(j).add)
          }
        }
        if (timed) acks(j).synchronized(acks(j) ++= sent)
      }, s"perfbench-producer-$s")
      th.start(); th
    }
    threads.foreach(_.join())
    nextRpc += n
  }

  /** Untimed load that warms the HTTP, append and follow paths. */
  def warm(): Unit = produce(WarmRpcs, timed = false)

  /** The timed window: the rest of the planned RPCs. */
  def measure(): Unit = {
    measuredFrom = nextRpc
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => while (sampling.get) {
      Seq(sse, follow).foreach { c =>
        val tail = Trace.span("log.store.check_tail")(store.checkTail(Basin, c.stream).seqNum)
        c.synchronized(c.maxBacklog = math.max(c.maxBacklog, tail - c.delivered))
      }
      Thread.sleep(100)
    }, "perfbench-backlog")
    sampler.setDaemon(true)
    sampler.start()
    produce(totalRpcs - nextRpc, timed = true)
    // drain the measured RPCs' deliveries before the sampler stops
    awaitDelivered(nextRpc.toLong * RecordsPerRpc, 30000L)
    sampling.set(false)
    sampler.join()
  }

  private def awaitDelivered(want: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((sse.delivered < want || follow.delivered < want) &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    sse.delivered >= want && follow.delivered >= want
  }

  /** Wait until both followers hold every record, verify them, and
    * stop the followers and the server. */
  def finish(): Unit = {
    val want = totalRpcs.toLong * RecordsPerRpc
    if (!awaitDelivered(want, 30000L))
      report.fail(s"tail: followers delivered sse=${sse.delivered} follow=${follow.delivered} of $want")
    sseThread.join(10000L)
    if (Trace.enabled) probes()
    Trace.span("streaming.source.stop")(query.stop())
    // the checkpoint's files, deleted before they are written back
    ctx.removeTree(checkpoint)
    ctx.spark.streams.removeListener(listener)
    server.stop(0)
    Seq(sse -> 0, follow -> 1).foreach { case (c, j) =>
      c.synchronized {
        report.check(c.seqs.iterator.zipWithIndex.forall { case (s, i) => s == i } &&
          c.seqs.size == want,
          s"tail: ${c.stream} delivered ${c.seqs.size} of $want records, not each once in seq order")
        report.check(c.chain.hex == chains(j).hex,
          s"tail: ${c.stream} md5 chain ${c.chain.hex} != producer ${chains(j).hex}")
      }
    }
  }

  /** Traced run only: the per-layer calls behind the live numbers,
    * made directly at the live shapes. */
  private def probes(): Unit = {
    // the Spark job each SSE poll runs: readBatch from the follower's
    // position, one batch's worth of records
    sse.synchronized(sse.batchShapes.toList).takeRight(50).foreach { case (from, n) =>
      Trace.span("streaming.session.read_batch")(store.readBatch(Basin, "a",
        ReadSpec(ReadStart(ReadFrom.SeqNum(from)), ReadEnd(ReadLimit(count = Some(n.toLong))))))
    }
    // direct appends at the RPC's batch shape
    (0 until DirectAppends).foreach { k =>
      val records = (0 until RecordsPerRpc).map(i =>
        EnvelopeRecord(Nil, Gen.body(ctx.seed, 20, k.toLong * 1000 + i, ctx.shape.tailBody)))
      val r = Trace.span("log.store.append")(store.append(Basin, ProbeStream, AppendInput(records)))
      report.check(r.isRight, s"tail: direct append $k: $r")
    }
  }

  def metrics(): Unit = {
    val measured = acks.flatMap(_.toList)
    val ackMs = measured.map(_.latencyMs)
    val r = report
    // per-layer, not end-to-end: both include the fsync-bound append,
    // and the disk's fsync latency drifted between runs so that their
    // spread over ten runs passed the largest end-to-end bound
    r.perLayer("tail.sse_delivery_p50_ms", Stats.p50(sse.latMs.toSeq), "ms")
    r.perLayer("tail.follow_delivery_p50_ms", Stats.p50(follow.latMs.toSeq), "ms")
    // fsync-bound: on a disk whose fsync takes 40-70 ms it drifted by
    // more between runs than an end-to-end bound may allow
    r.perLayer("tail.append_p50_ms", Stats.p50(ackMs), "ms")
    r.perLayer("tail.append_top_ms", Stats.topOf(ackMs), "ms")
    r.perLayer("tail.append_samples", ackMs.size, "count")
    r.perLayer("tail.delivery_samples", math.min(sse.latMs.size, follow.latMs.size), "count")
    r.perLayer("gen.late_top_ms", Stats.topOf(measured.map(_.lateMs)), "ms")
    r.perLayer("log.http.rpc_p50_ms", Stats.p50(Trace.durations("log.http.append")), "ms")
    r.perLayer("tail.sse_backlog_max_records", sse.maxBacklog, "count")
    r.perLayer("tail.follow_backlog_max_records", follow.maxBacklog, "count")
    val files = Streams.map(s => ctx.du(Layout.dataDir(store.root, Basin, s))._2)
    r.perLayer("log.store.files_per_stream", files.sum.toDouble / files.size, "count")
    val direct = Trace.durations("log.store.append")
    r.perLayer("log.store.append_p50_ms", Stats.p50(direct), "ms")
    r.perLayer("log.store.append_top_ms", Stats.topOf(direct), "ms")
    r.perLayer("streaming.session.read_batch_p50_ms",
      Stats.p50(Trace.durations("streaming.session.read_batch")), "ms")
    r.perLayer("streaming.session.batches", sse.batches, "count")
    r.perLayer("streaming.session.heartbeats", sse.heartbeats, "count")
    r.perLayer("streaming.session.records_per_batch",
      sse.delivered.toDouble / math.max(1L, sse.batches), "count")
    // micro-batches that carried data
    val withRows = progress.asScala.toSeq.filter(_._2 > 0)
    def dur(k: String) = Stats.p50(withRows.flatMap(_._1.get(k)).map(_.toDouble))
    r.perLayer("streaming.source.trigger_p50_ms", dur("triggerExecution"), "ms")
    r.perLayer("streaming.source.planning_p50_ms", dur("queryPlanning"), "ms")
    r.perLayer("streaming.source.addbatch_p50_ms", dur("addBatch"), "ms")
    r.perLayer("streaming.source.triggers", withRows.size, "count")
    r.perLayer("streaming.source.rows_per_trigger",
      withRows.map(_._2).sum.toDouble / math.max(1, withRows.size), "count")
  }
}

object TailPhase {
  val Basin = "perfbench-tail"
  /** `a` is followed over SSE, `b` by a Structured Streaming query. */
  val Streams = Seq("a", "b")
  /** Direct-append probe target, outside both followers' streams. */
  val ProbeStream = "probe"
  /** Below the SSE follower's saturation point, which a probe at
    * local[4] put between 10 and 20 RPCs/s per stream, and below the
    * 10 RPCs/s at which one in-order sender per stream saturated on a
    * disk whose fsync takes 40-70 ms. */
  val RpcsPerSec = 5
  val RecordsPerRpc = 10
  val WarmRpcs = 10
  /** Enough for a p90 (every append leaves a file that is slow to
    * delete on a disk with slow discards, so not for a p99). */
  val DirectAppends = 100
  private val SseRecord = """"seq_num":(\d+),"timestamp":-?\d+,"body":"([^"]*)"""".r
  private val AckStart = """"start":\{"seq_num":(\d+)""".r
}
