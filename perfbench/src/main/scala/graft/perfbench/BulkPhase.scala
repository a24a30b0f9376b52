package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.log.{CipherAlgo, Layout}
import graft.model._

/** `bulk`: a Spark `StreamStore.ingest` of seeded records into the
  * streams of a plaintext basin and of an AEGIS-256 basin, then an
  * ordered, md5-chain-verified catch-up of every stream through
  * `StreamStore.read` (with the key, for the encrypted basin). Each
  * round uses fresh basins, so every round does the same work. */
final class BulkPhase(ctx: Ctx) {
  private val store = ctx.store
  private val report = ctx.report
  private val spark = ctx.spark

  final case class Round(ingestS: Double, ingestEncS: Double, catchupS: Double,
                         catchupEncS: Double, mib: Double)
  val rounds = new ArrayBuffer[Round]
  private val readPlanMs = new ArrayBuffer[Double]
  /** Disk bytes and parquet files of the last kept round's plain basin. */
  private var diskBytes = 0L
  private var dataFiles = 0

  /** A round's input: seeded rows with the per-stream chains they
    * must read back as. */
  final case class Input(df: DataFrame, want: Map[String, Chain], n: Long, meteredBytes: Long)

  /** Rows `[lo, hi)`: seeded stream assignment and bodies, materialized
    * once so no timed ingest pays for generating them, plus their
    * per-stream chains in arrival order, computed outside Spark from
    * the generator alone. */
  def input(lo: Long, hi: Long): Input = {
    import spark.implicits._
    val seed = ctx.seed
    val streams = ctx.shape.bulkStreams
    val bodyOf = ctx.shape.bulkBody
    val df = spark.range(lo, hi).map { id =>
      (s"s${Gen.streamOf(seed, 1, id, streams)}", bodyOf(seed, id), id.longValue)
    }.toDF("stream", "body", "arrival")
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    val chains = (0 until streams).map(i => s"s$i" -> new Chain).toMap
    var bytes = 0L
    var id = lo
    while (id < hi) {
      val b = bodyOf(seed, id)
      chains(s"s${Gen.streamOf(seed, 1, id, streams)}").add(b)
      // metered size of a record without headers: 8 + body
      bytes += 8 + b.length
      id += 1
    }
    Input(df, chains, hi - lo, bytes)
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Read every stream of `basin` in seq order, `cpus` streams at a
    * time, and check each against its expected chain. */
  private def catchUp(basin: String, key: Option[Array[Byte]],
                      want: Map[String, Chain], tag: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(ctx.cpus, want.size))
    val traceCtx = Trace.context
    try {
      val futures = want.toSeq.sortBy(_._1).map { case (s, exp) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = Trace.within(traceCtx) {
            SparkCounters.tagged(ctx.sc, tag) {
              val t0 = System.nanoTime()
              val df = Trace.span("log.store.read")(store.read(basin, s,
                ReadSpec(ReadStart(ReadFrom.SeqNum(0L))), cipher = key)) match {
                case Right(d) => d
                case Left(e) => throw new IllegalStateException(s"read $basin/$s: $e")
              }
              readPlanMs.synchronized(readPlanMs += (System.nanoTime() - t0) / 1e6)
              val got = new Chain
              var next = 0L
              var inOrder = true
              Trace.span("log.store.scan") {
                df.select("seq_num", "body").toLocalIterator().forEachRemaining { r =>
                  inOrder &&= r.getLong(0) == next
                  next += 1
                  got.add(r.getAs[Array[Byte]](1))
                }
              }
              report.check(inOrder && got.count == exp.count && got.hex == exp.hex,
                s"bulk: $basin/$s read ${got.count}/${exp.count} records, " +
                  s"in order: $inOrder, chain ${got.hex} vs ${exp.hex}")
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }

  /** One round over `in`: ingest plain, ingest encrypted, catch up
    * plain, catch up encrypted. The round's basins are deleted right
    * after it ([[Ctx.dropBasin]]), untimed. */
  def round(r: Int, in: Input, keep: Boolean): Unit = Trace.span("bulk.round") {
    val plain = f"perfbench-bulk-p$r%03d"
    val enc = f"perfbench-bulk-e$r%03d"
    ctx.createBasin(plain)
    ctx.createBasin(enc, Some(CipherAlgo.Aegis256))
    val names = in.want.keys.toSeq.sorted
    Seq(plain, enc).foreach(b => store.catalog.createStreams(b, names))
    val key = ctx.cipherKey
    // warm-up rounds keep their Spark work out of the per-round counters
    def tagOf(t: String) = if (keep) t else "warm"
    def ingest(basin: String, cipher: Option[Array[Byte]], tag: String): Double = {
      val df = in.df.select(lit(basin).as("basin"), col("stream"),
        lit(null).cast("long").as("ts_client"),
        expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
        col("body"), col("arrival"))
      val (acks, s) = timed(Trace.span("log.store.ingest")(
        SparkCounters.tagged(ctx.sc, tagOf(tag))(store.ingest(df, cipher = cipher))))
      report.check(acks.size == in.want.size &&
        acks.forall { case ((_, st), a) => a.end.seqNum == in.want(st).count },
        s"bulk: ingest into $basin acked ${acks.map { case ((_, st), a) => st -> a.end.seqNum }}")
      s
    }
    def catchUpTimed(basin: String, cipher: Option[Array[Byte]], tag: String): Double =
      timed(catchUp(basin, cipher, in.want, tagOf(tag)))._2
    val ingestS = ingest(plain, None, "ingest")
    val ingestEncS = ingest(enc, Some(key), "ingest_enc")
    val catchupS = catchUpTimed(plain, None, "catchup")
    val catchupEncS = catchUpTimed(enc, Some(key), "catchup_enc")
    if (keep) {
      rounds += Round(ingestS, ingestEncS, catchupS, catchupEncS, in.meteredBytes / 1048576.0)
      val dirs = names.map(s => ctx.du(Layout.dataDir(store.root, plain, s)))
      diskBytes = dirs.map(_._1).sum
      dataFiles = dirs.map(_._2).sum
      System.err.println(f"[perfbench] bulk round $r: ingest $ingestS%.3f s, enc $ingestEncS%.3f s, " +
        f"catch-up $catchupS%.3f s, enc $catchupEncS%.3f s")
    }
    Seq(plain, enc).foreach(ctx.dropBasin(_))
  }

  def metrics(): Unit = {
    val r = report
    def med(f: Round => Double) = Stats.median(rounds.map(f).toSeq)
    r.endToEnd("ingest_mibps", med(x => x.mib / x.ingestS), "MiB/s")
    r.endToEnd("ingest_enc_mibps", med(x => x.mib / x.ingestEncS), "MiB/s")
    r.endToEnd("catchup_mibps", med(x => x.mib / x.catchupS), "MiB/s")
    r.endToEnd("catchup_enc_mibps", med(x => x.mib / x.catchupEncS), "MiB/s")
    r.perLayer("bulk.rounds", rounds.size, "count")
    r.perLayer("log.store.ingest_s", med(_.ingestS), "s")
    r.perLayer("log.store.ingest_enc_s", med(_.ingestEncS), "s")
    r.perLayer("log.store.read_plan_ms", Stats.p50(readPlanMs.toSeq), "ms")
    r.perLayer("log.cipher.catchup_ratio", med(x => x.catchupEncS / x.catchupS), "ratio")
    r.perLayer("log.store.space_amp", diskBytes / (rounds.last.mib * 1048576), "ratio")
    r.perLayer("log.store.files_written", dataFiles, "count")
    for (tag <- Seq("ingest", "ingest_enc", "catchup", "catchup_enc")) {
      val a = ctx.counters.get(ctx.sc, tag)
      val k = rounds.size.toDouble
      r.perLayer(s"spark.$tag.jobs", a.jobs / k, "count")
      r.perLayer(s"spark.$tag.tasks", a.tasks / k, "count")
      r.perLayer(s"spark.$tag.cpu_s", a.cpuNs / 1e9 / k, "s")
      r.perLayer(s"spark.$tag.shuffle_write_mib", a.shuffleWrite / 1048576.0 / k, "MiB")
    }
  }
}
