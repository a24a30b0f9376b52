package graft.streaming.source

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.example.GroupReadSupport

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.log.{Catalog, FileIndex, Layout, StreamManifest}
import graft.model.{RetentionPolicy, StreamConfig}

/** R8/R9 as a first-class connector: a DataSource V2 streaming source
  * whose OFFSETS ARE SEQ_NUMS (`cf. ReadSessionOutput`,
  * common/src/stream.rs:370-374) — not file names.
  *
  * - `latestOffset` reads the stream manifest: only durably committed
  *   records (seq < tail) are ever offered, so a reader can never
  *   observe an uncommitted append (the reference's "ack follows
  *   durability" contract from the consumer side).
  * - **Admission control**: the reference bounds in-flight work
  *   everywhere — an append-bytes semaphore (streamer.rs:815-838) and a
  *   bounded follower broadcast buffer (FOLLOWER_MAX_LAG = 25,
  *   lite/src/backend/mod.rs:27). The Spark analog is
  *   `SupportsAdmissionControl`: `maxRecordsPerTrigger` /
  *   `maxBytesPerTrigger` options bound each micro-batch, so a follower
  *   resuming from seq 0 of a 10 TB stream drains the backlog as many
  *   bounded batches instead of one giant one. Records are exact
  *   (seq_nums are dense, so rows in [a,b) = b−a); bytes consume cached
  *   per-file metered sums at file granularity, always admitting at
  *   least one file so the query can make progress.
  * - **Visibility**: trimmed-but-not-yet-compacted and
  *   retention-expired records are masked exactly like the batch read
  *   path (`StreamStore.visible`) — the reference's catch-up scan can
  *   never return trimmed keys because they are deleted from the LSM
  *   (read.rs:112-131); here trim/retention are logical masks applied
  *   at plan time (trim point from the manifest, age cutoff from the
  *   merged stream config) and inside the partition reader.
  * - `planInputPartitions(start, end)` prunes data files by their
  *   parquet footer min/max seq_num stats (cached on the driver) — the
  *   SRD prefix-scan analog; a catch-up of [1000, 2000) opens only the
  *   files overlapping that range.
  * - Checkpointed offsets give exact SSE-style resumption
  *   (Last-Event-ID ⇒ restart at seq_num+1, records.rs:49-65).
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft-stream")
  *   .option("root", store.root).option("basin", b).option("stream", s)
  *   .option("startSeq", "0")
  *   .option("maxRecordsPerTrigger", "10000")   // optional admission cap
  *   .option("maxBytesPerTrigger", "16777216")  // optional, metered bytes
  *   .load()
  * }}}
  */
class GraftStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftStreamSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new GraftStreamTable(properties.asScala.toMap)
}

object GraftStreamSource {
  val Schema: StructType = StructType(Seq(
    StructField("seq_num", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("name", BinaryType), StructField("value", BinaryType)))),
      nullable = true),
    StructField("body", BinaryType, nullable = true),
    StructField("metered_size", LongType, nullable = false)))
}

final class GraftStreamTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"graft-stream:${props.getOrElse("basin", "?")}/${props.getOrElse("stream", "?")}"
  override def schema(): StructType = GraftStreamSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(props ++ options.asScala)
}

/** Accepts seq_num / timestamp range predicates for file pruning.
  * Everything is reported back as residual (Spark re-evaluates rows),
  * but seq_num bounds additionally fold into the reader's exact
  * [lo, end) mask and timestamp bounds prune whole files by their
  * footer stats — a `WHERE seq_num >= x` SQL read of a 10 TB stream
  * opens only the overlapping files, same as the engine read path.
  */
final class GraftScanBuilder(props: Map[String, String])
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var pushed: Array[Filter] = Array.empty
  private var seqLo = Long.MinValue
  private var seqHi = Long.MaxValue // exclusive
  private var tsLo = Long.MinValue
  private var tsHi = Long.MaxValue // exclusive

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      case GreaterThanOrEqual("seq_num", v: Long) => seqLo = math.max(seqLo, v); true
      case GreaterThan("seq_num", v: Long) => seqLo = math.max(seqLo, v + 1); true
      case LessThan("seq_num", v: Long) => seqHi = math.min(seqHi, v); true
      case LessThanOrEqual("seq_num", v: Long) => seqHi = math.min(seqHi, v + 1); true
      case EqualTo("seq_num", v: Long) =>
        seqLo = math.max(seqLo, v); seqHi = math.min(seqHi, v + 1); true
      case GreaterThanOrEqual("timestamp", v: Long) => tsLo = math.max(tsLo, v); true
      case GreaterThan("timestamp", v: Long) => tsLo = math.max(tsLo, v + 1); true
      case LessThan("timestamp", v: Long) => tsHi = math.min(tsHi, v); true
      case LessThanOrEqual("timestamp", v: Long) => tsHi = math.min(tsHi, v + 1); true
      case _ => false
    }
    pushed = accepted
    filters // all residual: Spark re-evaluates rows (pruning is file-level)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GraftScan(props, seqLo, seqHi, tsLo, tsHi)
}

final class GraftScan(props: Map[String, String],
                      seqLo: Long = Long.MinValue, seqHi: Long = Long.MaxValue,
                      tsLo: Long = Long.MinValue, tsHi: Long = Long.MaxValue)
    extends Scan {
  private def opt(name: String): Option[String] =
    props.get(name.toLowerCase(java.util.Locale.ROOT)).orElse(props.get(name))
  override def readSchema(): StructType = GraftStreamSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(
      props("root"), props("basin"), props("stream"),
      opt("startSeq").getOrElse("0").toLong,
      opt("maxRecordsPerTrigger").map(_.toLong),
      opt("maxBytesPerTrigger").map(_.toLong),
      opt("nowMs").map(_.toLong))

  /** Batch read over the same connector: `spark.read.format
    * ("graft-stream").option("root", …).option("basin", …)
    * .option("stream", …)` plans a point-in-time snapshot with the
    * same pruned file list and visibility masks as the streaming path
    * (tail from the manifest, trim fold, retention cutoff), reusing
    * the executor-side partition reader. Optional `startSeq` /
    * `endSeq` bound the seq range.
    */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val root = props("root")
      val basin = props("basin")
      val stream = props("stream")
      def mf = Layout.readManifest(root, basin, stream).getOrElse(StreamManifest())
      // empty/fully-bounded ranges exit before paying any listing or
      // footer reads (pollers and startSeq/endSeq probes hit this a
      // lot); the bounds are re-derived below from the guard's final
      // manifest, so this is purely a fast path
      val m0 = mf
      if (Seq(opt("endSeq").map(_.toLong).getOrElse(Long.MaxValue),
          m0.tailSeq, seqHi).min <=
          Seq(opt("startSeq").map(_.toLong).getOrElse(0L),
            m0.trimPoint, seqLo).max)
        return Array.empty
      // same flip-races-listing guard as the microbatch path: re-plan
      // if a foreign compaction moved the generation mid-listing
      val (m, listed) = FileIndex.consistentListing(() => mf, () => mf,
        mm => Layout.genDir(root, basin, stream, mm.generation))
      val lo = Seq(opt("startSeq").map(_.toLong).getOrElse(0L),
        m.trimPoint, seqLo).max
      val e = Seq(opt("endSeq").map(_.toLong).getOrElse(Long.MaxValue),
        m.tailSeq, seqHi).min
      val cutoff = {
        val catalog = new Catalog(root)
        val ret = catalog.streamConfig(basin, stream)
          .getOrElse(StreamConfig.SystemDefault).retentionOrDefault match {
          case RetentionPolicy.Age(secs) =>
            opt("nowMs").map(_.toLong)
              .getOrElse(System.currentTimeMillis()) - secs * 1000
          case RetentionPolicy.Infinite => Long.MinValue
        }
        math.max(ret, tsLo) // pushed timestamp lower bound prunes too
      }
      if (e <= lo) return Array.empty
      listed
        .filter(st => st.maxSeq >= lo && st.minSeq < e &&
          st.maxTs >= cutoff && st.minTs < tsHi)
        .map(st => GraftInputPartition(st.path, lo, e, cutoff))
        .toArray[InputPartition]
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftReaderFactory
  }
}

/** Offset = the next seq_num to read (exclusive end of what was read). */
final case class GraftOffset(seq: Long) extends Offset {
  override def json(): String = s"""{"seq":$seq}"""
}

/** `lo` folds the plan-time trim point into the range start; `retCutoff`
  * is the retention age cutoff (Long.MinValue when infinite) — both
  * evaluated on the driver at plan time so every executor applies the
  * same visibility mask the batch path would.
  */
final case class GraftInputPartition(path: String, lo: Long, endSeq: Long,
                                     retCutoff: Long)
    extends InputPartition

/** @param nowMsOpt pinned "now" for the retention mask (a source
  *   option, used by specs so batch and streaming visibility can be
  *   compared deterministically); production omits it = wall clock.
  */
final class GraftMicroBatchStream(root: String, basin: String, stream: String,
                                  startSeq: Long,
                                  maxRecordsPerTrigger: Option[Long],
                                  maxBytesPerTrigger: Option[Long],
                                  nowMsOpt: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  private lazy val catalog = new Catalog(root)

  private def manifest: StreamManifest =
    Layout.readManifest(root, basin, stream).getOrElse(StreamManifest())

  /** The one data dir a microbatch lists, resolved against the SAME
    * manifest the caller already holds. A microbatch plans entirely
    * within one generation, and a compaction flip between two plans
    * is safe because the old generation's files survive in place for
    * the grace window (Layout.genDir) — the in-flight batch keeps
    * reading its planned paths while the next plan lists the new
    * generation.
    */
  private def dirFor(m: StreamManifest): String =
    Layout.genDir(root, basin, stream, m.generation)

  /** Manifest + listing via FileIndex.consistentListing (see its doc):
    * without the guard, a flip + grace-expired sweep between manifest
    * read and listing makes a microbatch silently read nothing while
    * its offset range still advances. `manifest` here is already an
    * uncached authoritative read.
    */
  private def manifestAndFiles(): (StreamManifest, Seq[FileIndex.FileStats]) =
    FileIndex.consistentListing(() => manifest, () => manifest, dirFor)

  /** Resolved retention policy, cached with a short TTL: it changes
    * only via reconfigure, and resolving it per micro-batch per
    * follower multiplied catalog reads on the driver.
    */
  private val RetentionTtlNanos = 2_000_000_000L
  @volatile private var retPol: (Long, RetentionPolicy) = null
  private def retentionPolicy(): RetentionPolicy = {
    val c = retPol
    val t = System.nanoTime()
    if (c != null && t < c._1) c._2
    else {
      val p = catalog.streamConfig(basin, stream)
        .getOrElse(StreamConfig.SystemDefault).retentionOrDefault
      retPol = (t + RetentionTtlNanos, p)
      p
    }
  }

  /** Retention cutoff from the merged stream config (the same mask
    * StreamStore.visible applies on the batch path), evaluated at the
    * pinned `nowMs` option when present, else wall clock. */
  private def retentionCutoff(): Long = retentionPolicy() match {
    case RetentionPolicy.Age(secs) =>
      nowMsOpt.getOrElse(System.currentTimeMillis()) - secs * 1000
    case RetentionPolicy.Infinite => Long.MinValue
  }

  /** Offset at which bytes-capped admission first saw an empty file
    * listing, and when (-1 = none): distinguishes a transient
    * mid-compaction listing race (hold position) from a physically
    * reclaimed range (skip ahead). The skip requires BOTH a repeat
    * observation at the same offset AND ≥ 1 s elapsed — rapid triggers
    * (ProcessingTime(0)/AvailableNow) can re-observe a µs-scale
    * directory swap within milliseconds, and skipping then would
    * permanently drop the records that reappear an instant later. */
  @volatile private var emptyListingAt: (Long, Long) = (-1L, 0L)
  private val EmptyListingGraceNanos = 1_000_000_000L

  override def initialOffset(): Offset = GraftOffset(startSeq)

  override def getDefaultReadLimit: ReadLimit =
    (maxRecordsPerTrigger, maxBytesPerTrigger) match {
      case (Some(r), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxRows(r), ReadLimit.maxBytes(b)))
      case (Some(r), None) => ReadLimit.maxRows(r)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case (None, None) => ReadLimit.allAvailable()
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def reportLatestOffset(): Offset = GraftOffset(manifest.tailSeq)

  /** Bounded admission: seq_nums are dense, so a records cap is exact
    * arithmetic; a bytes cap walks cached per-file metered sums in seq
    * order (one projected scan per immutable file, ever) at file
    * granularity, always admitting ≥ 1 file for progress.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val m = manifest
    val tail = m.tailSeq
    val effStart = math.max(start.asInstanceOf[GraftOffset].seq, m.trimPoint)
    if (effStart >= tail) return GraftOffset(tail)

    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    var end = tail
    flatten(limit).foreach {
      case r: ReadMaxRows =>
        // dense seq_nums: rows in [effStart, e) = e - effStart exactly
        val e = if (r.maxRows() >= tail - effStart) tail else effStart + r.maxRows()
        end = math.min(end, e)
      case b: ReadMaxBytes =>
        var bytes = 0L
        var byteEnd = effStart
        var admitted = 0
        var done = false
        val it = FileIndex.listStats(dirFor(m)).iterator
          .filter(st => st.maxSeq >= effStart && st.minSeq < tail)
        while (!done && it.hasNext) {
          val st = it.next()
          // a mid-file resume charges only the remaining suffix of the
          // boundary file, not its whole metered sum — otherwise a
          // budget smaller than one whole file degrades to
          // one-file-per-batch regardless of how little remains
          val fb = {
            val whole = FileIndex.sums(st.path).metered
            if (st.minSeq < effStart)
              whole - FileIndex.prefixMetered(st.path, effStart)
            else whole
          }
          if (admitted > 0 && bytes + fb > b.maxBytes()) done = true
          else { bytes += fb; admitted += 1; byteEnd = math.min(st.maxSeq + 1, tail) }
        }
        // admitted == 0: either the listing is momentarily behind the
        // manifest (mid-compaction swap) or the range was physically
        // reclaimed (full retention expiry leaves zero files while
        // tail > effStart). Hold position — no progress rather than
        // silently dropping the bytes cap and admitting the whole
        // backlog — until the gap persists at the same offset for the
        // grace period; only then is it real, and the follower skips
        // ahead like the uncapped path would.
        if (admitted == 0) {
          val (at, since) = emptyListingAt
          val t = System.nanoTime()
          if (at != effStart) { emptyListingAt = (effStart, t); end = effStart }
          else if (t - since < EmptyListingGraceNanos) end = effStart
          // else: persistent — leave `end` unbounded by the bytes cap
        } else {
          emptyListingAt = (-1L, 0L)
          end = math.min(end, byteEnd)
        }
      case _: ReadAllAvailable => // no bound
      case _ => // unknown limit kinds admit everything available
    }
    GraftOffset(math.max(end, effStart))
  }

  override def deserializeOffset(json: String): Offset =
    GraftOffset("""\d+""".r.findFirstIn(json).get.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].seq
    val e = end.asInstanceOf[GraftOffset].seq
    val (m, files) = manifestAndFiles()
    // visibility: the batch path (StreamStore.visible) masks trimmed and
    // retention-expired rows; followers must agree (read.rs:112-131 —
    // a catch-up can never see trimmed keys)
    val lo = math.max(s, m.trimPoint)
    val cutoff = retentionCutoff()
    if (e <= lo) return Array.empty
    // shared driver-side footer-stats cache (graft.log.FileIndex):
    // catch-up ranges open only the files overlapping [lo, e) that can
    // still hold unexpired rows
    files
      .filter(st => st.maxSeq >= lo && st.minSeq < e && st.maxTs >= cutoff)
      .map(st => GraftInputPartition(st.path, lo, e, cutoff))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory
}

final class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition])
}

/** Executor-side reader: parquet-mr Group API -> InternalRow, filtered
  * to the [lo, endSeq) offset range and the plan-time retention cutoff.
  */
final class GraftPartitionReader(part: GraftInputPartition)
    extends PartitionReader[InternalRow] {

  private val reader = org.apache.parquet.hadoop.ParquetReader
    .builder(new GroupReadSupport(), new Path(part.path))
    .withConf(new Configuration())
    .build()
  private var current: InternalRow = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      val seq = g.getLong("seq_num", 0)
      val ts = g.getLong("timestamp", 0)
      if (seq >= part.lo && seq < part.endSeq && ts >= part.retCutoff) {
        val headers =
          if (g.getFieldRepetitionCount("headers") == 0) null
          else {
            val hg = g.getGroup("headers", 0)
            val n = hg.getFieldRepetitionCount("list")
            new GenericArrayData((0 until n).map { i =>
              val el = hg.getGroup("list", i).getGroup("element", 0)
              val name = if (el.getFieldRepetitionCount("name") > 0)
                el.getBinary("name", 0).getBytes else null
              val value = if (el.getFieldRepetitionCount("value") > 0)
                el.getBinary("value", 0).getBytes else null
              new GenericInternalRow(Array[Any](name, value)): Any
            }.toArray)
          }
        val body = if (g.getFieldRepetitionCount("body") > 0)
          g.getBinary("body", 0).getBytes else null
        current = new GenericInternalRow(Array[Any](
          seq, ts, headers, body,
          g.getLong("metered_size", 0)))
        return true
      }
      g = reader.read()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
