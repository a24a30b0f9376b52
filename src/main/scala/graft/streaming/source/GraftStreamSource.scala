package graft.streaming.source

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.log.{Catalog, FileIndex, GraftInputPartition, GraftPartitionReader, Layout,
  OrderedScan, StreamManifest, StreamStore, Visibility}
import graft.model.StreamConfig

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
  *   retention-expired records are masked by the store's own rule
  *   ([[graft.log.Visibility]]) — the reference's catch-up scan can
  *   never return trimmed keys because they are deleted from the LSM
  *   (read.rs:112-131). The mask is built on the driver at plan time
  *   and applied inside the partition reader.
  * - Batch and micro-batch reads share one planner
  *   ([[GraftStreamSource.plan]] over [start, end)): it prunes data
  *   files by their parquet footer stats (cached on the driver) — the
  *   SRD prefix-scan analog; a catch-up of [1000, 2000) opens only the
  *   files overlapping that range — and, like `StreamStore.read`,
  *   never serves two listed objects that overlap below the tail.
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
    StreamStore.RecordSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new GraftStreamTable(properties.asScala.toMap)
}

object GraftStreamSource {

  /** The connector's one planner: the visible records of seq range
    * [start, end), narrowed by pushed timestamp bounds [tsLo, tsHi),
    * as seq-ordered runs of the overlapping data files
    * ([[graft.log.OrderedScan.partitions]]).
    *
    * The listing is the manifest's generation dir through
    * FileIndex.consistentListing (a foreign compaction flip mid-listing
    * re-plans; without it a flip + grace-expired sweep between manifest
    * read and listing would plan nothing while the offset range still
    * advances), then Visibility.disjoint (a loser twin below the tail
    * is re-listed away, or the plan fails). `config` is the merged
    * stream config; `nowMs` pins the retention clock (wall clock when
    * absent).
    */
  def plan(root: String, basin: String, stream: String,
           start: Long, end: Long, tsLo: Long, tsHi: Long,
           config: () => StreamConfig,
           nowMs: Option[Long]): Array[InputPartition] = {
    def manifest = Layout.readManifest(root, basin, stream).getOrElse(StreamManifest())
    // an empty range exits before paying any listing or footer reads
    // (pollers and startSeq/endSeq probes hit this a lot); the mask is
    // re-derived below from the listing's final manifest
    val m0 = manifest
    if (Visibility.Mask(m0.trimPoint, m0.tailSeq, tsLo, tsHi).narrow(start, end).isEmpty)
      return Array.empty
    val listing = () => FileIndex.consistentListing(() => manifest, () => manifest,
      m => Layout.genDir(root, basin, stream, m.generation))
    val (m, files) = Visibility.disjoint(listing, Visibility.OverlapRefusalMs,
        s"$basin/$stream") match {
      case Right(l) => l
      case Left(e) => throw new IllegalStateException(e)
    }
    val mask = Visibility.of(m, config(), nowMs).narrow(start, end, tsLo, tsHi)
    if (mask.isEmpty) return Array.empty
    OrderedScan.partitions(SparkSession.active, files.filter(mask.overlaps), mask)
      .toArray[InputPartition]
  }
}

final class GraftStreamTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"graft-stream:${props.getOrElse("basin", "?")}/${props.getOrElse("stream", "?")}"
  override def schema(): StructType = StreamStore.RecordSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(props ++ options.asScala)
}

/** Accepts seq_num / timestamp range predicates for file pruning.
  * Everything is reported back as residual (Spark re-evaluates rows),
  * but the bounds also narrow the planner's visibility mask, so they
  * prune whole files by their footer stats — a `WHERE seq_num >= x`
  * SQL read of a 10 TB stream opens only the overlapping files, same
  * as the engine read path.
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
  override def readSchema(): StructType = StreamStore.RecordSchema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(
      props("root"), props("basin"), props("stream"),
      opt("startSeq").getOrElse("0").toLong,
      opt("maxRecordsPerTrigger").map(_.toLong),
      opt("maxBytesPerTrigger").map(_.toLong),
      opt("nowMs").map(_.toLong))

  /** Batch read over the same connector: `spark.read.format
    * ("graft-stream").option("root", …).option("basin", …)
    * .option("stream", …)` plans a point-in-time snapshot through the
    * same planner as the streaming path, reusing the executor-side
    * partition reader. Optional `startSeq` / `endSeq` bound the seq
    * range.
    */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      GraftStreamSource.plan(props("root"), props("basin"), props("stream"),
        math.max(opt("startSeq").map(_.toLong).getOrElse(0L), seqLo),
        math.min(opt("endSeq").map(_.toLong).getOrElse(Long.MaxValue), seqHi),
        tsLo, tsHi,
        () => new Catalog(props("root")).streamConfig(props("basin"), props("stream"))
          .getOrElse(StreamConfig.SystemDefault),
        opt("nowMs").map(_.toLong))
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftReaderFactory
  }
}

/** Offset = the next seq_num to read (exclusive end of what was read). */
final case class GraftOffset(seq: Long) extends Offset {
  override def json(): String = s"""{"seq":$seq}"""
}

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

  /** Merged stream config, cached with a short TTL: it changes only
    * via reconfigure, and resolving it per micro-batch per follower
    * multiplied catalog reads on the driver.
    */
  private val ConfigTtlNanos = 2_000_000_000L
  @volatile private var cachedConfig: (Long, StreamConfig) = null
  private def streamConfig(): StreamConfig = {
    val c = cachedConfig
    val t = System.nanoTime()
    if (c != null && t < c._1) c._2
    else {
      val cfg = catalog.streamConfig(basin, stream).getOrElse(StreamConfig.SystemDefault)
      cachedConfig = (t + ConfigTtlNanos, cfg)
      cfg
    }
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
        val it = FileIndex.listStats(Layout.genDir(root, basin, stream, m.generation)).iterator
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

  /** A microbatch plans entirely within one generation; a compaction
    * flip between two plans is safe because the old generation's files
    * survive in place for the grace window (Layout.genDir), so the
    * in-flight batch keeps reading its planned paths while the next
    * plan lists the new generation. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    GraftStreamSource.plan(root, basin, stream,
      start.asInstanceOf[GraftOffset].seq, end.asInstanceOf[GraftOffset].seq,
      Long.MinValue, Long.MaxValue, () => streamConfig(), nowMsOpt)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory
}

final class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition])
}
