package graft.log

import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.log.FileIndex.{FileStats, RowLite}
import graft.model.{RetentionPolicy, StreamConfig}

/** Read visibility: the one rule every reader of a stream applies —
  * the store's reads, gauges and maintenance, and the `graft-stream`
  * connector's planner and partition reader. A record is visible iff
  * its seq_num is in [trim point, tail) and its timestamp is inside
  * retention. The reference gets this from its single read path
  * (lite/src/backend/read.rs:112-131): trimmed keys are deleted from
  * the LSM, so neither catch-up nor follow can return them. Here trim
  * and retention are logical masks until compaction makes them
  * physical, so every reader must apply the same [[Mask]].
  */
object Visibility {

  /** Records with seq_num in [lo, hi) and timestamp in [tsLo, tsHi).
    * [[of]] builds a stream's mask; a reader narrows it by its own
    * start, end and `until`. Serializable: the connector ships it to
    * executors inside each input partition.
    */
  final case class Mask(lo: Long, hi: Long, tsLo: Long, tsHi: Long) {
    def isEmpty: Boolean = hi <= lo || tsHi <= tsLo

    def narrow(start: Long = Long.MinValue, end: Long = Long.MaxValue,
               tsStart: Long = Long.MinValue,
               until: Long = Long.MaxValue): Mask =
      Mask(math.max(lo, start), math.min(hi, end),
        math.max(tsLo, tsStart), math.min(tsHi, until))

    /** The file may hold a visible row (decided by footer stats). */
    def overlaps(st: FileStats): Boolean =
      st.maxSeq >= lo && st.minSeq < hi && st.maxTs >= tsLo && st.minTs < tsHi

    /** Every row of the file is visible. */
    def covers(st: FileStats): Boolean =
      st.minSeq >= lo && st.maxSeq < hi && st.minTs >= tsLo && st.maxTs < tsHi

    /** Every row of the file is older than the mask's timestamp floor. */
    def expired(st: FileStats): Boolean = st.maxTs < tsLo

    def admits(seq: Long, ts: Long): Boolean =
      seq >= lo && seq < hi && ts >= tsLo && ts < tsHi

    def admits(r: RowLite): Boolean = admits(r.seq, r.ts)

    /** The mask as a predicate over the record columns; an unbounded
      * timestamp side adds no term. */
    def column: Column = {
      var c = col("seq_num") >= lo && col("seq_num") < hi
      if (tsLo > Long.MinValue) c = c && col("timestamp") >= tsLo
      if (tsHi < Long.MaxValue) c = c && col("timestamp") < tsHi
      c
    }

    /** The mask's bounds that cut into file `st`, as a parquet record
      * filter: row groups and pages outside them are skipped, rows
      * outside are never returned, and a file the bounds do not cut
      * gets no filter at all. The upper seq bound is left out: rows
      * ascend, so a reader stops at the first row at or past `hi`
      * instead. */
    def parquetFilter(st: FileStats): FilterCompat.Filter = {
      val seq = FilterApi.longColumn("seq_num")
      val ts = FilterApi.longColumn("timestamp")
      def long(v: Long) = java.lang.Long.valueOf(v)
      Seq[Option[FilterPredicate]](
        Option.when(st.minSeq < lo)(FilterApi.gtEq(seq, long(lo))),
        Option.when(st.minTs < tsLo)(FilterApi.gtEq(ts, long(tsLo))),
        Option.when(st.maxTs >= tsHi)(FilterApi.lt(ts, long(tsHi))))
        .flatten.reduceOption(FilterApi.and(_, _))
        .fold(FilterCompat.NOOP)(FilterCompat.get)
    }
  }

  /** A stream's mask: [trimPoint, tailSeq) from its manifest; the
    * timestamp floor is the oldest time its merged config's retention
    * keeps at `nowMs` (wall clock when absent), none when infinite. */
  def of(m: StreamManifest, config: StreamConfig, nowMs: Option[Long]): Mask = {
    val cutoff = config.retentionOrDefault match {
      case RetentionPolicy.Age(secs) =>
        nowMs.getOrElse(System.currentTimeMillis()) - secs * 1000
      case RetentionPolicy.Infinite => Long.MinValue
    }
    Mask(m.trimPoint, m.tailSeq, cutoff, Long.MaxValue)
  }

  /** Rows that are not command records (R10: one header with an empty
    * name). NULL headers are an encrypted data envelope, never a
    * command — commands are stored plaintext (encryption.rs:211-213) —
    * so the null-safe guard keeps them. */
  val notCommand: Column =
    col("headers").isNull || !(size(col("headers")) === 1 &&
      octet_length(col("headers")(0)("name")) === 0)

  /** Default budget of the overlap guard in [[disjoint]]. Time-based,
    * not a try count: a loser's eager delete runs on the LOSING
    * WRITER's thread, so under heavy CPU contention it can take
    * seconds — a 1 s budget misread that as a persisting overlap and
    * refused a read one more listing would have served. */
  val OverlapRefusalMs: Long = 10000L

  /** A manifest + listing whose data objects tile the seq range below
    * the tail without overlap, re-listing until they do.
    *
    * Transient listed-loser window: between a winner's manifest commit
    * and a definite loser's eager self-delete (object adapters,
    * milliseconds), a listing can show BOTH objects covering one
    * sub-tail seq range — serving them would duplicate seq_nums. The
    * committed set always tiles disjointly, so overlap below the tail
    * is provably not a committed state: re-list briefly (the loser's
    * delete or the next writer's sweep resolves it), and fail LOUDLY
    * if it persists past `budgetMs` rather than guess which object is
    * real. Same-range overlap above the tail is the normal
    * in-flight-commit state and stays invisible through the mask.
    *
    * Readers that serve rows call this; `compact` does not — it reads
    * through `visible` and repairs a crashed foreign writer's overlap
    * with dropDuplicates, which a refusing listing would prevent.
    */
  def disjoint(listing: () => (StreamManifest, Seq[FileStats]),
               budgetMs: Long, stream: String)
      : Either[String, (StreamManifest, Seq[FileStats])] = {
    def overlapBelowTail(fs: Seq[FileStats], tail: Long): Boolean = {
      val below = fs.filter(_.minSeq < tail).sortBy(f => (f.minSeq, f.path))
      below.zip(below.drop(1)).exists { case (a, b) => b.minSeq <= a.maxSeq }
    }
    val deadline = System.nanoTime() + budgetMs * 1000000L
    var (m, files) = listing()
    while (overlapBelowTail(files, m.tailSeq) && System.nanoTime() < deadline) {
      Thread.sleep(25)
      val fresh = listing()
      m = fresh._1; files = fresh._2
    }
    if (overlapBelowTail(files, m.tailSeq))
      Left(s"OverlappingDataObjects: $stream lists data objects with " +
        "overlapping seq ranges below the committed tail that did not " +
        "resolve — refusing to serve duplicate seq_nums")
    else Right((m, files))
  }
}
