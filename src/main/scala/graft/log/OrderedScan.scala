package graft.log

import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.StructType

/** The ordered scan of a stream's data files: every reader of records
  * (`StreamStore.read` and the `graft-stream` connector) turns its
  * planned files into seq-ordered partitions here and reads them with
  * one partition reader, which applies the visibility mask. s2's
  * catch-up is the same shape, an ordered range scan over sorted keys
  * (read.rs:110-182): no sort, no shuffle.
  */
object OrderedScan {

  /** Input partitions over `files` — seq-sorted and disjoint below the
    * tail, as [[Visibility.disjoint]] leaves them — each a run of
    * consecutive files read under `mask`. Runs are packed by Spark's
    * own file split rule (`FilePartition.maxSplitBytes`: the
    * `spark.sql.files.maxPartitionBytes` cap, `openCostInBytes` per
    * file, total bytes per core), but unlike `FilePartition` the files
    * keep their seq order and no file is split: partition i holds only
    * seqs below partition i + 1's, and each is read in file order, so
    * the partitions concatenated are the records in seq order.
    */
  def partitions(spark: SparkSession, files: Seq[FileIndex.FileStats],
                 mask: Visibility.Mask): Seq[GraftInputPartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.iterator.map(_.bytes + openCost).sum)
    val out = Seq.newBuilder[GraftInputPartition]
    val run = Vector.newBuilder[FileIndex.FileStats]
    var runBytes = 0L
    files.foreach { st =>
      if (runBytes > 0 && runBytes + st.bytes > maxSplit) {
        out += GraftInputPartition(run.result(), mask)
        run.clear()
        runBytes = 0L
      }
      run += st
      runBytes += st.bytes + openCost
    }
    if (runBytes > 0) out += GraftInputPartition(run.result(), mask)
    out.result()
  }

  /** `parts` as a DataFrame of [[StreamStore.RecordSchema]] rows whose
    * partitions are `parts` in order: `collect`, `toLocalIterator` and
    * `take` return the records in seq order, with no sort and no
    * exchange in the plan. `inputFiles` lists the planned files.
    */
  def ordered(spark: SparkSession, parts: Seq[GraftInputPartition]): DataFrame =
    spark.baseRelationToDataFrame(new GraftRelation(spark.sqlContext, parts))
}

/** A run of consecutive data files, in seq order, and the visibility
  * mask built for them on the driver at plan time, so every executor
  * applies the mask the planner chose.
  */
final case class GraftInputPartition(files: Seq[FileIndex.FileStats], mask: Visibility.Mask)
    extends InputPartition

/** Executor-side reader: parquet-mr Group API -> InternalRow over the
  * partition's files in order, filtered by the plan-time visibility
  * mask. Each file is opened with the mask's parquet filter, so row
  * groups and pages below the range are skipped, and the run ends at
  * the first row at or past the mask's upper seq bound: a bounded read
  * from the middle of a large file decodes about its range, not the
  * file. Admitted seq_nums must strictly ascend across the whole run;
  * a regression fails the task rather than serve records out of order.
  */
final class GraftPartitionReader(part: GraftInputPartition)
    extends PartitionReader[InternalRow] {

  private var files = part.files.iterator
  private var reader: ParquetReader[Group] = _
  private var current: InternalRow = _
  private var lastSeq = Long.MinValue

  /** The next file's reader, or false when the run is exhausted. */
  private def openNext(): Boolean = {
    close()
    if (!files.hasNext) false
    else {
      val st = files.next()
      reader = FileIndex.groupReader(st.path, part.mask.parquetFilter(st))
      true
    }
  }

  override def next(): Boolean = {
    while (reader != null || openNext()) {
      var g = reader.read()
      while (g != null) {
        val seq = g.getLong("seq_num", 0)
        if (seq >= part.mask.hi) {
          // rows ascend across the run: nothing after this is admitted
          files = Iterator.empty
          close()
          return false
        }
        val ts = g.getLong("timestamp", 0)
        if (part.mask.admits(seq, ts)) {
          if (seq <= lastSeq)
            throw new IllegalStateException(s"seq_num regression in " +
              s"${part.files.map(_.path).mkString(", ")}: $seq after $lastSeq")
          lastSeq = seq
          current = toRow(g, seq, ts)
          return true
        }
        g = reader.read()
      }
      close()
    }
    false
  }

  private def toRow(g: Group, seq: Long, ts: Long): InternalRow = {
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
    new GenericInternalRow(Array[Any](
      seq, ts, headers, body, g.getLong("metered_size", 0)))
  }

  override def get(): InternalRow = current

  /** Idempotent: the reader closes each file as it moves past it, and
    * the task closes whatever is still open when it ends. */
  override def close(): Unit =
    if (reader != null) {
      val r = reader
      reader = null
      r.close()
    }
}

/** The store's ordered read ([[OrderedScan.ordered]]): a scan of
  * seq-ordered partitions through [[GraftPartitionReader]]. Spark
  * plans it as one leaf with no required distribution, so nothing
  * above it re-partitions the rows unless a caller asks for it.
  */
final class GraftRelation(override val sqlContext: SQLContext,
                          parts: Seq[GraftInputPartition])
    extends BaseRelation with TableScan with FileRelation {
  override def schema: StructType = StreamStore.RecordSchema
  override def needConversion: Boolean = false // buildScan yields InternalRows
  override def sizeInBytes: Long = parts.iterator.flatMap(_.files).map(_.bytes).sum
  override def inputFiles: Array[String] = parts.flatMap(_.files.map(_.path)).toArray
  override def buildScan(): RDD[Row] =
    new GraftScanRDD(sqlContext.sparkContext, parts).asInstanceOf[RDD[Row]]
}

/** One RDD partition per [[GraftInputPartition]], in order. A consumer
  * that stops early (`take`, an abandoned `toLocalIterator`) leaves the
  * reader mid-file; the task-completion listener closes it. */
final class GraftScanRDD(sc: SparkContext, parts: Seq[GraftInputPartition])
    extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    parts.zipWithIndex.map { case (p, i) => GraftScanRDD.Split(i, p): Partition }.toArray

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val reader = new GraftPartitionReader(split.asInstanceOf[GraftScanRDD.Split].part)
    context.addTaskCompletionListener[Unit](_ => reader.close())
    Iterator.continually(reader.next()).takeWhile(identity).map(_ => reader.get())
  }
}

object GraftScanRDD {
  private final case class Split(index: Int, part: GraftInputPartition) extends Partition
}
