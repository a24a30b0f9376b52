package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.log.{StreamStore, Visibility}

/** R8/R9 — live tail ("follow") of a stream as a Structured Streaming
  * query over the `graft-stream` connector
  * (graft.streaming.source.GraftStreamSource), whose offsets are
  * seq_nums. This matches the reference's follow semantics
  * structurally (read.rs:183-240):
  * - catch-up vs live is unified — a follower that falls behind simply
  *   reads older files (the "lagged follower falls back to catch-up
  *   scan" rule, FOLLOWER_MAX_LAG, is inherent: there is no bounded
  *   broadcast buffer to overflow);
  * - a follower sees exactly what a batch read would: only
  *   manifest-committed (= durable) records, masked by the store's
  *   visibility rule ([[graft.log.Visibility]]: trim point, tail,
  *   retention);
  * - resumption (SSE Last-Event-ID, read.rs:49-65) is the source's
  *   checkpointed seq offset — restart the query with the same
  *   checkpointLocation and it continues exactly after the last
  *   delivered batch;
  * - heartbeats / wait budgets are serving-layer concerns around
  *   `StreamingQuery.awaitTermination(timeout)` + progress events.
  *
  * At scale: one follower = one streaming query over one stream's
  * files — no shuffle, no state store; fan-out to N followers is N
  * independent queries over the same immutable files.
  */
object Follow {

  /** Streaming DataFrame of records appended to (basin, stream),
    * starting at `fromSeq` (R2 applied to the live feed). Backed by the
    * custom seq-offset source (graft.streaming.source.GraftStreamSource):
    * offsets are seq_nums, only manifest-committed (= durable) records
    * are offered, and catch-up ranges prune files by footer stats.
    */
  def follow(store: StreamStore, basin: String, stream: String,
             fromSeq: Long = 0L,
             ignoreCommands: Boolean = false,
             maxRecordsPerTrigger: Option[Long] = None,
             maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    var reader = store.spark.readStream.format("graft-stream")
      .option("root", store.root)
      .option("basin", basin)
      .option("stream", stream)
      .option("startSeq", fromSeq)
    // admission control (the FOLLOWER_MAX_LAG analog,
    // lite/src/backend/mod.rs:27): bound each micro-batch so a
    // catch-up over a deep backlog drains as many bounded batches
    maxRecordsPerTrigger.foreach(n =>
      reader = reader.option("maxRecordsPerTrigger", n))
    maxBytesPerTrigger.foreach(n =>
      reader = reader.option("maxBytesPerTrigger", n))
    var df = reader.load()
    if (ignoreCommands) df = df.where(Visibility.notCommand)
    df
  }

  /** M1-style live metrics over the tail: per-minute ops/bytes with
    * watermarked event time (tumbling window).
    */
  def liveMinuteMetrics(store: StreamStore, basin: String, stream: String): DataFrame = {
    follow(store, basin, stream)
      .withColumn("event_time", timestamp_millis(col("timestamp")))
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), "1 minute"))
      .agg(count(lit(1)).as("n_ops"), sum("metered_size").as("bytes"))
  }
}
