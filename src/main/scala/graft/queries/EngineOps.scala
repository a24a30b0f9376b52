package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.log.StreamStore
import graft.model._

/** End-to-end engine verification: these queries exercise the REAL
  * StreamStore (bulk ingest -> parquet partitions + manifests -> read
  * planner), not just the batch query layer. The oracle recomputes the
  * expected log state in SQL, so a hash match proves the engine's
  * sequencing, timestamping, metering, manifests, and read limits all
  * agree with the reference semantics.
  *
  * Store timestamps are epoch MILLIS (the reference's unit); the oracle
  * uses epoch_ms().
  */
object EngineOps {

  val Basin = "bench-basin"

  // One ingested store per sf dir per JVM (queries share it); its
  // root goes when the JVM exits.
  private val stores = TrieMap[String, StreamStore]()

  def storeFor(s: SparkSession, sfDir: String): StreamStore =
    stores.getOrElseUpdate(sfDir, {
      val root = graft.TempDir.untilExit("graft-e2e").toString
      val st = new StreamStore(s, root)
      st.catalog.createBasin(Basin,
        BasinConfig(defaultStreamConfig =
          StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      val ev = Records.events(s, sfDir)
      val df = ev.select(
        lit(Basin).as("basin"),
        col("event_type").as("stream"),
        expr("ts div 1000000").as("ts_client"), // ns -> ms
        expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
        col("props").cast(BinaryType).as("body"),
        col("event_id").as("arrival"))
      ev.select("event_type").distinct().collect().foreach(r =>
        st.catalog.createStream(Basin, r.getString(0)))
      st.ingest(df)
      st
    })

  /** Shared oracle CTE: the expected store content in SQL (ms). */
  private val StoreCte =
    """WITH store AS (
      |  SELECT
      |    event_type AS stream,
      |    CAST(row_number() OVER w - 1 AS BIGINT) AS seq_num,
      |    CAST(max(epoch_ms(ts)) OVER (PARTITION BY event_type ORDER BY event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS timestamp,
      |    CAST(8 + strlen(props) AS BIGINT) AS metered_size,
      |    props AS body
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
      |)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // Full round-trip: everything the engine persisted, read back from
    // its parquet partitions.
    QueryDef("e2e_store_roundtrip",
      (s, d) => {
        val st = storeFor(s, d)
        s.read.parquet(s"${st.root}/data")
          .select(col("stream"), col("seq_num"), col("timestamp"),
            col("metered_size"), col("body").cast(StringType).as("body"))
          .orderBy("stream", "seq_num")
      },
      Some(s"""$StoreCte
        |SELECT stream, seq_num, timestamp, metered_size, body FROM store
        |ORDER BY stream, seq_num""".stripMargin)),

    // Manifest tails (R1 via the engine's durable state, not a scan).
    QueryDef("e2e_store_tail",
      (s, d) => {
        val st = storeFor(s, d)
        val rows = st.catalog.listStreams(Basin).items.map { e =>
          val t = st.checkTail(Basin, e.name)
          (e.name, t.seqNum, t.timestamp)
        }
        s.createDataFrame(rows).toDF("stream", "next_seq", "last_ts")
          .orderBy("stream")
      },
      Some(s"""$StoreCte
        |SELECT stream, max(seq_num) + 1 AS next_seq, max(timestamp) AS last_ts
        |FROM store GROUP BY stream ORDER BY stream""".stripMargin)),

    // The engine's read planner with a bytes limit (R2+R4 through the
    // real API, including the manifest-driven visibility mask).
    QueryDef("e2e_store_read_limits",
      (s, d) => {
        val st = storeFor(s, d)
        st.read(Basin, "error",
            ReadSpec(ReadStart(ReadFrom.SeqNum(10)),
              ReadEnd(ReadLimit(count = Some(200), bytes = Some(4000)))))
          .fold(e => throw new RuntimeException(e), identity)
          .select("seq_num", "timestamp", "metered_size")
      },
      Some(s"""$StoreCte,
        |c AS (SELECT seq_num, timestamp, metered_size,
        |        CAST(sum(metered_size) OVER (ORDER BY seq_num
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM store WHERE stream = 'error' AND seq_num >= 10)
        |SELECT seq_num, timestamp, metered_size FROM c
        |WHERE cum <= 4000 ORDER BY seq_num LIMIT 200""".stripMargin))
  )
}
