package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.log.{Catalog, Layout, StreamStore}
import graft.model.{BasinConfig, RetentionPolicy, StreamConfig}

/** Records of a workload. Both workloads send the same tail traffic:
  * append RPCs of 10 records of 256 B, the shape of graft.Bench's
  * records-API phase. They differ in the bulk records, at one record
  * count per round, as graft.Bench runs its events ingest and its
  * 1 KiB ingest at one row count:
  *  - `small`: 1 KiB bodies in 8 streams, graft.Bench's 1 KiB ingest.
  *  - `events`: the records of graft.Bench's events-table ingest, a
  *    `props` string of 8-9 bytes in 5 streams, one per event type.
  *    Their bytes are negligible, so per-call and per-record costs
  *    dominate. */
final case class Shape(tailBody: Int, bulkStreams: Int, bulkRecords: Int,
                       bulkBody: (Long, Long) => Array[Byte])

object Shape {
  def of(workload: String): Option[Shape] = workload match {
    case "small" => Some(Shape(tailBody = 256, bulkStreams = 8, bulkRecords = 40000,
      bulkBody = (seed, id) => Gen.body(seed, 1, id, 1024)))
    case "events" => Some(Shape(tailBody = 256, bulkStreams = 5, bulkRecords = 40000,
      bulkBody = (seed, id) => Gen.props(seed, 1, id)))
    case _ => None
  }
}

/** Everything a phase needs: the session, the store under test, the
  * seed and shape of the inputs, and where results go. */
final class Ctx(val spark: SparkSession, val store: StreamStore, val seed: Long,
                val shape: Shape, val report: Report, val counters: SparkCounters,
                val cpus: Int, val runDir: Path) {
  def sc = spark.sparkContext

  def createBasin(name: String, cipher: Option[graft.log.CipherAlgo] = None): Unit =
    store.catalog.createBasin(name, BasinConfig(
      defaultStreamConfig = StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
      streamCipher = cipher)) match {
      case Right(_) => ()
      case Left(e) => throw new IllegalStateException(s"createBasin $name: $e")
    }

  /** Bytes and parquet files under a directory tree. */
  def du(dir: String): (Long, Int) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0)
    val s = Files.walk(p)
    try {
      var bytes = 0L; var files = 0
      s.filter(f => Files.isRegularFile(f)).forEach { f =>
        bytes += Files.size(f)
        if (f.getFileName.toString.endsWith(".parquet")) files += 1
      }
      (bytes, files)
    } finally s.close()
  }

  private var cleanupNs = 0L
  def cleanupS: Double = cleanupNs / 1e9

  /** Every live stream of `basin`, through the catalog's paged list. */
  def streamsOf(basin: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var after = ""
    var more = true
    while (more) {
      val page = store.catalog.listStreams(basin, startAfter = after)
      out ++= page.items.map(_.name)
      more = page.hasMore && page.items.nonEmpty
      page.items.lastOption.foreach(s => after = s.name)
    }
    out.result()
  }

  /** Delete a finished basin: mark it deleted in the catalog, then
    * remove its streams' data dirs, manifest dirs (manifests and
    * writer lock files) and catalog shards at the paths `Layout`
    * gives. `StreamStore.deleteBasin` plus a `compact` per stream would
    * do the same through the store, but commits three manifest and
    * catalog writes per stream (about 180 ms per stream on the 4-vCPU
    * VM the bounds were set on), which halved the bulk rounds a window
    * holds. With `hasData` (every stream was written), each stream's
    * data dir must exist before and be gone after, so a layout the
    * benchmark does not know fails the run instead of leaving files
    * behind. */
  def dropBasin(basin: String, hasData: Boolean = true): Unit = {
    val t0 = System.nanoTime()
    val streams = streamsOf(basin)
    val dataDirs = streams.map(s => Paths.get(Layout.dataDir(store.root, basin, s)))
    if (hasData)
      report.check(dataDirs.nonEmpty && dataDirs.forall(Files.isDirectory(_)),
        s"cleanup: $basin lacks data dirs: ${dataDirs.filterNot(Files.isDirectory(_)).mkString(", ")}")
    store.catalog.markBasinDeleted(basin)
    (dataDirs ++ streams.map(s => Layout.statePath(store.root, basin, s).getParent).distinct ++
      streams.map(Catalog.shardOf).distinct.map(Layout.streamShardPath(store.root, basin, _)))
      .foreach(deleteTree)
    report.check(!dataDirs.exists(Files.exists(_)),
      s"cleanup: $basin data dirs left: ${dataDirs.filter(Files.exists(_)).mkString(", ")}")
    cleanupNs += System.nanoTime() - t0
  }

  /** Delete a directory tree the run no longer needs. */
  def removeTree(p: Path): Unit = {
    val t0 = System.nanoTime()
    deleteTree(p)
    cleanupNs += System.nanoTime() - t0
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Flush every dirty page and queued discard to disk and wait, so a
    * timed step does not pay for the writeback or the deletions of the
    * untimed work before it. */
  def settle(): Unit = {
    val t0 = System.nanoTime()
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    settleNs += System.nanoTime() - t0
  }
  private var settleNs = 0L
  def settleS: Double = settleNs / 1e9

  /** 32 key bytes for the encrypted basins, from the seed. */
  def cipherKey: Array[Byte] = Gen.body(seed, 7, 0L, 32)
}
