package graft.log

import java.util.concurrent.{Executors, TimeUnit}

/** Background maintenance driver — the analog of the reference's
  * bgtasks runner (lite/src/backend/bgtasks/mod.rs:19-45): a fixed
  * cadence with jitter plus an explicit trigger, paged stream listing,
  * bounded concurrency. Work per tick, per basin:
  *
  *  - **T1 trim executor / T2 retention / T4 terminal trim**: streams
  *    whose trim point moved past what compaction already reclaimed
  *    (`trimPoint > reclaimedTo`), whose deletion is pending, or whose
  *    oldest file has aged past the retention cutoff get a physical
  *    `compact` (stream_trim.rs:20-152);
  *  - **T3 delete-on-empty**: the DoE sweep (stream_doe.rs).
  *
  * Each unit of work is independent and idempotent, so a crashed tick
  * simply redoes the remainder next tick — the same resumability the
  * reference gets from persisted trim points / deletion cursors.
  */
final class Maintenance(store: StreamStore,
                        basins: () => Seq[String],
                        intervalMs: Long = 60000L,
                        pageSize: Int = 128,
                        concurrency: Int = 4) {

  final case class Report(compacted: Seq[(String, String)],
                          doeDeleted: Seq[(String, String)],
                          failures: Seq[(String, String, String)] = Nil)

  /** One maintenance pass over every basin (pure function of state —
    * callable directly, from a test, or from the scheduler).
    */
  def runOnce(nowMs: Option[Long] = None): Report = {
    val now = nowMs.getOrElse(System.currentTimeMillis())
    val compacted = Seq.newBuilder[(String, String)]
    val doeDeleted = Seq.newBuilder[(String, String)]
    val failures = Seq.newBuilder[(String, String, String)]
    val pool = Executors.newFixedThreadPool(concurrency)
    try {
      basins().foreach { basin =>
        var after = ""
        var more = true
        while (more) {
          val page = store.catalog.listStreams(basin, startAfter = after,
            limit = pageSize, includeDeleted = true)
          // old-generation dirs past the racing-plan grace are
          // reclaimed on the tick even if the stream never compacts
          // again — an explicit pass, not a side effect of the
          // needs-compaction filter below
          page.items.foreach(e =>
            store.sweepOldGens(basin, e.name, nowMs = Some(now)))
          val work = page.items.filter { e =>
            val m = store.manifest(basin, e.name)
            lazy val expiredFiles = {
              val mask = Visibility.of(m, store.streamConfig(basin, e.name), Some(now))
              // infinite retention expires nothing: skip the listing
              mask.tsLo > Long.MinValue && FileIndex.listStats(
                Layout.genDir(store.root, basin, e.name, m.generation))
                .exists(mask.expired)
            }
            m.deletionPending || m.trimPoint > m.reclaimedTo || expiredFiles
          }
          // one failing stream must not abort the rest of the pass —
          // every unit is idempotent and will be retried next tick
          val futures = work.map(e => pool.submit(new Runnable {
            def run(): Unit =
              try {
                store.compact(basin, e.name, Some(now))
                compacted.synchronized { compacted += ((basin, e.name)) }
              } catch {
                case t: Throwable => failures.synchronized {
                  failures += ((basin, e.name, t.toString))
                }
              }
          }))
          futures.foreach(_.get())
          more = page.hasMore
          page.items.lastOption.foreach(e => after = e.name)
        }
        store.deleteOnEmptySweep(basin, Some(now))
          .foreach(s => doeDeleted += ((basin, s)))
      }
    } finally pool.shutdown()
    store.sweepTrash(nowMs = nowMs)
    // compactions replace files; drop the driver-side footer/sums
    // cache entries of the dead paths, or a long-lived driver over a
    // churning store accumulates an entry per file EVER seen
    FileIndex.purgeMissing()
    Report(compacted.result(), doeDeleted.result(), failures.result())
  }

  /** Consecutive failed scheduler ticks + last error, for operators. */
  def health: (Int, Option[String]) = (consecutiveFailures, lastError)
  @volatile private var consecutiveFailures = 0
  @volatile private var lastError: Option[String] = None

  // ---- scheduler (60 s cadence ± jitter + explicit trigger) ----

  private val sched = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-maintenance")
    t.setDaemon(true)
    t
  })
  @volatile private var running = false

  private def jittered: Long =
    (intervalMs * (0.9 + 0.2 * scala.util.Random.nextDouble())).toLong

  def start(): Unit = if (!running) {
    running = true
    def tick(): Unit = if (running) {
      try {
        val r = runOnce()
        if (r.failures.nonEmpty) {
          consecutiveFailures += 1
          lastError = Some(r.failures.head._3)
          System.err.println(
            s"[graft-maintenance] ${r.failures.size} unit(s) failed, first: ${r.failures.head}")
        } else { consecutiveFailures = 0; lastError = None }
      } catch {
        case t: Throwable =>
          consecutiveFailures += 1
          lastError = Some(t.toString)
          System.err.println(s"[graft-maintenance] tick failed: $t")
      }
      sched.schedule(new Runnable { def run(): Unit = tick() },
        jittered, TimeUnit.MILLISECONDS)
    }
    sched.schedule(new Runnable { def run(): Unit = tick() },
      jittered, TimeUnit.MILLISECONDS)
  }

  /** Immediate out-of-cadence pass (the bgtask trigger channel). */
  def trigger(): Unit =
    sched.schedule(new Runnable { def run(): Unit = { runOnce(); () } },
      0, TimeUnit.MILLISECONDS)

  def stop(): Unit = { running = false; sched.shutdown() }
}
