package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** `log.catalog`: one `Catalog.createStreams` call that creates
  * `Streams` streams in a fresh basin, every stream listed back in
  * pages of 1000 (`ListPasses` times), and `StreamStore.checkTail` on
  * a seeded sample of them. No records are written, and the basin's
  * catalog files are deleted right after, so nothing is left that is
  * slow to delete. */
final class CatalogProbe(ctx: Ctx) {
  import CatalogProbe._
  private val store = ctx.store
  private val report = ctx.report
  private var createS = Double.NaN
  private val pageMs = new ArrayBuffer[Double]
  private val tailMs = new ArrayBuffer[Double]

  private def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val out = f
    (out, System.nanoTime() - t0)
  }

  def run(): Unit = Trace.span("catalog") {
    val basin = "perfbench-catalog"
    ctx.createBasin(basin)
    val names = (0 until Streams).map(i => f"f$i%05d")
    val (created, ns) = timed(Trace.span("log.catalog.create_streams")(
      store.catalog.createStreams(basin, names)))
    createS = ns / 1e9
    report.check(created == Right(Streams), s"catalog: createStreams into $basin -> $created")

    (0 until ListPasses).foreach { _ =>
      val listed = new ArrayBuffer[String]
      var after = ""
      var more = true
      while (more) {
        val (page, ns) = timed(Trace.span("log.catalog.list_page")(
          store.catalog.listStreams(basin, startAfter = after, limit = PageSize)))
        pageMs += ns / 1e6
        listed ++= page.items.map(_.name)
        more = page.hasMore && page.items.nonEmpty
        page.items.lastOption.foreach(s => after = s.name)
      }
      report.check(listed == names,
        s"catalog: listed ${listed.size} of $Streams streams of $basin, in order: ${listed.sorted == listed}")
    }

    (0 until TailSample).foreach { k =>
      val s = names(Gen.streamOf(ctx.seed, 30, k.toLong, Streams))
      val (tail, ns) = timed(Trace.span("log.store.check_tail")(store.checkTail(basin, s)))
      tailMs += ns / 1e6
      report.check(tail.seqNum == 0L, s"catalog: checkTail $basin/$s = $tail on an empty stream")
    }
    ctx.dropBasin(basin, hasData = false)
  }

  def metrics(): Unit = {
    report.perLayer("log.catalog.create_streams_s", createS, "s")
    report.perLayer("log.catalog.list_page_p50_ms", Stats.p50(pageMs.toSeq), "ms")
    report.perLayer("log.store.check_tail_top_ms", Stats.topOf(tailMs.toSeq), "ms")
  }
}

object CatalogProbe {
  val Streams = 10000
  val PageSize = 1000
  val ListPasses = 3
  val TailSample = 200
}
