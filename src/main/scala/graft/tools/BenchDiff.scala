package graft.tools

import graft.Measure

/** Compares two bench artifacts (`BENCH_local.json` lines) without
  * running anything: per query the wall ratio now/prev (`queries`),
  * worst first, with the Spark counters that moved when
  * both artifacts carry `queries_counters`, then the geomean ratio
  * over the shared queries. Re-measuring a query by name is
  * [[QueryProfile]]'s job. Usage:
  *   runMain graft.tools.BenchDiff <prev.json> <now.json>
  */
object BenchDiff {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.length == 2, "usage: BenchDiff <prev.json> <now.json>")
    val Seq(prev, now) = args.toSeq.map(f =>
      java.nio.file.Files.readString(java.nio.file.Paths.get(f)))
    println(diff(prev, now).mkString("\n"))
  }

  /** The report lines for artifacts `prev` and `now`. */
  def diff(prev: String, now: String): Seq[String] = {
    val (p, n) = (Measure.numMap(prev, "queries"), Measure.numMap(now, "queries"))
    val (pc, nc) = (Measure.counters(prev), Measure.counters(now))
    val shared = (p.keySet intersect n.keySet).toSeq
    val ratio = shared.map(q => q -> n(q) / math.max(p(q), 1e-3)).toMap
    val rows = shared.sortBy(q => (-ratio(q), q)).map { q =>
      val moved = for {
        a <- pc.get(q).toSeq; b <- nc.get(q).toSeq
        k <- (a.keySet intersect b.keySet).toSeq.sorted if a(k) != b(k)
      } yield s"$k ${fmt(a(k))}->${fmt(b(k))}"
      f"$q%-32s ${p(q)}%8.3f s ${n(q)}%8.3f s  x${ratio(q)}%.2f" +
        (if (moved.isEmpty) "" else moved.mkString("  ", " ", ""))
    }
    val geomean =
      if (shared.isEmpty) Double.NaN
      else math.exp(shared.map(q => math.log(math.max(ratio(q), 1e-9))).sum / shared.size)
    val only = Seq("prev" -> (p.keySet -- n.keySet), "now" -> (n.keySet -- p.keySet))
      .collect { case (side, qs) if qs.nonEmpty =>
        s"only in $side: ${qs.toSeq.sorted.mkString(", ")}" }
    rows ++ only :+ f"geomean x$geomean%.3f over ${shared.size} shared queries"
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.3f"
}
