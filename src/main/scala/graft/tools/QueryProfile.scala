package graft.tools

import graft.Measure

/** Per-query structural profile: median-of-3 [[Measure.run]] with the
  * median pass's job/stage/task counts, shuffle and spill bytes and
  * output rows — the numbers that say WHERE a query's time goes when
  * the data is small enough that scheduling overhead dominates (guide
  * §1: measure first; §2.4: count the exchanges). Usage:
  *   runMain graft.tools.QueryProfile <sfDir> [query ...]
  * Defaults to the 20 costliest queries (by wall, `queries`) of
  * `scripts/bench_snapshot.json` when no names are given.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.tail.toSeq
      else Measure.numMap(java.nio.file.Files.readString(
        java.nio.file.Paths.get("scripts/bench_snapshot.json")), "queries")
        .toSeq.sortBy { case (k, v) => (-v, k) }.take(20).map(_._1)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      Measure.run(spark, "warm")(graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
      names.foreach { n =>
        graft.SparkEntry.queries.get(n) match {
          case None => println(s"[qp] $n: UNKNOWN QUERY")
          case Some(fn) =>
            Measure.run(spark, n)(fn(spark, sfDir)) // warm: codegen + plan cache
            val passes = Seq.fill(3)(Measure.run(spark, n)(fn(spark, sfDir)))
            val m = passes.sortBy(_.wallSec)(Ordering.Double.TotalOrdering)(1)
            println(f"[qp] $n%-28s med=${m.wallSec}%6.2f s  " +
              f"min=${passes.map(_.wallSec).min}%6.2f s  cpu=${m.cpuSec}%6.2f s  " +
              f"jobs=${m.jobs}%3d stages=${m.stages}%4d tasks=${m.tasks}%5d " +
              f"shufR=${m.shuffleReadBytes / 1024}%8d KiB " +
              f"shufW=${m.shuffleWriteBytes / 1024}%8d KiB " +
              f"spill=${m.spillBytes / 1024}%6d KiB rows=${m.outputRows}%d")
        }
      }
    } finally spark.stop()
  }
}
