package graft.tools

/** Quiet-host drift adjudication: `Bench.minOf3Norm` (warm pass, then
  * min-of-3 calib-normalized wall) at the BENCH environment (local[32],
  * shuffle 32 — the environment the snapshot's queries_norm was
  * recorded in), one line per query with the snapshot ratio.
  * Usage: runMain graft.tools.Adjudicate <query>...
  */
object Adjudicate {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val snap = {
      val json = java.nio.file.Files.readString(
        java.nio.file.Paths.get("scripts/bench_snapshot.json"))
      val m = """"queries_norm"\s*:\s*\{([^}]*)\}""".r
        .findFirstMatchIn(json).get.group(1)
      """"([^"]+)"\s*:\s*(-?[0-9.]+)""".r.findAllMatchIn(m)
        .map(g => g.group(1) -> g.group(2).toDouble).toMap
    }
    val spark = graft.GraftSession.local(32)
    try args.foreach { q =>
      graft.Bench.minOf3Norm(spark, q, sfDir) match {
        case None => println(s"[adjudicate] $q: UNKNOWN QUERY")
        case Some((norm, cpu)) =>
          val s = snap.getOrElse(q, Double.NaN)
          println(f"[adjudicate] $q: min-of-3 norm $norm%.3f s (cpu $cpu%.3f s) " +
            f"vs snapshot $s%.3f s = ${norm / s}%.2fx")
      }
    } finally spark.stop()
  }
}
