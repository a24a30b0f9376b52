package graft.tools

/** Generates the `queries_rm8` snapshot baseline: min-of-3
  * calib-normalized wall for the AGGREGATE re-measure sample
  * (Bench.rm8Sample of the current snapshot), measured in the SAME
  * environment class the gate's live confirmation uses
  * (Bench.remeasureSession + Bench.minOf3Norm). Run on a quiet host
  * whenever scripts/bench_snapshot.json is refreshed; paste the
  * printed map into the snapshot as "queries_rm8".
  *
  * Why this exists (VERDICT r17 next-round #1): the gate's AGGREGATE
  * path fired on the driver's contended artifact with no way to
  * confirm by measurement — the per-query path re-measures flagged
  * queries live, but an aggregate verdict needs a SAMPLED SUM, and a
  * sum over live local[8] measurements is only comparable to a
  * baseline recorded by the same measurement in the same environment
  * class. `queries_norm` (local[32] bench) is not that baseline;
  * this map is.
  */
object Rm8Baseline {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val snapPath = args.headOption.getOrElse("scripts/bench_snapshot.json")
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(snapPath))
    val snapNorm = graft.Measure.numMap(json, "queries_norm")
    val spark = graft.Bench.remeasureSession()
    val sample = graft.Bench.rm8Sample(snapNorm)
    val vals = sample.flatMap { q =>
      val r = graft.Bench.minOf3Norm(spark, q, sfDir)
      r.foreach { case (w, c) =>
        System.err.println(f"[rm8] $q norm $w%.3f s cpu $c%.3f s") }
      r.map(m => q -> m._1)
    }
    println(vals.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("\"queries_rm8\":{", ",", "}"))
    spark.stop()
  }
}
