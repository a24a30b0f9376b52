package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: `runMain graft.Verify <sfDir> <outDir> [query ...]` — only
  * the named queries are dumped when names are given, all otherwise.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir +: outDir +: names = args.toSeq
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try dump(spark, sfDir, outDir, names)
    finally spark.stop()
  }

  /** Dumps `names` (every query when empty) under `outDir`, after
    * writing oracle_sql.json. A failing query is reported on stderr and
    * the rest still run. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    writeOracles(outDir) // FIRST: a crash mid-dump must still leave a
                         // gateable artifact (dumped queries + oracles),
                         // not zero out the round's correctness
    val queries = SparkEntry.queries
    (if (names.isEmpty) queries.keys.toSeq else names).foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
  }

  /** ONE escaper and ONE __VERIFY_OUT__ substitution for every dump,
    * full or by name, so a subset run can never gate against a
    * differently-built oracle file.
    */
  private def writeOracles(outDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracles over non-SQL-expressible signals (DEFLATE) verify the
    // derived structure against the dumped parquet itself; the dump
    // location is only known here, so substitute it (absolute — the
    // compare may run from a different cwd).
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__VERIFY_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
