package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built: every entry point,
  * tool and test session goes through [[local]]. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, AQE on, UTC session
    * time, no UI and WARN logging. `conf` pairs are applied after
    * those defaults, so they may override any of them. `getOrCreate`:
    * a session already running is returned, with only the runtime SQL
    * settings applied to it. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(Map(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false") ++ conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
