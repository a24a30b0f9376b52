package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded operator query: the Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle over the same parquet
  * tables. Column names/order must match between the two — the driver
  * sorts columns by name and hashes values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def toQueryMap(defs: Seq[QueryDef]): Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap
  def toOracleMap(defs: Seq[QueryDef]): Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** Scale-adaptive scan fan-out (optimization guide §2.5, "input
    * skew: one huge unsplittable file — repartition immediately after
    * the read"): the testdata tables are single-row-group parquet
    * files, so their scans plan ONE partition and every CPU-heavy
    * expression chain that pipelines into the scan stage (cosine
    * folds, shingle md5s, per-subspace distances) runs on one core.
    * When the scan plans fewer partitions than the session's
    * parallelism, a round-robin repartition spreads that compute; at
    * production scale the file/row-group count already exceeds the
    * core count and this is a structural NO-OP — zero added exchange
    * (the condition, not a tuned constant, is what makes it
    * scale-safe). Results are unaffected: downstream operators are
    * key-based aggregations/joins/windows, and Spark's
    * sort-before-repartition keeps the round-robin assignment
    * deterministic under retries.
    */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    // target = parallelism/2: A/B at sf0.1 measured the
    // full-parallelism target slower on multi-stage queries (32 tiny
    // tasks per stage of per-stage overhead) and /2 the best of
    // {1, 2, 4} across the hot set — enough cores on the CPU-dense
    // map stages, half the task fan-out everywhere else
    val p = math.max(1, df.sparkSession.sparkContext.defaultParallelism / 2)
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
