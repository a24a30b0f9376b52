package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions

/** `queries` (the `graft.functions` layer): the Catalyst expressions
  * graft adds, each projected over seeded rows and materialized with
  * a `noop` write ([[FunctionsProbe.materialize]]), so the whole
  * projection is built where a `count()` would let Catalyst prune it.
  * Each function's sum is checked against the same formula computed
  * outside Spark from the generator. */
final class FunctionsProbe(ctx: Ctx) {
  import FunctionsProbe._
  private val spark = ctx.spark
  private val report = ctx.report

  private val walls = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  /** Seeded rows: two float vectors, two long vectors and a body. */
  private def rows(): DataFrame = {
    import spark.implicits._
    val seed = ctx.seed
    spark.range(Rows).map { id =>
      (vecF(seed, id, 0), vecF(seed, id, 1), vecL(seed, id, 0), vecL(seed, id, 1),
        Gen.props(seed, 41, id))
    }.toDF("va", "vb", "qa", "qb", "body")
  }

  private def functions: Seq[(String, Column)] = Seq(
    "metered_size" -> GraftFunctions.metered_size(
      expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)"), col("body")),
    "int_dot" -> GraftFunctions.int_dot(col("qa"), col("qb")),
    "cosine_sim" -> GraftFunctions.cosine_sim(col("va"), col("vb")))

  def run(): Unit = {
    val df = rows().persist(StorageLevel.MEMORY_ONLY)
    df.count()
    try {
      for (pass <- 0 until Passes; (name, fn) <- functions) {
        val out = df.select(fn.as("v"))
        val t0 = System.nanoTime()
        // the first pass compiles the plan and is not kept
        SparkCounters.tagged(ctx.sc, if (pass == 0) "warm" else "queries")(
          Trace.span(s"queries.$name")(materialize(out)))
        if (pass > 0) walls.getOrElseUpdate(name, new ArrayBuffer[Double]) += (System.nanoTime() - t0) / 1e9
      }
      check(df)
    } finally df.unpersist()
  }

  /** Spark's sums against the formulas evaluated on the generator. */
  private def check(df: DataFrame): Unit = {
    val got = df.select(functions.map { case (n, f) => sum(f).as(n) }: _*).first()
    var metered = 0L; var dot = 0L; var cos = 0.0
    val seed = ctx.seed
    var id = 0L
    while (id < Rows) {
      metered += 8 + Gen.props(seed, 41, id).length
      val (qa, qb) = (vecL(seed, id, 0), vecL(seed, id, 1))
      dot += qa.indices.map(i => qa(i) * qb(i)).sum
      val (va, vb) = (vecF(seed, id, 0).map(_.toDouble), vecF(seed, id, 1).map(_.toDouble))
      val d = va.indices.map(i => va(i) * vb(i)).sum
      cos += d / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      id += 1
    }
    report.check(got.getLong(0) == metered, s"queries: sum(metered_size) ${got.getLong(0)} != $metered")
    report.check(got.getLong(1) == dot, s"queries: sum(int_dot) ${got.getLong(1)} != $dot")
    report.check(math.abs(got.getDouble(2) - cos) <= 1e-9 * math.max(1.0, math.abs(cos)),
      s"queries: sum(cosine_sim) ${got.getDouble(2)} != $cos")
  }

  def metrics(): Unit = {
    walls.foreach { case (name, w) =>
      report.perLayer(s"queries.$name.wall_s", Stats.median(w.toSeq), "s")
    }
    val a = ctx.counters.get(ctx.sc, "queries")
    val k = (Passes - 1) * functions.size.toDouble
    report.perLayer("queries.tasks", a.tasks / k, "count")
    report.perLayer("queries.executor_cpu_s", a.cpuNs / 1e9 / k, "s")
  }
}

object FunctionsProbe {
  val Rows = 100000L
  val Dim = 32
  val Passes = 4

  /** The timed action: build every row of `df` and discard it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seeded vector `k` of row `id`, floats in [-0.5, 0.5). */
  def vecF(seed: Long, id: Long, k: Int): Array[Float] =
    Array.tabulate(Dim)(j => (Gen.key(seed, 42 + k, id, j) >>> 40).toFloat / (1 << 24) - 0.5f)

  /** Seeded vector `k` of row `id`, longs in [-1000, 1000]. */
  def vecL(seed: Long, id: Long, k: Int): Array[Long] =
    Array.tabulate(Dim)(j => java.lang.Math.floorMod(Gen.key(seed, 44 + k, id, j), 2001L) - 1000L)
}
