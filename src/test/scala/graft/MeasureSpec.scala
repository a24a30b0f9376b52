package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MeasureSpec extends AnyFunSuite with LocalSpark {

  private def range(n: Long, parts: Int): DataFrame = spark.range(0, n, 1, parts).toDF()

  test("a projection that count() prunes is evaluated") {
    val calls = spark.sparkContext.longAccumulator("udf-calls")
    val touch = udf { (x: Long) => calls.add(1); x * 2 }
    def df = range(1000, 4).select(touch(col("id")).as("y"))
    df.count()
    assert(calls.value == 0L, "count() was expected to prune the projection")
    val m = Measure.run(spark, "projection")(df)
    assert(calls.value == 1000L)
    assert(m.outputRows == 1000L)
  }

  test("output rows equal count() for an aggregate and a projection") {
    val agg = range(1000, 4).groupBy((col("id") % 7).as("k")).count()
    val proj = range(1000, 4).select((col("id") + 1).as("x")).where(col("x") % 3 === 0)
    for ((name, df) <- Seq("agg" -> agg, "proj" -> proj))
      assert(Measure.run(spark, name)(df).outputRows == df.count(), name)
  }

  test("shuffle counters: an exchange writes shuffle bytes, a scan none") {
    val shuffled = Measure.run(spark, "exchange")(
      range(10000, 4).groupBy((col("id") % 100).as("k")).agg(sum("id")))
    assert(shuffled.stages >= 2 && shuffled.shuffleWriteBytes > 0 &&
      shuffled.shuffleReadBytes > 0, shuffled)
    val scan = Measure.run(spark, "scan")(range(10000, 4).select((col("id") * 3).as("x")))
    assert(scan.shuffleWriteBytes == 0L && scan.shuffleReadBytes == 0L, scan)
    assert(scan.jobs >= 1 && scan.tasks == 4L, scan)
  }

  test("runs on two threads at once do not mix their counts") {
    def run(parts: Int): Measure.Sample =
      Measure.run(spark, s"p$parts")(range(200000, parts).select(
        expr("sha2(CAST(id AS STRING), 256)").as("h")))
    val (alone3, alone5) = (run(3), run(5))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (0 until 5).foreach { _ =>
        val f3 = pool.submit(() => run(3))
        val f5 = pool.submit(() => run(5))
        val (m3, m5) = (f3.get(), f5.get())
        assert((m3.jobs, m3.stages, m3.tasks) == (alone3.jobs, alone3.stages, alone3.tasks))
        assert((m5.jobs, m5.stages, m5.tasks) == (alone5.jobs, alone5.stages, alone5.tasks))
      }
    } finally pool.shutdown()
  }

  test("50 back-to-back runs report identical jobs, stages and tasks") {
    def df = range(5000, 4).groupBy((col("id") % 10).as("k")).count()
    val counts = (0 until 50).map { i =>
      val m = Measure.run(spark, "repeat")(df)
      (m.jobs, m.stages, m.tasks, m.outputRows)
    }
    assert(counts.distinct.size == 1, counts.distinct)
    assert(counts.head._1 >= 1 && counts.head._4 == 10L)
  }
}
