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

  test("a loaded host changes no counter of partition-sensitive queries") {
    val sfDir = TestData.requireSf("sf0.001")
    val names = Seq("dedup_keep_best", "cluster_kmeans", "text_keyphrase_tfidf", "sample_split")
    def measure(q: String) = Measure.run(spark, q)(SparkEntry.queries(q)(spark, sfDir))
    names.foreach(measure) // warm
    val alone = names.map(q => q -> measure(q)).toMap
    val spinning = new java.util.concurrent.atomic.AtomicBoolean(true)
    val spinners = (0 until 4).map { _ =>
      val t = new Thread(() => { var x = 1L; while (spinning.get()) x = x * 31 + 7 })
      t.setDaemon(true); t.start(); t
    }
    val loaded = try names.map(q => q -> measure(q)).toMap
      finally { spinning.set(false); spinners.foreach(_.join()) }
    // within CounterGateSpec's bounds: equal jobs, stages and rows, tasks
    // within its slack, shuffle bytes within its tolerance both ways
    for (q <- names; (a, l) = (alone(q), loaded(q))) {
      assert((l.jobs, l.stages, l.outputRows) == (a.jobs, a.stages, a.outputRows) &&
        math.abs(l.tasks - a.tasks) <= CounterGateSpec.TaskSlack, s"$q: alone $a, loaded $l")
      for ((x, y) <- Seq(a.shuffleWriteBytes -> l.shuffleWriteBytes,
                         a.shuffleReadBytes -> l.shuffleReadBytes))
        assert(y <= CounterGateSpec.shuffleLimit(x) && x <= CounterGateSpec.shuffleLimit(y),
          s"$q: shuffle bytes alone $a, loaded $l")
    }
  }
}
