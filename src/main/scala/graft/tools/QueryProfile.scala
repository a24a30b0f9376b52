package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

/** Per-query structural profile: median-of-3 wall seconds plus the
  * job/stage/task counts and shuffle bytes of one pass — the numbers
  * that say WHERE a query's time goes when the data is small enough
  * that scheduling overhead dominates (guide §1: measure first; §2.4:
  * count the exchanges). Usage:
  *   runMain graft.tools.QueryProfile <sfDir> [query ...]
  * Defaults to the top of the bench's cost ranking when no names are
  * given.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.tail.toSeq
      else Seq("dedup_near_edit", "emb_pca_loadings", "ann_pq_learned",
        "dedup_keep_best", "emb_pca_project", "dedup_minhash_lsh",
        "dedup_ngram_prefix", "e2e_ann_index", "sketch_hll_merge",
        "dedup_cluster_cc", "cluster_kmeans", "sketch_histogram_quantiles",
        "rank_mmr_diversify", "bpe_learn_merges", "dedup_minhash_index",
        "ann_ivf_kmeans", "dedup_ngram_jaccard", "dedup_cdc_chunks",
        "dedup_semantic_kmeans", "graph_pagerank")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0); shufWrite.set(0)
    }

    graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count() // warm
    names.foreach { n =>
      // skip unknown names instead of a non-local return (ADVICE r21:
      // the `return` aborted the whole run and skipped spark.stop())
      graft.SparkEntry.queries.get(n) match {
        case None => println(s"[qp] $n: UNKNOWN QUERY")
        case Some(fn) =>
      fn(spark, sfDir).count() // warm: codegen + plan cache
      val walls = (0 until 3).map { i =>
        if (i == 2) { Thread.sleep(200); reset() }
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(200) // let the listener bus drain
      val med = walls.sorted.apply(1)
      println(f"[qp] $n%-28s med=${med}%6.2f s  min=${walls.min}%6.2f s  " +
        f"jobs=${jobs.get}%3d stages=${stages.get}%4d tasks=${tasks.get}%5d " +
        f"shufR=${shufRead.get / 1024}%8d KiB shufW=${shufWrite.get / 1024}%8d KiB")
      }
    }
    spark.stop()
  }
}
