package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Connected-components label propagation: the corpus's near-dup
  * clusters are clique-ish (diameter ~1), so the oracle query never
  * exercises multi-round convergence — these fixtures do.
  */
class PipelineOpsSpec extends AnyFunSuite with LocalSpark {

  private def sfDir: String = graft.TestData.requireSf("sf0.01")

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val n = nodes.toDF("doc_id")
    val e = edges.toDF("a", "b")
    PipelineOps.connectedComponents(n, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("dedup_bloom: no false negatives, and hits/false-positives are exercised") {
    // The DuckDB hash-match proves Spark == oracle but not that the
    // output discriminates: an all-zero result would also match an
    // identically-broken oracle. These assertions pin the Bloom
    // guarantees on the real corpus: every re-ingested duplicate MUST
    // flag (a Bloom filter cannot false-negative), the undersized
    // m=2048 filter must produce at least one false positive (the
    // rate the query exists to expose), and at least one genuinely
    // new doc must pass clean (the filter isn't saturated).
    val rows = graft.SparkEntry.queries("dedup_bloom")(
        spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.count(_._3 == 1L) >= 5, "no exact duplicates in the probe set")
    assert(rows.filter(_._3 == 1L).forall(_._2 == 1L),
      "Bloom false negative: an exact duplicate was not flagged")
    assert(rows.exists(_._4 == 1L), "no false positive at m=2048")
    assert(rows.exists(r => r._2 == 0L && r._3 == 0L),
      "filter saturated: every new doc flagged")
  }

  test("chain graph needs multiple propagation rounds and still converges") {
    // 0-1-2-3-4-5-6-7: diameter 7, min label must travel the length
    val labels = cc(0L to 7L, (0L to 6L).map(i => (i, i + 1)))
    assert(labels == (0L to 7L).map(_ -> 0L).toMap)
  }

  test("300-node chain converges within the round cap (pointer jumping)") {
    // Diameter 299: pure neighbor-min propagation would need 299
    // rounds and trip the 64-round invariant guard; the rep(rep(x))
    // shortcut halves the remaining depth each round, so this
    // converges in O(log n) rounds.
    val labels = cc(0L to 300L, (0L to 299L).map(i => (i, i + 1)))
    assert(labels.size == 301 && labels.values.forall(_ == 0L))
  }

  test("min label propagates AGAINST edge direction (undirected semantics)") {
    // edge written high->low only; without the bidirectional union the
    // min would never reach node 9
    val labels = cc(Seq(3L, 9L), Seq((9L, 3L)))
    assert(labels == Map(3L -> 3L, 9L -> 3L))
  }

  test("disjoint components keep distinct representatives; singletons self-label") {
    val labels = cc(
      Seq(1L, 2L, 3L, 10L, 11L, 99L),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("cross-linked chains merge into one component") {
    // two chains joined mid-way: {0,1,2} + {10,11,12} with 2-11 bridge
    val labels = cc(
      Seq(0L, 1L, 2L, 10L, 11L, 12L),
      Seq((0L, 1L), (1L, 2L), (10L, 11L), (11L, 12L), (2L, 11L)))
    assert(labels.values.toSet == Set(0L))
  }

  test("pack_sequences_bpe: SQL fold == greedy matcher, spans tile in BPE units") {
    val d = graft.TestData.requireSf("sf0.001")
    // spot-pin the greedy matcher itself on known words first
    assert(PipelineOps.bpeTokenize("the") == Seq("the"))
    assert(PipelineOps.bpeTokenize("customer") == Seq("cust", "omer"))
    assert(PipelineOps.bpeTokenize("window") == Seq("wind", "ow"))
    assert(PipelineOps.bpeTokenize("batch") == Seq("bat", "ch"))
    val rows = graft.SparkEntry.queries("pack_sequences_bpe")(spark, d).collect()
    // expected per-doc subword totals from the Scala replica
    val expected = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ")
          .map(w => PipelineOps.bpeTokenize(w).size.toLong).sum)
      .toMap
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == expected.keySet)
    byDoc.foreach { case (id, spans) =>
      val n = spans.head.getAs[Long]("n_bpe_tokens")
      assert(n == expected(id), s"doc $id: SQL fold $n != replica ${expected(id)}")
      // spans tile [0, n) with no gap or overlap, in pack order
      val ordered = spans.sortBy(_.getAs[Long]("pack_id"))
      assert(ordered.head.getAs[Long]("tok_start") == 0L)
      assert(ordered.last.getAs[Long]("tok_end") == n)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("tok_end") == b.getAs[Long]("tok_start"),
            s"doc $id: span gap/overlap at pack ${b.getAs[Long]("pack_id")}")
          assert(a.getAs[Long]("pack_id") + 1 == b.getAs[Long]("pack_id"))
        case _ =>
      }
    }
    // the whole point: subword counts expand whitespace counts (~2.5x)
    val nWs = spark.read.parquet(s"$d/documents.parquet")
      .selectExpr("CAST(sum(size(split(text, ' '))) AS BIGINT)")
      .collect().head.getLong(0)
    val nBpe = expected.values.sum
    assert(nBpe > nWs * 2 && nBpe < nWs * 3,
      s"subword expansion ${nBpe.toDouble / nWs} outside the expected band")
  }

  test("dsir_select: target distribution separates ad twins without labels") {
    // The hash-match proves Spark == oracle; these assertions pin
    // that the importance weights actually SELECT: every ad-tailed
    // twin must score negative (its markers have zero target mass),
    // the clean pool must be almost-entirely kept (raw is diluted by
    // spam mass the target lacks), and the score gap between the two
    // strata must be wide — DSIR separates them with no label on any
    // raw doc.
    val rows = graft.SparkEntry.queries("dsir_select")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micros"),
        r.getAs[Boolean]("keep")))
    val (twins, clean) = rows.partition(_._1 >= 3000000L)
    assert(twins.nonEmpty && clean.nonEmpty)
    assert(twins.forall(!_._3), "an ad twin was kept")
    val cleanKeepRate =
      clean.count(_._3).toDouble / clean.size
    assert(cleanKeepRate > 0.95, s"clean keep rate $cleanKeepRate")
    val meanClean = clean.map(_._2).sum.toDouble / clean.size
    val maxTwin = twins.map(_._2).max
    assert(meanClean > 0 && maxTwin < -50000000L,
      s"separation too narrow: meanClean=$meanClean maxTwin=$maxTwin")
  }

  test("corpus_mix_temperature: alpha=0.3 flattens the mix, smallest source kept whole") {
    val rows = graft.SparkEntry.queries("corpus_mix_temperature")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("tokens"),
        r.getAs[Long]("rate_micros"), r.getAs[Long]("share_before_micros"),
        r.getAs[Long]("share_after_micros")))
    assert(rows.length > 1)
    // subsampling-only: every rate <= 1, and the smallest source is
    // the most boosted so it keeps everything
    assert(rows.forall(_._3 <= 1000000L))
    assert(rows.minBy(_._2)._3 == 1000000L)
    // rates are anti-monotone in source size (p^-0.7 is decreasing)
    rows.sortBy(_._2).sliding(2).foreach {
      case Array(small, big) => assert(small._3 >= big._3,
        s"rate not anti-monotone: $small vs $big")
      case _ =>
    }
    // the whole point of temperature sampling: the after-mix is
    // flatter than the before-mix
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val vb = variance(rows.map(_._4.toDouble).toSeq)
    val va = variance(rows.map(_._5.toDouble).toSeq)
    assert(va < vb, s"share variance did not shrink: before=$vb after=$va")
  }

  test("shuffle_epoch: epochs are independent permutations, all shards live") {
    val rows = graft.SparkEntry.queries("shuffle_epoch")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Int]("shard"),
        r.getAs[Long]("pos"), r.getAs[Long]("doc_id")))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0, 1))
    byEpoch.values.foreach { e =>
      assert(e.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2, 3),
        "a shard produced no rows")
    }
    // the whole point of per-epoch reshuffling: a different order
    // (and shard assignment) every epoch
    def heads(e: Int): Seq[Long] =
      byEpoch(e).sortBy(t => (t._2, t._3)).map(_._4).toSeq
    assert(heads(0) != heads(1), "epoch 1 replayed epoch 0's order")
  }

  test("dedup_minhash_index: recrawls all hit at 1.0, new docs stay clean") {
    val rows = graft.SparkEntry.queries("dedup_minhash_index")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("n_candidates"),
        Option(r.getAs[java.lang.Double]("best_jaccard")).map(_.doubleValue),
        r.getAs[Boolean]("is_dup")))
    val byKind = rows.groupBy(_._1)
    assert(byKind.keySet == Set("recrawl", "revision", "new"))
    // an exact re-crawl can NEVER miss: identical shingle set ->
    // identical signature -> all 4 bands collide -> jaccard 1.0
    assert(byKind("recrawl").forall(r => r._4 && r._3.contains(1.0)),
      "a re-crawl missed the index")
    // disjoint vocabulary -> zero candidates, not just low jaccard
    assert(byKind("new").forall(r => r._2 == 0L && !r._4),
      "a fresh doc produced index candidates")
    // suffix revisions: high jaccard when found; banding may honestly
    // miss a SHORT doc, so pin recall >= 0.9 rather than 1.0
    val revs = byKind("revision")
    val found = revs.count(_._4)
    assert(found.toDouble / revs.size >= 0.9,
      s"revision recall ${found.toDouble / revs.size}")
    assert(revs.filter(_._4).forall(_._3.exists(_ >= 0.5)))
  }

  test("dedup_keep_best: exactly one keeper per cluster, and it is the " +
    "best member (score desc, doc_id asc)") {
    val out = graft.SparkEntry.queries("dedup_keep_best")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("cluster_rep"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_milli"), r.getAs[Boolean]("keep"),
        r.getAs[Long]("kept_doc")))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (rep, ms) =>
      val kept = ms.filter(_._4)
      assert(kept.length == 1, s"cluster $rep kept ${kept.length} members")
      val k = kept.head
      assert(ms.forall(_._5 == k._2), s"cluster $rep disagrees on kept_doc")
      // nobody in the cluster beats the keeper under (score desc, id asc)
      assert(!ms.exists(m => m._3 > k._3 || (m._3 == k._3 && m._2 < k._2)),
        s"cluster $rep kept ${k._2} (score ${k._3}) but a better member exists")
      assert(ms.length >= 2, s"singleton cluster $rep leaked into the output")
    }
  }
}
