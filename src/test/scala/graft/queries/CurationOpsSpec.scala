package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Semantic guarantees of the curation operators beyond what the
  * DuckDB hash-match witnesses: URL canonicalization actually
  * collapses every variant class, RRF fusion puts a doc on both
  * top-20 lists above a doc on one, the edit-distance blocker finds
  * every planted twin (suffix blocking is recall-complete for prefix
  * edits), the quality threshold keeps at least the quartile target
  * per source with bounded overshoot, and drift is zero between
  * identical snapshots by construction.
  */
class CurationOpsSpec extends AnyFunSuite with LocalSpark {

  private def sfDir: String = graft.TestData.requireSf("sf0.001")

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir)

  test("dedup_url: every 6-variant group collapses to ONE canonical url") {
    val rows = run("dedup_url").collect()
    assert(rows.nonEmpty)
    // full groups (6 docs) must count all 6 raw spellings as one page
    val full = rows.filter(_.getAs[Long]("n_urls") == 6L)
    assert(full.nonEmpty, "expected at least one full 6-variant group")
    full.foreach { r =>
      assert(r.getAs[Long]("n_raw_spellings") == 6L,
        s"variants not distinct pre-canon: $r")
      val c = r.getAs[String]("canonical_url")
      assert(c.startsWith("https://www.host"), c)
      assert(!c.contains(":443") && !c.contains("#") &&
        !c.contains("utm_") && !c.endsWith("/index.html") &&
        !c.endsWith("/"), s"canonicalization left residue: $c")
      assert(c.contains("/Docs/"), s"path case must be preserved: $c")
    }
    // kept doc is the group minimum = the variant-0 spelling
    rows.foreach(r => assert(r.getAs[Long]("kept_doc") % 6 == 0 ||
      r.getAs[Long]("n_urls") < 6L))
  }

  test("rank_fusion_rrf: both-list docs outrank single-list docs; ppm exact") {
    val rows = run("rank_fusion_rrf").collect()
    assert(rows.nonEmpty)
    val both = rows.filter(r =>
      r.getAs[Long]("lex_rank") > 0 && r.getAs[Long]("sem_rank") > 0)
    val single = rows.filter(r =>
      r.getAs[Long]("lex_rank") == 0 ^ r.getAs[Long]("sem_rank") == 0)
    // RRF contribution floor: rank 20 on both lists (2*12500) beats
    // rank 1 on one list (16393)
    if (both.nonEmpty && single.nonEmpty)
      assert(both.map(_.getAs[Long]("rrf_ppm")).min >
        single.map(_.getAs[Long]("rrf_ppm")).max)
    rows.foreach { r =>
      val expect =
        (if (r.getAs[Long]("lex_rank") > 0)
          1000000L / (60 + r.getAs[Long]("lex_rank")) else 0L) +
        (if (r.getAs[Long]("sem_rank") > 0)
          1000000L / (60 + r.getAs[Long]("sem_rank")) else 0L)
      assert(r.getAs[Long]("rrf_ppm") == expect)
    }
    // fused ranking is by ppm desc
    val ppms = rows.sortBy(_.getAs[Long]("fused_rank")).map(_.getAs[Long]("rrf_ppm"))
    assert(ppms.zip(ppms.tail).forall { case (a, b) => a >= b })
  }

  test("dedup_near_edit: suffix blocking finds EVERY planted prefix-edit twin") {
    val rows = run("dedup_near_edit").collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val planted = (0L until nDocs).count(_ % 17 == 0)
    val twins = rows.filter(_.getAs[Boolean]("is_planted_twin"))
    assert(twins.length == planted,
      s"expected all $planted twins, found ${twins.length}")
    // a twin's distance is the cost of the one-token replacement:
    // positive (texts differ) and within the |len diff| + replaced
    // token bound that the blocker admits
    twins.foreach { r =>
      val d = r.getAs[Long]("dist")
      assert(d > 0 && d <= 12, s"twin dist out of range: $r")
    }
  }

  test("sample_quality_threshold: per-source keep count covers the quartile, bounded overshoot") {
    val rows = run("sample_quality_threshold").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val k = r.getAs[Long]("k_target")
      val kept = r.getAs[Long]("kept_docs")
      assert(k == (n + 3) / 4)
      assert(kept >= k, s"kept < target: $r")
      assert(kept <= n, s"kept > population: $r")
    }
  }

  test("dedup_containment: every planted quote is found contained in its source") {
    val rows = run("dedup_containment").collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val planted = (0L until nDocs).count(_ % 31 == 0)
    // direction quote -> source: quote id = source + 7e6, so the
    // contained side is the LARGER id on planted rows
    val quoteIn = rows.filter(r => r.getAs[Boolean]("is_planted") &&
      r.getAs[Long]("contained_id") > r.getAs[Long]("container_id"))
    assert(quoteIn.length == planted,
      s"expected $planted planted quote->source rows, got ${quoteIn.length}")
    quoteIn.foreach { r =>
      assert(r.getAs[Long]("containment_micros") >= 500000L)
      assert(r.getAs[Long]("shared_grams") <= r.getAs[Long]("total_grams"))
    }
  }

  test("text_keyphrase_tfidf: exactly 3 phrases per doc, scores descending") {
    val rows = run("text_keyphrase_tfidf").collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { rs =>
      assert(rs.length == 3)
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      val scores = sorted.map(_.getAs[Long]("score_micros"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    }
  }

  test("text_compression_ratio: deterministic, and repetition compresses below prose") { graft.TempDir.using("graft-czr") { dir =>
    // no SQL oracle exists for DEFLATE — these are the operator's
    // gates instead: bit-stable across runs, exact length accounting,
    // and the quality signal actually separates repetitive text
    val a = run("text_compression_ratio").collect()
    val b = run("text_compression_ratio").collect()
    assert(a.length == b.length && a.nonEmpty)
    assert(a.map(_.toString).sameElements(b.map(_.toString)),
      "DEFLATE output must be deterministic across runs")
    a.foreach { r =>
      assert(r.getAs[Long]("raw_bytes") > 0)
      assert(r.getAs[Long]("deflate_bytes") > 0)
      assert(r.getAs[Long]("ratio_micros") ==
        r.getAs[Long]("deflate_bytes") * 1000000L / r.getAs[Long]("raw_bytes"))
    }
    // separation on synthetic fixtures through the same plan
    import spark.implicits._
    val tmp = dir.toString
    val docs = Seq(
      (0L, "spam spam spam spam spam spam spam spam spam spam " * 10,
        "en", "s0", 100L),
      (1L, (0 until 100).map(i => s"w${i * 7919 % 997}x$i").mkString(" "),
        "en", "s0", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("text_compression_ratio")(spark, tmp)
      .collect().sortBy(_.getAs[Long]("doc_id"))
    assert(out(0).getAs[Long]("ratio_micros") <
      out(1).getAs[Long]("ratio_micros") / 3,
      s"repetitive text must compress far below varied text: ${out.toSeq}")
    assert(out(0).getAs[Boolean]("flag_repetitive"))
  }}

  test("stats_drift: identical snapshots have zero drift (operator sanity)") { graft.TempDir.using("graft-drift") { dir =>
    import spark.implicits._
    // run the same plan shape on a corpus where base == candidate:
    // every doc appears once with even id and once with odd id
    val docs = (0 until 40).map(i =>
      (i.toLong * 2, s"text $i", s"l${i % 3}", s"s${i % 4}", 100L + i))
    val both = (docs ++ docs.map { case (id, t, l, src, nc) =>
      (id + 1, t, l, src, nc) })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = dir.toString
    both.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("stats_drift")(spark, tmp).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getAs[Long]("l1_micros") == 0L, s"drift on identical snaps: $r")
      assert(r.getAs[Long]("max_gap_micros") == 0L)
    }
    // and the real corpus has nonzero drift on at least one feature
    val real = run("stats_drift").collect()
    assert(real.map(_.getAs[Long]("l1_micros")).sum > 0L)
  }}

  test("rank_mmr_diversify: driver-side greedy replay reproduces the loop") {
    // The distributed plan builds the 4 greedy rounds as unioned
    // window passes; this replays the SAME math (sequential-fold
    // cosine, ppm freeze, 0.7/0.3 integer MMR, smaller-id tie-break)
    // in plain Scala over the raw vectors and demands bit equality.
    val rows = run("rank_mmr_diversify").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("round"),
        r.getAs[Long]("n_id"), r.getAs[Long]("rel_ppm"),
        r.getAs[Long]("score_ppm")))
      .sortBy(t => (t._1, t._2)).toSeq
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def ppm(x: Double): Long = math.floor(x * 1000000 + 0.5).toLong
    val expect = vecs.keys.filter(_ < 3).toSeq.sorted.flatMap { qid =>
      val vq = vecs(qid)
      val cand = vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, ve) => (nid, ppm(cos(vq, ve))) }
        .sortBy { case (nid, rel) => (-rel, nid) }.take(8)
      var selected = Vector(cand.head._1)
      var out = Vector((qid, 1L, cand.head._1, cand.head._2, cand.head._2))
      for (r <- 2 to 4) {
        val pick = cand.filterNot { case (nid, _) => selected.contains(nid) }
          .map { case (nid, rel) =>
            val maxsim = selected.map(s => ppm(cos(vecs(nid), vecs(s)))).max
            (nid, rel, (7 * rel - 3 * maxsim) / 10)
          }
          .sortBy { case (nid, _, score) => (-score, nid) }.head
        selected :+= pick._1
        out :+= ((qid, r.toLong, pick._1, pick._2, pick._3))
      }
      out
    }
    assert(rows == expect,
      s"distributed MMR diverged from replay:\n got $rows\n exp $expect")
    // diversification sanity: some round-2+ pick must NOT be the
    // next-best by pure relevance (otherwise MMR degenerated to top-k)
    val pureTopK = vecs.keys.filter(_ < 3).toSeq.sorted.flatMap { qid =>
      vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, ve) => (qid, nid, ppm(cos(vecs(qid), ve))) }
        .sortBy { case (_, nid, rel) => (-rel, nid) }.take(4).map(_._2)
    }
    assert(rows.map(_._3) != pureTopK,
      "MMR output equals pure top-4 relevance — diversification is a no-op " +
        "on this corpus; pick a corpus slice where it isn't")
  }
}
