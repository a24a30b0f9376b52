package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** LSH candidate generation stays bounded under degenerate buckets —
  * the VERDICT-flagged boilerplate-cluster hotspot.
  */
class TextOpsSpec extends AnyFunSuite with LocalSpark {

  test("dedup_lines: copies fully removed, near-dups keep only their modified tail") {
    val d = graft.TestData.requireSf("sf0.001")
    val out = graft.SparkEntry.queries("dedup_lines")(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every doc of the augmented corpus reports
    assert(out.keySet.count(_ < 1000000) == 500)
    // exact-copy pairs: every line exists in >= 2 docs on both sides
    out.keys.filter(id => id < 1000000 && id % 17 == 0).foreach { id =>
      val copy = out(id + 1000000)
      val orig = out(id)
      assert(orig.getAs[Long]("removed_lines") == orig.getAs[Long]("n_lines"),
        s"doc $id: shared lines survived in the original")
      assert(copy.getAs[Long]("residual_len") == 0L,
        s"copy of $id kept text after line dedup")
      // empty residual = md5 of the empty string in both engines
      assert(copy.getAs[String]("residual_md5") ==
        "d41d8cd98f00b204e9800998ecf8427e")
    }
    // near-dup (+suffix) docs: all full lines shared with the base doc
    // are removed (at most the 1-2 suffix-shifted tail lines differ) —
    val nearIds = out.keys.filter(_ >= 2000000).toSeq
    nearIds.foreach { id =>
      val r = out(id)
      assert(r.getAs[Long]("removed_lines") >= r.getAs[Long]("n_lines") - 2,
        s"near-dup $id kept a line it shares with its base doc")
    }
    // — and the modified tail normally survives. Exception, and a
    // correct one: when the base length is a multiple of 10, the tail
    // line is exactly the 3-token suffix, identical across all such
    // near-dups, so it is itself cross-doc duplicated and removed.
    val keptTail = nearIds.count(id => out(id).getAs[Long]("residual_len") > 0L)
    assert(keptTail * 3 >= nearIds.size * 2,
      s"only $keptTail/${nearIds.size} near-dups kept their modified tail")
    // a doc not involved in any duplication keeps everything
    val untouched = out.keys.filter(id => id < 1000000 &&
      id % 17 != 0 && id % 13 != 0)
    assert(untouched.nonEmpty)
    // (the corpus deliberately repeats boilerplate spans across docs —
    // the structure dedup_substring_spans exists for — so some
    // uninvolved docs legitimately lose shared lines; the majority
    // must still be fully retained)
    val fullyKept = untouched.count(id => out(id).getAs[Long]("removed_lines") == 0L)
    assert(fullyKept * 3 >= untouched.size * 2,
      s"only $fullyKept/${untouched.size} uninvolved docs fully retained")
  }

  test("band buckets above the cap are skipped; small buckets still pair") {
    import spark.implicits._
    // one degenerate bucket with 200 docs (boilerplate collision) and
    // one healthy bucket with 3 docs
    val bands = ((0 until 200).map(i => (0, "degenerate", i.toLong)) ++
      Seq((1, "ok", 500L), (1, "ok", 501L), (1, "ok", 502L)))
      .toDF("band", "band_key", "doc_id")
    val cands = TextOps.cappedCandidates(bands, TextOps.BandBucketCap).collect()
    // degenerate bucket contributes ZERO pairs (would have been 19900)
    assert(cands.length == 3)
    assert(cands.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((500L, 501L), (500L, 502L), (501L, 502L)))
  }

  test("buckets exactly at the cap still generate pairs") {
    import spark.implicits._
    val bands = (0 until TextOps.BandBucketCap.toInt)
      .map(i => (0, "full", i.toLong)).toDF("band", "band_key", "doc_id")
    val n = TextOps.cappedCandidates(bands, TextOps.BandBucketCap).count()
    val k = TextOps.BandBucketCap
    assert(n == k * (k - 1) / 2)
  }

  test("text_boilerplate_lines: banner over threshold removed, footer " +
       "under threshold and unique bodies kept") { graft.TempDir.using("graft-boiler") { dir =>
    import spark.implicits._
    // 20 docs, one source: banner lands on 10/20 docs (50% >= 30%,
    // boilerplate), footer on 4/20 (20% < 30%, NOT boilerplate)
    val docs = (0 until 20).map(i =>
      (i.toLong, s"unique body text of document number $i", "en", "srcA",
        30L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = dir.toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("text_boilerplate_lines")(spark, tmp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 20)
    (0 until 20).foreach { i =>
      val r = out(i.toLong)
      val hasBanner = i % 2 == 0
      val hasFooter = i % 5 == 0
      val expLines = 1L + (if (hasBanner) 1 else 0) + (if (hasFooter) 1 else 0)
      assert(r.getAs[Long]("n_lines") == expLines, s"doc $i lines: $r")
      assert(r.getAs[Long]("n_boiler") == (if (hasBanner) 1L else 0L),
        s"doc $i: banner mis-flagged (or footer over-flagged): $r")
      // docs with neither injection keep their text verbatim
      if (!hasBanner && !hasFooter) {
        val body = s"unique body text of document number $i"
        assert(r.getAs[Long]("residual_len") == body.length.toLong)
      }
      // footer survives (kept in residual): footer-only docs are
      // LONGER than their body alone
      if (!hasBanner && hasFooter)
        assert(r.getAs[Long]("residual_len") >
          s"unique body text of document number $i".length.toLong,
          s"doc $i: under-threshold footer was wrongly removed")
    }
  }}

  test("text_entropy: matches an independent in-JVM recompute; bounds hold") {
    val d = graft.TestData.requireSf("sf0.001")
    val out = graft.SparkEntry.queries("text_entropy")(spark, d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 500)
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    for (id <- Seq(0L, 7L, 123L)) {
      val cs = texts(id).toSeq.groupBy(identity).map(_._2.size)
      val n = cs.sum.toDouble
      val h = cs.map(c => c * math.log(n / c)).sum / n / math.log(2.0)
      val got = out(id).getAs[Double]("entropy_bits")
      assert(math.abs(got - h) < 1e-4, s"doc $id: $got vs direct $h")
      assert(out(id).getAs[Long]("dlen") == texts(id).length.toLong)
    }
    // bounds: 0 <= H <= log2(distinct chars)
    out.values.foreach { r =>
      val h = r.getAs[Double]("entropy_bits")
      val nd = r.getAs[Long]("n_distinct").toDouble
      assert(h >= 0.0 && h <= math.log(nd) / math.log(2.0) + 1e-6, s"$r")
    }
  }

  test("char-5-gram fallback: spaced text byte-identical to the legacy " +
    "word-3-gram rule; space-free text gets char shingles") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val d = graft.TestData.requireSf("sf0.001")

    // 1. The whitespace path is UNCHANGED: over the real (spaced)
    // corpus the adaptive rule reproduces the legacy word-3-gram-only
    // shingle multiset exactly — the fallback may only ever ADD
    // coverage for degenerate docs, never perturb spaced text.
    val spaced = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text")
    val w = col("w")
    val legacy = spaced
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(array_distinct(
        when(size(w) >= 3,
          transform(sequence(lit(1), size(w) - 2),
            i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
                           element_at(w, i + 2))))
        .otherwise(array().cast(ArrayType(StringType))))).as("sh"))
    val adaptive = TextOps.shingles(spaced)
    assert(adaptive.exceptAll(legacy).isEmpty && legacy.exceptAll(adaptive).isEmpty,
      "adaptive shingles diverged from the legacy word-3-gram rule on spaced text")

    // 2. The fallback branches, pinned doc by doc:
    val fx = spark.createDataFrame(Seq(
      (1L, "abcdefg"),          // one token, 7 chars -> 3 char-5-grams
      (2L, "中文的测试文本"),     // space-free CJK, 7 codepoints -> 3
      (3L, "hi"),               // 2 chars: too short for either -> empty
      (4L, "a b"),              // 2 tokens, 3 chars -> empty
      (5L, "aaaaaaaaa bbbbbbbbbbbbb cccccccccccccccccccccccccccccccccccc"),
      // ^ 3 tokens but 60 chars = avg 20/token -> still the word path
      (6L, "xxxxxxxxxxxxxxxxxxxxx yyyyyyyyyyyyyyyyyyyyy zzzzzzzzzzzzzzzzzzzzz")
      // ^ 3 tokens, 65 chars = avg > 20/token -> char path
    )).toDF("doc_id", "text")
    val got = TextOps.shingles(fx).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got(1L) == Seq("abcde", "bcdef", "cdefg"))
    assert(got(2L) == Seq("中文的测试", "文的测试文", "的测试文本"),
      s"CJK codepoint slicing broke: ${got(2L)}")
    assert(!got.contains(3L) && !got.contains(4L))
    assert(got(5L) ==
      Seq("aaaaaaaaa bbbbbbbbbbbbb cccccccccccccccccccccccccccccccccccc"))
    // 13 DISTINCT grams: xxxxx/yyyyy/zzzzz + 5 boundary grams per gap
    assert(got(6L).forall(_.length == 5) && got(6L).size == 13,
      s"avg-token-length gate missed the char path: ${got(6L).take(3)}")
  }
}
