package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Semantic guarantees of the corpus diagnostics and multimodal
  * decoders that the DuckDB oracle witnesses but cannot prove:
  * transform identities (fast WHT equals the O(N²) definition +
  * Parseval), rule teeth on crafted fixtures (Gopher thresholds,
  * novelty extremes, curve monotonicity for Heaps and the IVF recall
  * sweep, quantization error ordering), perceptual-hash invariances
  * (wrap-free regrades, gain scaling, row-storage order), cross-codec
  * consistency (single-frame AVI == BMP dHash; factor-1 resize ==
  * pixel stats; factor-1 resample == PCM stats), the router-vs-
  * dedicated-decoder agreement, and malformed-input rejection for
  * every decoder.
  */
class CorpusOpsSpec extends AnyFunSuite with LocalSpark {

  private def sfDir: String = graft.TestData.requireSf("sf0.001")

  private def naiveWht(v: Array[Long]): Array[Long] = {
    val n = v.length
    Array.tabulate(n) { k =>
      var s = 0L
      var j = 0
      while (j < n) {
        val sign = if (java.lang.Long.bitCount((j & k).toLong) % 2 == 0) 1 else -1
        s += v(j) * sign
        j += 1
      }
      s
    }
  }

  test("fast WHT equals the O(N^2) definition and satisfies Parseval") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 20) {
      val v = Array.fill(64)((rnd.nextInt(4096) - 2048).toLong)
      // run the production decoder on a synthetic WAV carrying v as
      // its first 64 mono samples
      val bytes = {
        val blockAlign = 2
        val out = java.nio.ByteBuffer.allocate(56 + 64 * blockAlign)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.put("RIFF".getBytes("US-ASCII")).putInt(48 + 64 * blockAlign)
        out.put("WAVE".getBytes("US-ASCII"))
        out.put("fmt ".getBytes("US-ASCII")).putInt(16)
        out.putShort(1).putShort(1).putInt(8000).putInt(16000)
        out.putShort(2).putShort(16)
        out.put("LIST".getBytes("US-ASCII")).putInt(4)
        out.put("INFO".getBytes("US-ASCII"))
        out.put("data".getBytes("US-ASCII")).putInt(64 * blockAlign)
        v.foreach(x => out.putShort(x.toShort))
        out.array()
      }
      val st = new graft.extras.Multimodal.WavSpectrumDecoder().decode(bytes)
      assert(st.ok)
      val c = naiveWht(v)
      val bands = Array(st.b0, st.b1, st.b2, st.b3, st.b4, st.b5, st.b6, st.b7)
      for (b <- 0 until 8) {
        val expected = (b * 8 until b * 8 + 8).map(k => c(k) * c(k)).sum
        assert(bands(b) == expected, s"band $b mismatch")
      }
      val parsevalLhs = bands.sum
      val parsevalRhs = 64L * v.map(x => x * x).sum
      assert(parsevalLhs == parsevalRhs, "Parseval violated")
    }
  }

  test("WHT decoder rejects clips shorter than 64 mono samples") {
    val bytes = graft.extras.Multimodal.AudioBytes.wavPcm(8000, 2, 30, 1L)
    assert(!new graft.extras.Multimodal.WavSpectrumDecoder().decode(bytes).ok)
  }

  test("Gopher keep thresholds fire on crafted docs, end-to-end") { graft.TempDir.using("graft-gopherspec") { dir =>
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // clean: 60 five-char-ish words incl. stopwords, no repetition
    val clean = (0 until 60).map(i => if (i % 10 == 0) "the" else s"word$i")
      .mkString(" ")
    // repetitive: one bigram dominates ("the haha" ... all "haha haha")
    val repetitive = ("the the " + Seq.fill(58)("haha").mkString(" "))
    // too short for the 50-word floor
    val short = "the a of tiny doc"
    // trigram-duplicated: a looping 3-gram phrase pushes duplicated-
    // trigram chars far past the 18% cap.
    val triLoop = (0 until 12).flatMap(i =>
      Seq("alpha", "beta", "gamma", s"fill${i}a", s"fill${i}b",
        s"fill${i}c", "the", "of")).mkString(" ")
    val df = Seq((0L, clean), (1L, repetitive), (2L, short), (3L, triLoop))
      .toDF("doc_id", "text")
    val tmp = dir.toString
    df.select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusOps.defs.find(_.name == "text_gopher_repetition").get
      .fn(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[Double]("top2_frac"),
          r.getAs[Double]("dup3_frac"))).toMap
    assert(out(0L)._1, "clean 60-word doc must be kept")
    assert(!out(1L)._1 && out(1L)._2 > 0.20,
      "repetitive doc must be dropped by the top-bigram cap")
    assert(!out(2L)._1, "short doc must be dropped (word-count floor)")
    assert(out(3L)._3 > 0.18,
      s"trigram loop must exceed the dup-3-gram cap, got ${out(3L)._3}")
    assert(!out(3L)._1, "trigram-looped doc must be dropped")
  }}

  test("novelty rate is 0 for memorized held-out docs, 1 for unseen ones") { graft.TempDir.using("graft-novspec") { dir =>
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val copied = (0 until 30).map(i => s"tok$i").mkString(" ")
    val unseen = (0 until 30).map(i => s"fresh$i").mkString(" ")
    val mixed = ((0 until 10).map(i => s"tok$i") ++
      (0 until 10).map(i => s"only$i")).mkString(" ")
    // doc_id % 10 == 0 -> held out; others -> train
    val df = Seq((0L, copied), (10L, unseen), (20L, mixed), (1L, copied))
      .toDF("doc_id", "text")
    val tmp = dir.toString
    df.select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusOps.defs.find(_.name == "stats_ngram_novelty").get
      .fn(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("novelty_rate"))
      .toMap
    assert(out(0L) == 0.0, "doc copied from train must have zero novelty")
    assert(out(10L) == 1.0, "all-unseen doc must be fully novel")
    assert(out(20L) > 0.0 && out(20L) < 1.0,
      s"mixed doc must be partially novel, got ${out(20L)}")
  }}

  test("dHash is invariant to wrap-free uniform brightness regrades") {
    val dec = new graft.extras.Multimodal.BmpDHashDecoder()
    // 9x8 (the exact grid floor) with zero curvature keeps every
    // channel below 226, so the +30 regrade wraps nowhere and the
    // hash must be IDENTICAL (the property that makes dHash a
    // near-dup key)
    def quad(delta: Int) = graft.extras.Multimodal.ImageBytes
      .bmpQuad(9, 8, 0, 0, 0, 10, delta)
    val h0 = dec.decode(quad(0))
    val h30 = dec.decode(quad(30))
    assert(h0.ok && h30.ok)
    assert(h0.hash == h30.hash,
      "uniform wrap-free regrade must not change a single dHash bit")
    // structurally different curvature -> different hash
    val other = dec.decode(graft.extras.Multimodal.ImageBytes
      .bmpQuad(9, 8, 3, 5, 2, 10, 0))
    assert(other.ok && other.hash != h0.hash)
    // 63-bit contract: bit 63 is never set
    assert(h0.hash >= 0 && other.hash >= 0)
  }

  test("dHash decoder rejects malformed and undersized images") {
    val dec = new graft.extras.Multimodal.BmpDHashDecoder()
    assert(!dec.decode(null).ok)
    assert(!dec.decode(Array.fill[Byte](200)(0x42)).ok)
    // real BMP but smaller than the 9x8 grid floor
    assert(!dec.decode(
      graft.extras.Multimodal.ImageBytes.bmp(8, 8, 1L)).ok)
    val rnd = new scala.util.Random(3)
    for (_ <- 0 until 50) {
      val garbage = Array.fill[Byte](rnd.nextInt(400))(rnd.nextInt().toByte)
      dec.decode(garbage) // must never throw
    }
  }

  test("audio fingerprint is exactly gain-invariant and step-sensitive") {
    val dec = new graft.extras.Multimodal.WavFingerprintDecoder()
    def clip(pid: Long, gain: Int, step: Long) = graft.extras.Multimodal
      .AudioBytes.wavPcmScaled(8000, 1, 200, pid, gain, step)
    for (gain <- Seq(2, 4, 8)) {
      val a = dec.decode(clip(5, 1, 74))
      val b = dec.decode(clip(5, gain, 74))
      assert(a.ok && b.ok)
      assert(a.sig == b.sig,
        s"gain $gain flipped a fingerprint bit — invariance must be exact")
    }
    // different sawtooth step -> different wrap pattern -> different sig
    val s1 = dec.decode(clip(5, 1, 74)).sig
    val s2 = dec.decode(clip(6, 1, 87)).sig
    assert(s1 != s2)
    assert(s1 >= 0 && s2 >= 0, "63-bit contract: bit 63 never set")
    // malformed input never throws, undersized rejected
    assert(!dec.decode(null).ok)
    assert(!dec.decode("RIFFxxxxWAVEgarbage".getBytes).ok)
    assert(!dec.decode(graft.extras.Multimodal.AudioBytes
      .wavPcm(8000, 2, 30, 1L)).ok)
  }

  test("single-frame AVI dHash equals the BMP dHash bit-for-bit") {
    // frame 0 of aviQuad carries exactly bmpQuad's pixels (the 23f/29f/
    // 31f shifts vanish at f=0), so the two independent codecs must
    // produce the same 63-bit hash — the cross-codec consistency proof
    // for the video path (same pattern as the PNG-vs-BMP pixel check).
    val bmpDec = new graft.extras.Multimodal.BmpDHashDecoder()
    val aviDec = new graft.extras.Multimodal.AviDHashDecoder(1)
    for (c <- Seq(0, 7, 23, 39)) {
      val bmp = bmpDec.decode(graft.extras.Multimodal.ImageBytes
        .bmpQuad(16, 16, 1 + c % 5, 1 + c % 7, c % 3, 11 * c, 4))
      val avi = aviDec.decode(graft.extras.Multimodal.VideoBytes2
        .aviQuad(16, 16, 1, 1 + c % 5, 1 + c % 7, c % 3, 11 * c, 4))
      assert(bmp.ok && avi.ok)
      assert(avi.nSampled == 1)
      assert(bmp.hash == avi.hash, s"cluster $c: codecs disagree")
    }
  }

  test("video dHash decoder rejects malformed and undersized clips") {
    val dec = new graft.extras.Multimodal.AviDHashDecoder(2)
    assert(!dec.decode(null).ok)
    assert(!dec.decode("RIFFxxxxAVI garbage".getBytes).ok)
    // valid AVI but frames smaller than the 9x8 grid floor
    assert(!dec.decode(graft.extras.Multimodal.VideoBytes2
      .aviDib(5, 4, 3, 1L)).ok)
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 50) {
      val garbage = Array.fill[Byte](rnd.nextInt(500))(rnd.nextInt().toByte)
      dec.decode(garbage) // must never throw
    }
  }

  test("IVF recall curve is monotone in nprobe (nested probe sets)") {
    val rows = CorpusOps.defs.find(_.name == "ann_recall_curve").get
      .fn(spark, sfDir).collect()
    assert(rows.length == 4)
    val recalls = rows.sortBy(_.getAs[Long]("np")).map(_.getAs[Double]("mean_recall10"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"probing more cells can only add candidates: ${recalls.mkString(",")}")
    assert(recalls.head > 0.0)
  }

  test("router fingerprints match the dedicated decoders per modality") {
    import graft.extras.Multimodal
    val router = new Multimodal.FingerprintRouter(2)
    val img = Multimodal.ImageBytes.bmpQuad(16, 16, 2, 3, 1, 44, 0)
    val aud = Multimodal.AudioBytes.wavPcmScaled(8000, 1, 100, 7, 1, 152)
    val vid = Multimodal.VideoBytes2.aviQuad(16, 16, 3, 2, 3, 1, 44, 0)
    val ri = router.decode(img)
    assert(ri.modality == "image" &&
      ri.fp == new Multimodal.BmpDHashDecoder().decode(img).hash)
    val ra = router.decode(aud)
    assert(ra.modality == "audio" &&
      ra.fp == new Multimodal.WavFingerprintDecoder().decode(aud).sig)
    val rv = router.decode(vid)
    assert(rv.modality == "video" &&
      rv.fp == new Multimodal.AviDHashDecoder(2).decode(vid).hash)
    val junk = router.decode("not a container".getBytes)
    assert(junk.modality == "unknown" && !junk.ok)
  }

  test("resize: factor-1 equals the pixel decoder; row order is invisible") {
    import graft.extras.Multimodal
    val img = Multimodal.ImageBytes.bmpQuad(16, 16, 3, 2, 1, 25, 4)
    // factor 1: every box is one pixel, so channel sums must equal the
    // independent pixel-stats decoder's sums bit-for-bit
    val r1 = new Multimodal.BmpResizeDecoder(1).decode(img)
    val px = new Multimodal.BmpPixelDecoder().decode(img)
    assert(r1.ok && px.ok)
    assert(r1.sumR == px.sumR && r1.sumG == px.sumG && r1.sumB == px.sumB)
    // identical pixels written top-down vs bottom-up resize identically
    val td = Multimodal.ImageBytes.bmpQuad(16, 16, 3, 2, 1, 25, 4,
      topDown = true)
    val r2a = new Multimodal.BmpResizeDecoder(2).decode(img)
    val r2b = new Multimodal.BmpResizeDecoder(2).decode(td)
    assert(r2a.ok && r2b.ok)
    assert(r2a == r2b.copy(byteLen = r2a.byteLen),
      "row storage order must not leak into the resized stats")
    // dims that don't divide by the factor are rejected, not mangled
    assert(!new Multimodal.BmpResizeDecoder(3).decode(img).ok)
  }

  test("resample: factor-1 channel-0 sum equals the PCM decoder's mono sum") {
    import graft.extras.Multimodal
    // mono clip: PcmStats.sumAll covers exactly channel 0
    val clip = Multimodal.AudioBytes.wavPcm(8000, 1, 150, 9L)
    val rs = new Multimodal.WavResampleDecoder(1).decode(clip)
    val px = new Multimodal.WavPcmDecoder().decode(clip)
    assert(rs.ok && px.ok)
    assert(rs.outFrames == px.nFrames && rs.sum2 == px.sumAll &&
      rs.sumSq2 == px.sumSqAll)
    // decimation shortens by the factor and never throws on garbage
    val r4 = new Multimodal.WavResampleDecoder(4).decode(clip)
    assert(r4.ok && r4.outFrames == 37 && r4.outRate == 2000)
    assert(!new Multimodal.WavResampleDecoder(4).decode("xx".getBytes).ok)
  }

  test("quantization-error audit: more bits never hurt, errors non-negative") {
    val rows = CorpusOps.defs.find(_.name == "emb_quantize_error").get
      .fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val i8 = r.getAs[Double]("mse_int8")
      val sg = r.getAs[Double]("mse_sign")
      assert(i8 >= 0.0 && sg >= 0.0)
      assert(i8 <= sg,
        s"vec ${r.getAs[Long]("vec_id")}: int8 must reconstruct at least " +
          s"as well as the 1-bit code ($i8 vs $sg)")
    }
  }

  test("contamination matrix flags a planted cross-source duplicate") { graft.TempDir.using("graft-contamspec") { dir =>
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val leaked = (0 until 20).map(i => s"bench$i").mkString(" ")
    val cleanA = (0 until 20).map(i => s"acorp$i").mkString(" ")
    val cleanB = (0 until 20).map(i => s"bcorp$i").mkString(" ")
    val df = Seq(
      (0L, leaked, "crawl"), (1L, cleanA, "crawl"),
      (2L, leaked, "benchmark"), (3L, cleanB, "books"))
      .toDF("doc_id", "text", "source")
    val tmp = dir.toString
    df.select($"doc_id", $"text", lit("en").as("lang"), $"source",
        length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = CorpusOps.defs.find(_.name == "stats_contamination_matrix").get
      .fn(spark, tmp).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Double]("frac_of_a")).toMap
    // the leaked benchmark doc: every one of its grams is inside crawl
    assert(out(("benchmark", "crawl")) == 1.0,
      s"planted leak must show full containment, got $out")
    // disjoint-vocabulary sources share nothing: no row at all
    assert(!out.contains(("benchmark", "books")) &&
      !out.contains(("books", "crawl")))
  }}

  test("curriculum keys: deciles are ordered by score and cover the corpus") {
    val rows = CorpusOps.defs.find(_.name == "curriculum_quality_order").get
      .fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // equal scores always share a decile (thresholds come from the
    // cumulative histogram), so decile score ranges are strictly
    // disjoint and ordered
    val byDecile = rows.groupBy(_.getAs[Long]("decile"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("score_milli")) }
    for (d <- byDecile.keys; e <- byDecile.keys if d < e) {
      assert(byDecile(d).max < byDecile(e).min,
        s"decile $d overlaps decile $e in score")
    }
    // every doc gets exactly one key; keys are distinct
    val keys = rows.map(_.getAs[String]("shuffle_key"))
    assert(keys.distinct.length == keys.length)
  }

  test("seqlen coverage is monotone and saturates at full token survival") {
    val rows = CorpusOps.defs.find(_.name == "stats_seqlen_coverage").get
      .fn(spark, sfDir).collect().sortBy(_.getAs[Long]("max_len"))
    val fits = rows.map(_.getAs[Long]("n_docs_fit"))
    val kept = rows.map(_.getAs[Long]("toks_kept"))
    assert(fits.sameElements(fits.sorted), "doc fits must be non-decreasing")
    assert(kept.sameElements(kept.sorted), "kept tokens must be non-decreasing")
    // fixture docs are well under 4096 tokens: the top row keeps everything
    assert(rows.last.getAs[Double]("frac_toks_kept") == 1.0)
    assert(rows.last.getAs[Double]("frac_docs_fit") == 1.0)
  }

  test("Heaps on a <10-doc corpus drops empty deciles instead of diverging") { graft.TempDir.using("graft-heapstiny") { dir =>
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5 docs: cp_idx 1 lands at cp_doc = -1 — both engines must DROP
    // that checkpoint (the oracle used to crash on ln(0) while Spark
    // silently lost the row; review-caught parity edge)
    val df = (0L until 5L).map(i => (i, s"alpha beta w$i gamma"))
      .toDF("doc_id", "text")
    val tmp = dir.toString
    df.select($"doc_id", $"text", lit("en").as("lang"),
        lit("spec").as("source"), length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = CorpusOps.defs.find(_.name == "stats_heaps_law").get
      .fn(spark, tmp).collect()
    assert(rows.nonEmpty && rows.length < 10,
      s"expected only the non-empty deciles, got ${rows.length}")
    assert(rows.forall(_.getAs[Long]("cp_doc") >= 0))
    assert(rows.forall(_.getAs[Long]("vocab_cum") > 0))
  }}

  test("Heaps checkpoints are monotone and end at the full corpus") {
    val rows = CorpusOps.defs.find(_.name == "stats_heaps_law").get
      .fn(spark, sfDir).collect()
    assert(rows.length == 10)
    val ns = rows.map(_.getAs[Long]("n_tokens_cum"))
    val vs = rows.map(_.getAs[Long]("vocab_cum"))
    assert(ns.sameElements(ns.sorted), "token counts must be non-decreasing")
    assert(vs.sameElements(vs.sorted), "vocab must be non-decreasing")
    assert(rows.last.getAs[Long]("cp_idx") == 10L)
  }
}
