package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-level diagnostics, document-quality rules, evaluation
  * audits, and the multimodal near-dup family — each integer-frozen
  * so the DuckDB oracle agrees bit-for-bit:
  *
  *   - Quality gates & corpus health: the Gopher repetition rules
  *     (Rae et al. 2021, table A1) with integer-exact thresholds;
  *     Heaps'-law vocabulary growth at decile checkpoints (the
  *     stats_zipf companion); per-source duplicate rates; the
  *     cross-source contamination matrix; sequence-length/truncation
  *     coverage; quality-annealed curriculum ordering keys.
  *   - Estimator/model audits: MinHash-vs-exact-Jaccard calibration
  *     over the capped LSH candidates; 10-NN label-vote accuracy;
  *     the IVF recall-vs-nprobe curve; held-out novel-n-gram rate;
  *     the lang-id confusion matrix.
  *   - Multimodal fingerprints over REAL decode (mm11–mm15): WHT
  *     sequency bands, image dHash, exact-gain-invariant audio
  *     fingerprints, majority-voted video clip hashes, the
  *     canonical-keeper cluster pass, and the single-pass modality
  *     router — all sharing one band-blocking stage
  *     (fingerprintCands) and the 63-bit positive-hash contract that
  *     keeps the signed-BIGINT SQL mirror exact.
  *
  * Scale notes per query inline; none uses a global (unpartitioned)
  * window over row counts that grow with the corpus.
  */
object CorpusOps {

  import TextOps.{docs, md5s}

  /** mm12's image corpus — 160 quadratic-pattern BMPs (40 clusters x 4
    * brightness regrades) decoded to per-image dHashes — shared with
    * dedup_phash_cluster so pair detection and cluster selection can
    * never disagree on the hash definition.
    */
  private def phashHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Records.events(s, d)
      .select(col("event_id").cast(LongType)).as[Long]
      .filter(_ < 160)
    val blobs = ids.map { id =>
      val c = (id % 40).toInt; val k = (id / 40).toInt
      (id, graft.extras.Multimodal.ImageBytes.bmpQuad(16, 16,
        1 + c % 5, 1 + c % 7, c % 3, 11 * c, 2 * k))
    }.toDF("event_id", "blob")
    graft.extras.Multimodal
      .decodeBmpDHash(blobs, "blob", "event_id")
      .where(col("ok"))
      .select(col("event_id").as("id"), col("hash"))
      .localCheckpoint()
  }

  /** 4x16-bit band blocking over an (id, hash) table → capped
    * candidate pairs (id_a, id_b) — the blocking stage shared by all
    * three fingerprint modalities (image/audio/video). Pair
    * generation delegates to TextOps.cappedCandidates with the SAME
    * bucket cap as the text LSH, so there is exactly one capped-
    * bucket pair-explosion rule in the codebase (review-caught
    * duplicate).
    */
  private def fingerprintCands(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("id").as("doc_id"),
      explode(expr(
        """transform(sequence(0, 3),
          |  b -> named_struct('band', b,
          |    'band_key', shiftright(hash, 16 * b) % 65536))"""
          .stripMargin)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
    TextOps.cappedCandidates(bands, TextOps.BandBucketCap)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
  }

  /** Candidate pairs with exact Hamming distance attached. */
  private def fingerprintPairs(sigs: DataFrame): DataFrame =
    fingerprintCands(sigs)
      .join(sigs.select(col("id").as("id_a"), col("hash").as("ha")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("hash").as("hb")), "id_b")
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))

  /** SQL mirror of the 64-point WHT coefficient definition over a
    * `<smpTable>(id, j, v)` CTE — one transform definition for the
    * mm11/mm13/mm15 oracles (same everywhere-or-nowhere rule as
    * fpBandCtesSql; the copy-pasted version was review-caught).
    */
  private def whtCoefSql(smpTable: String, name: String): String =
    s"""$name AS (
       |  SELECT id, k,
       |    CAST(sum(v * (1 - 2 * (bit_count(CAST(j AS BIGINT) & k) % 2)))
       |      AS BIGINT) AS c
       |  FROM $smpTable, unnest(range(0, 64)) u(k)
       |  GROUP BY id, k)""".stripMargin

  /** SQL mirror of the dHash grid-cell/comparison-bit rules over a
    * `<pxTable>(id[, f], x, y, r, g, b)` CTE, emitting
    * `<prefix>cells` and `<prefix>bits` — `frameKey` threads the
    * per-frame key for clip hashing. One grid definition for the
    * image (PhashCtes, mm15) and video (mm14, mm15) oracle chains.
    * `w`/`h` MUST be the pixel dims the pxTable's fixture was built
    * with: the Scala decoder computes gx = x*9/w, gy = y*8/h from
    * the decoded image, so a mirror hardcoding one fixture's dims
    * would silently diverge if a future fixture changed size.
    */
  private def dhashBitsSql(pxTable: String, prefix: String,
                           frameKey: Boolean, w: Int, h: Int): String = {
    val fSel = if (frameKey) "f, " else ""
    val fGrp = if (frameKey) ", f" else ""
    val fOut = if (frameKey) "a.f, " else ""
    val fJoin = if (frameKey) " AND b.f = a.f" else ""
    s"""${prefix}cells AS (
       |  SELECT id, ${fSel}CAST(x * 9 // $w AS INT) AS gx,
       |    CAST(y * 8 // $h AS INT) AS gy,
       |    CAST(sum(r * 299 + g * 587 + b * 114) AS BIGINT) AS lsum,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM $pxTable GROUP BY id$fGrp, gx, gy),
       |${prefix}bits AS (
       |  SELECT a.id, ${fOut}a.gy, a.gx,
       |    CASE WHEN a.lsum * b.n > b.lsum * a.n THEN 1 ELSE 0 END AS bit
       |  FROM ${prefix}cells a JOIN ${prefix}cells b
       |    ON b.id = a.id$fJoin AND b.gy = a.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < 8 AND a.gy * 8 + a.gx < 63)""".stripMargin
  }

  /** SQL mirror of fingerprintCands over a `(id, <sigCol>)` CTE named
    * `sigTable` — ONE banding/cap definition for all three modality
    * oracles, mirroring the single Spark-side helper (an edit to the
    * band width or cap lands everywhere or nowhere).
    */
  private def fpBandCtesSql(sigTable: String, sigCol: String): String =
    s"""bands AS (
       |  SELECT id, b, ($sigCol >> (16 * b)) % 65536 AS key
       |  FROM $sigTable, unnest(range(0, 4)) t(b)),
       |buckets AS (
       |  SELECT b, key FROM bands GROUP BY b, key
       |  HAVING count(*) BETWEEN 2 AND ${TextOps.BandBucketCap}),
       |cands AS (
       |  SELECT DISTINCT a.id AS id_a, bb.id AS id_b
       |  FROM bands a
       |  JOIN buckets bu ON bu.b = a.b AND bu.key = a.key
       |  JOIN bands bb ON bb.b = a.b AND bb.key = a.key AND a.id < bb.id)"""
      .stripMargin

  /** The shared SQL mirror of phashHashes + fingerprintCands for the
    * image fixture, ending in `hashes(id, hash)` and
    * `cands(id_a, id_b)` — used by both the mm12 oracle and the
    * cluster oracle built on its pairs.
    */
  private lazy val PhashCtes: String =
    """ids AS (
      |  SELECT event_id AS id,
      |    1 + (event_id % 40) % 5 AS ca, 1 + (event_id % 40) % 7 AS cb,
      |    (event_id % 40) % 3 AS cc, 11 * (event_id % 40) AS base,
      |    2 * (event_id // 40) AS delta
      |  FROM events WHERE event_id < 160),
      |px AS (
      |  SELECT id, x, y,
      |    (ca * x * x + cb * y * y + cc * x * y + 7 * x + 13 * y
      |      + base + delta) % 256 AS r,
      |    (cb * x * x + ca * y * y + cc * x * y + 3 * x + 5 * y
      |      + 2 * base + delta) % 256 AS g,
      |    ((ca + cb) * x * x + cc * y * y + 5 * x + 11 * y
      |      + 3 * base + delta) % 256 AS b
      |  FROM ids, unnest(range(0, 16)) tx(x), unnest(range(0, 16)) ty(y)),
      |$dhash,
      |hashes AS (
      |  SELECT id, CAST(sum(CAST(bit AS BIGINT) << (gy * 8 + gx))
      |    AS BIGINT) AS hash
      |  FROM bits GROUP BY id),
      |$fpTail"""
      .stripMargin
      .replace("$dhash", dhashBitsSql("px", "", frameKey = false, w = 16, h = 16))
      .replace("$fpTail", fpBandCtesSql("hashes", "hash"))

  /** Video-clip fixture parameters shared BETWEEN the Spark calls and
    * their oracle SQL: frame count and sample stride live here once,
    * and [[vidFramesSql]]/[[vidMajSql]] derive the oracle's sampled
    * frame list and majority-vote threshold from them — changing
    * either parameter can no longer desynchronize the oracle
    * silently (same shared-rule pattern as whtCoefSql/dhashBitsSql).
    */
  private val VidSampleEvery = 2
  private val Mm14NFrames = 6
  private val Mm15NFrames = 3
  private def vidSampled(nFrames: Int): Seq[Int] =
    0 until nFrames by VidSampleEvery
  private def vidFramesSql(nFrames: Int): String =
    vidSampled(nFrames).mkString("[", ", ", "]")
  private def vidMajSql(nFrames: Int): String =
    s"2 * sum(bit) > ${vidSampled(nFrames).size}"

  /** `withExact = true` = the AUDIT mode the dedup_minhash_eval
    * oracle checks: the exact shingle Jaccard rides beside the
    * 16-hash signature estimate, bucketed by match count — the
    * calibration that says whether the signature is trustworthy.
    * `withExact = false` = the 100 TB PRODUCTION path: candidates +
    * signature estimate only, WITHOUT the exact-jaccard shingle
    * self-join (the expensive thing the audit exists to retire).
    * PlanShapeSpec pins the exact branch's absence from that plan.
    */
  private[graft] def minhashEvalStats(s: SparkSession, d: String,
                                      withExact: Boolean = true): DataFrame = {
    import TextOps.{docsAug, shingles, minhashSig, bandsOfSig,
      cappedCandidates, jaccardFor, BandBucketCap}
    // both checkpoints measured at sf0.01 (probe in c4420b2): with
    // them 44 cpu-s, without the sh one 49 — sh feeds three
    // consumers (sig, jaccardFor A/B sides), sig feeds two
    val sh = shingles(docsAug(s, d)).localCheckpoint()
    val sig = minhashSig(sh).localCheckpoint()
    val cands = cappedCandidates(bandsOfSig(sig), BandBucketCap)
    val sigA = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sigB = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val matches = (0 until 16)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cands.join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        matches.cast(LongType).as("matches"))
    if (!withExact)
      return est.groupBy("matches")
        .agg(count(lit(1)).cast(LongType).as("n_pairs"))
        .withColumn("est_jaccard",
          round(col("matches").cast(DoubleType) / 16.0, 6))
        .select("matches", "n_pairs", "est_jaccard")
        .orderBy("matches")
    val exact = jaccardFor(cands, sh)
      .withColumn("jmicros", expr(
        "CAST(common * 1000000 DIV (na + nb - common) AS BIGINT)"))
      .select("doc_a", "doc_b", "jmicros")
    est.join(exact, Seq("doc_a", "doc_b"))
      .groupBy("matches")
      .agg(count(lit(1)).cast(LongType).as("n_pairs"),
        sum("jmicros").cast(LongType).as("sum_jmicros"),
        min("jmicros").cast(LongType).as("min_jmicros"),
        max("jmicros").cast(LongType).as("max_jmicros"))
      .withColumn("est_jaccard",
        round(col("matches").cast(DoubleType) / 16.0, 6))
      .withColumn("mean_exact", round(
        col("sum_jmicros").cast(DoubleType) / col("n_pairs") / 1e6, 6))
      .select("matches", "n_pairs", "est_jaccard", "mean_exact",
        "min_jmicros", "max_jmicros")
      .orderBy("matches")
  }

  /** `withError = true` = the AUDIT mode the emb_quantize_error
    * oracle checks (exact int8/sign reconstruction MSE per vector);
    * `withError = false` = the PRODUCTION quantization path — just
    * the per-vector scale table (dim, mx), no error recompute.
    */
  private[graft] def embQuantizeStats(s: SparkSession, d: String,
                                      withError: Boolean = true): DataFrame = {
    val base = QueryDef.fanOut(s.read.parquet(s"$d/embeddings.parquet"))
      .select(col("vec_id"), col("embedding"))
      .withColumn("dim", size(col("embedding")).cast(LongType))
      .withColumn("mx", expr(
        """greatest(aggregate(embedding, CAST(0 AS DOUBLE),
           (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE)))),
           CAST(1e-30 AS DOUBLE))"""))
    if (!withError)
      return base.select(col("vec_id"), col("dim"),
        round(col("mx"), 6).as("mx")).orderBy("vec_id")
    base
      .withColumn("mean_abs", expr(
        """aggregate(embedding, CAST(0 AS DOUBLE),
           (acc, x) -> acc + abs(CAST(x AS DOUBLE))) / dim"""))
      .withColumn("mse_int8", round(expr(
        """aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) ->
             acc + (CAST(x AS DOUBLE)
               - floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5)
                 * mx / 127.0)
             * (CAST(x AS DOUBLE)
               - floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5)
                 * mx / 127.0)) / dim"""), 6))
      .withColumn("mse_sign", round(expr(
        """aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) ->
             acc + (CAST(x AS DOUBLE)
               - CASE WHEN CAST(x AS DOUBLE) >= 0
                   THEN mean_abs ELSE -mean_abs END)
             * (CAST(x AS DOUBLE)
               - CASE WHEN CAST(x AS DOUBLE) >= 0
                   THEN mean_abs ELSE -mean_abs END)) / dim"""), 6))
      .select(col("vec_id"), col("dim"), round(col("mx"), 6).as("mx"),
        col("mse_int8"), col("mse_sign"))
      .orderBy("vec_id")
  }

  def defs: Seq[QueryDef] = Seq(

    // Gopher-INSPIRED repetition rules (threshold family after Rae
    // et al. Table A1, not table-exact: there 0.20 caps the top-2-gram
    // char fraction and 0.18 the top-3-gram fraction, with
    // duplicate-n-gram caps starting at 5-grams/0.15 — here the 0.18
    // cap is applied to the DUPLICATE-3-gram char fraction, a
    // deliberately stricter small-n variant). All keep-thresholds are
    // evaluated as exact INTEGER comparisons (top2_chars*5 <= n_chars
    // is the 0.20 cap; dup3_chars*50 <= n_chars*9 the 0.18 cap;
    // 3n <= word_chars <= 10n the mean-word-length window), so the
    // boolean can never flip on a last-ulp double difference; the
    // reported fractions are display-only round(…,6) columns.
    // Scale: bigram/trigram counts shuffle one row per gram occurrence
    // (same volume as text_top_ngrams); the top-bigram pick is a
    // per-doc window (partitioned by doc_id — no global funnel).
    QueryDef("text_gopher_repetition",
      (s, d) => {
        // tokenize ONCE and materialize: base stats, bigram counts,
        // and trigram counts all read the token array, and Catalyst
        // does not dedupe the shared scan+split subtree (same
        // reasoning as text_rarity's checkpoint). The CASE guard
        // matters because Spark's sequence(0, -1) DESCENDS ([0,-1])
        // instead of returning empty — a 1-word doc would fabricate a
        // null-padded gram.
        val tok = docs(s, d).select(col("doc_id"),
            length(col("text")).cast(LongType).as("n_chars_m"),
            split(col("text"), " ").as("w"))
          .localCheckpoint()
        def grams(n: Int) = explode(expr(
          s"""CASE WHEN size(w) >= $n THEN
             |  transform(sequence(0, size(w) - $n),
             |    i -> concat_ws(' ', ${(0 until n)
                      .map(k => s"w[i+$k]").mkString(", ")}))
             |ELSE array() END""".stripMargin)).as("g")
        val base = tok.select(col("doc_id"), col("n_chars_m"),
          size(col("w")).cast(LongType).as("n_words"),
          size(filter(col("w"),
            x => x.isin("the", "a", "and", "of", "to")))
            .cast(LongType).as("stop_cnt"))
        val wTop = Window.partitionBy("doc_id")
          .orderBy(col("cnt").desc, col("g"))
        val top2 = tok.select(col("doc_id"), grams(2))
          .groupBy("doc_id", "g").agg(count(lit(1)).cast(LongType).as("cnt"))
          .withColumn("rn", row_number().over(wTop)).where(col("rn") === 1)
          .select(col("doc_id"), col("cnt").as("top2_cnt"),
            (col("cnt") * length(col("g"))).cast(LongType).as("top2_chars"))
        val dup3 = tok.select(col("doc_id"), grams(3))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
          .where(col("cnt") >= 2)
          .groupBy("doc_id")
          .agg(sum(col("cnt") * length(col("g")))
            .cast(LongType).as("dup3_chars"))
        base
          .join(top2, Seq("doc_id"), "left")
          .join(dup3, Seq("doc_id"), "left")
          .na.fill(0L, Seq("top2_cnt", "top2_chars", "dup3_chars"))
          .withColumn("word_chars", col("n_chars_m") - col("n_words") + 1)
          .withColumn("top2_frac",
            round(col("top2_chars").cast(DoubleType) / col("n_chars_m"), 6))
          .withColumn("dup3_frac",
            round(col("dup3_chars").cast(DoubleType) / col("n_chars_m"), 6))
          .withColumn("mean_wlen",
            round(col("word_chars").cast(DoubleType) / col("n_words"), 6))
          .withColumn("keep",
            col("n_words") >= 50 && col("n_words") <= 100000 &&
              col("word_chars") >= lit(3) * col("n_words") &&
              col("word_chars") <= lit(10) * col("n_words") &&
              col("top2_chars") * 5 <= col("n_chars_m") &&
              col("dup3_chars") * 50 <= col("n_chars_m") * 9 &&
              col("stop_cnt") >= 2)
          .select("doc_id", "n_words", "stop_cnt", "top2_cnt", "top2_chars",
            "dup3_chars", "top2_frac", "dup3_frac", "mean_wlen", "keep")
          .orderBy("doc_id")
      },
      Some("""WITH base AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS BIGINT) AS stop_cnt,
        |    string_split(text, ' ') AS w
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |          i -> w[i] || ' ' || w[i+1])) AS g FROM base)
        |  GROUP BY doc_id, g),
        |top2 AS (
        |  SELECT doc_id, cnt AS top2_cnt,
        |    CAST(cnt * length(g) AS BIGINT) AS top2_chars
        |  FROM g2 QUALIFY row_number() OVER (
        |    PARTITION BY doc_id ORDER BY cnt DESC, g) = 1),
        |dup3 AS (
        |  SELECT doc_id, CAST(sum(cnt * length(g)) AS BIGINT) AS dup3_chars
        |  FROM (
        |    SELECT doc_id, g, count(*) AS cnt
        |    FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |          FROM base)
        |    GROUP BY doc_id, g)
        |  WHERE cnt >= 2 GROUP BY doc_id)
        |SELECT doc_id, n_words, stop_cnt,
        |  coalesce(top2_cnt, 0) AS top2_cnt,
        |  coalesce(top2_chars, 0) AS top2_chars,
        |  coalesce(dup3_chars, 0) AS dup3_chars,
        |  round(CAST(coalesce(top2_chars, 0) AS DOUBLE) / n_chars_m, 6)
        |    AS top2_frac,
        |  round(CAST(coalesce(dup3_chars, 0) AS DOUBLE) / n_chars_m, 6)
        |    AS dup3_frac,
        |  round(CAST(n_chars_m - n_words + 1 AS DOUBLE) / n_words, 6)
        |    AS mean_wlen,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND n_chars_m - n_words + 1 >= 3 * n_words
        |    AND n_chars_m - n_words + 1 <= 10 * n_words
        |    AND coalesce(top2_chars, 0) * 5 <= n_chars_m
        |    AND coalesce(dup3_chars, 0) * 50 <= n_chars_m * 9
        |    AND stop_cnt >= 2) AS keep
        |FROM base
        |LEFT JOIN top2 USING (doc_id)
        |LEFT JOIN dup3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // C4-style cleanup rules (Raffel et al. 2020, §2.2 "Colossal Clean
    // Crawled Corpus"): LINE-level — keep only lines that end in
    // terminal punctuation, have >= 3 words (C4 uses a short-line
    // drop), and don't contain "javascript"; DOC-level — drop pages
    // containing a curly brace, "lorem ipsum", or policy boilerplate
    // ("privacy policy" et al.), and pages with too few surviving
    // lines (stand-in for C4's 5-sentence floor). The synthetic corpus
    // has no punctuation or newlines, so both engines build the same
    // deterministically AUGMENTED line table (10-word lines; terminal
    // punctuation, a "javascript" prefix, and the three poison lines
    // keyed on doc_id/idx arithmetic) — the RULES then detect the
    // signals purely by string predicates, exactly as on real crawl
    // text, and the kept-lines md5 pins per-line semantics end-to-end.
    // Scale: one explode to line granularity, one per-doc aggregate —
    // narrow + a single map-side-combinable shuffle; nothing joins,
    // nothing is global. A 100 TB crawl filter is exactly this shape.
    QueryDef("text_c4_rules",
      (s, d) => {
        val tok = docs(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
        val lines0 = tok.select(col("doc_id"), posexplode(expr(
            """transform(sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1),
              |  i -> concat_ws(' ', slice(w, i * 10 + 1, 10)))""".stripMargin))
            .as(Seq("idx", "line0")))
          .select(col("doc_id"), col("idx").cast(LongType).as("idx"),
            concat(
              when((col("doc_id") * 5 + col("idx")) % 11 === 0,
                lit("javascript ")).otherwise(lit("")),
              col("line0"),
              when((col("doc_id") + col("idx")) % 3 === 1, lit("."))
                .otherwise(when((col("doc_id") + col("idx")) % 3 === 2, lit("!"))
                  .otherwise(lit("")))).as("line"))
        val ids = docs(s, d).select(col("doc_id"))
        val poison =
          ids.where(col("doc_id") % 23 === 0).select(col("doc_id"),
              lit(1001L).as("idx"),
              lit("function() { return cookie consent }").as("line"))
            .unionAll(ids.where(col("doc_id") % 17 === 0).select(col("doc_id"),
              lit(1002L).as("idx"),
              lit("lorem ipsum dolor sit amet.").as("line")))
            .unionAll(ids.where(col("doc_id") % 13 === 0).select(col("doc_id"),
              lit(1003L).as("idx"),
              lit("read our privacy policy and terms of use.").as("line")))
        lines0.unionAll(poison)
          .withColumn("kept",
            (col("line").endsWith(".") || col("line").endsWith("!")) &&
              size(split(col("line"), " ")) >= 3 &&
              !col("line").contains("javascript"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).cast(LongType).as("n_lines"),
            sum(when(col("kept"), 1L).otherwise(0L)).cast(LongType).as("n_kept"),
            (sum(when(col("line").contains("{"), 1L).otherwise(0L)) > 0)
              .as("has_brace"),
            (sum(when(col("line").contains("lorem ipsum"), 1L).otherwise(0L)) > 0)
              .as("has_lorem"),
            (sum(when(col("line").contains("privacy policy"), 1L).otherwise(0L)) > 0)
              .as("has_policy"),
            md5s(array_join(expr("transform(filter(" +
              "array_sort(collect_list(struct(idx, line, kept))), " +
              "x -> x.kept), x -> x.line)"), "\n")).as("residual_md5"))
          .withColumn("c4_keep",
            !col("has_brace") && !col("has_lorem") && !col("has_policy") &&
              col("n_kept") >= 3)
          .select("doc_id", "n_lines", "n_kept", "has_brace", "has_lorem",
            "has_policy", "c4_keep", "residual_md5")
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |lines0 AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ') AS line0
        |  FROM tok,
        |    unnest(range(0, CAST(ceil(len(w) / 10.0) AS INT))) t(i)),
        |aug AS (
        |  SELECT doc_id, idx,
        |    (CASE WHEN (doc_id * 5 + idx) % 11 = 0
        |       THEN 'javascript ' ELSE '' END)
        |    || line0 ||
        |    (CASE WHEN (doc_id + idx) % 3 = 1 THEN '.'
        |          WHEN (doc_id + idx) % 3 = 2 THEN '!'
        |          ELSE '' END) AS line
        |  FROM lines0
        |  UNION ALL
        |  SELECT doc_id, 1001, 'function() { return cookie consent }'
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id, 1002, 'lorem ipsum dolor sit amet.'
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id, 1003, 'read our privacy policy and terms of use.'
        |  FROM documents WHERE doc_id % 13 = 0),
        |ev AS (
        |  SELECT doc_id, idx, line,
        |    ((line LIKE '%.' OR line LIKE '%!')
        |      AND len(string_split(line, ' ')) >= 3
        |      AND NOT contains(line, 'javascript')) AS kept
        |  FROM aug),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    (sum(CASE WHEN contains(line, '{') THEN 1 ELSE 0 END) > 0)
        |      AS has_brace,
        |    (sum(CASE WHEN contains(line, 'lorem ipsum') THEN 1 ELSE 0 END) > 0)
        |      AS has_lorem,
        |    (sum(CASE WHEN contains(line, 'privacy policy') THEN 1 ELSE 0 END) > 0)
        |      AS has_policy,
        |    md5(COALESCE(
        |      string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE kept),
        |      '')) AS residual_md5
        |  FROM ev GROUP BY doc_id)
        |SELECT doc_id, n_lines, n_kept, has_brace, has_lorem, has_policy,
        |  (NOT has_brace AND NOT has_lorem AND NOT has_policy
        |    AND n_kept >= 3) AS c4_keep,
        |  residual_md5
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Heaps'-law curve: cumulative vocabulary V and token count N at
    // ten doc_id-decile checkpoints, plus the micros-frozen ln–ln
    // regression slope (the Heaps β) repeated on every row.
    // Scale: vocabulary first-occurrence is one groupBy(token) →
    // min(doc_id); the checkpoint table is 10 constant rows broadcast
    // against per-token/per-doc aggregates — no global sort, no
    // all-rows window. At 100 TB the token groupBy is the same
    // shuffle the corpus's tf/df statistics already pay.
    QueryDef("stats_heaps_law",
      (s, d) => {
        val perDoc = docs(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_toks"))
        val firstOcc = docs(s, d)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .groupBy("tok").agg(min("doc_id").as("fd"))
        // localCheckpoint: cps feeds BOTH cumulative joins below —
        // uncheckpointed, its whole max(doc_id) agg subtree (a corpus
        // scan) is planned twice (12-exchange plan observed with the
        // plan printer in c4420b2; 6 after)
        val cps = perDoc.agg(max("doc_id").as("maxd"))
          .select(explode(sequence(lit(1), lit(10))).as("cp_idx"),
            col("maxd"))
          // integer DIV, not `/`+cast: float division rounds where the
          // oracle's integer // doesn't, so a <=9-doc corpus would put
          // cp_idx=1 at doc 0 here and doc -1 in the oracle
          // (review-caught cross-engine parity edge; note DuckDB's //
          // TRUNCATES toward zero on negatives — operands here are
          // non-negative so trunc == floor)
          .withColumn("cp_doc",
            expr("CAST(cp_idx * (maxd + 1) DIV 10 - 1 AS BIGINT)"))
          // drop empty checkpoints (cp_doc < 0 on a <10-doc corpus):
          // Spark's inner cumulative joins silently lose those rows
          // while the oracle's scalar subqueries keep them and crash
          // on ln(0) — filter identically in BOTH engines so the
          // regression sees the same points (review-caught)
          .where(col("cp_doc") >= 0)
          .select(col("cp_idx").cast(LongType), col("cp_doc"))
          .localCheckpoint()
        val nCum = cps.join(perDoc, perDoc("doc_id") <= cps("cp_doc"))
          .groupBy("cp_idx", "cp_doc")
          .agg(sum("n_toks").cast(LongType).as("n_tokens_cum"))
        val vCum = cps.join(firstOcc, firstOcc("fd") <= cps("cp_doc"))
          .groupBy("cp_idx")
          .agg(count(lit(1)).cast(LongType).as("vocab_cum"))
        val pts = nCum.join(vCum, Seq("cp_idx"))
          .withColumn("xq", expr(
            "CAST(floor(ln(CAST(n_tokens_cum AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
          .withColumn("yq", expr(
            "CAST(floor(ln(CAST(vocab_cum AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
        val reg = pts.agg(count(lit(1)).cast(LongType).as("n"),
            sum("xq").as("sx"), sum("yq").as("sy"),
            sum(expr("xq * yq")).as("sxy"), sum(expr("xq * xq")).as("sxx"),
            sum(expr("yq * yq")).as("syy"))
          .select(
            // a saturated (or degenerate) axis zeroes a variance term:
            // tiny/fixed vocabularies reach full V early, making every
            // yq equal — define beta/r2 as 0 there (flat curve), with
            // the IDENTICAL case guard in the oracle
            expr("""round(CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) END, 6)""")
              .as("beta"),
            // two separate zero checks, NEVER the integer product of
            // the variance terms: both can be ~1e13 and their INT64
            // product overflows (review-repro on a 5-doc corpus)
            expr("""round(CASE WHEN n * sxx - sx * sx = 0
                         OR n * syy - sy * sy = 0 THEN 0.0
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                         * CAST(n * sxy - sx * sy AS DOUBLE)
                         / (CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)) END, 6)""")
              .as("r2"))
        pts.select("cp_idx", "cp_doc", "n_tokens_cum", "vocab_cum")
          .crossJoin(broadcast(reg))
          .orderBy("cp_idx")
      },
      Some("""WITH per_doc AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |first_occ AS (
        |  SELECT tok, min(doc_id) AS fd
        |  FROM (SELECT doc_id,
        |          unnest(list_distinct(string_split(text, ' '))) AS tok
        |        FROM documents)
        |  GROUP BY tok),
        |cps AS (
        |  SELECT CAST(i AS BIGINT) AS cp_idx,
        |    CAST(i * (maxd + 1) // 10 - 1 AS BIGINT) AS cp_doc
        |  FROM (SELECT max(doc_id) AS maxd FROM per_doc),
        |       unnest(range(1, 11)) t(i)
        |  WHERE i * (maxd + 1) // 10 - 1 >= 0),
        |pts AS (
        |  SELECT cp_idx, cp_doc,
        |    (SELECT CAST(sum(n_toks) AS BIGINT) FROM per_doc
        |     WHERE doc_id <= cp_doc) AS n_tokens_cum,
        |    (SELECT CAST(count(*) AS BIGINT) FROM first_occ
        |     WHERE fd <= cp_doc) AS vocab_cum
        |  FROM cps),
        |q AS (
        |  SELECT cp_idx, cp_doc, n_tokens_cum, vocab_cum,
        |    CAST(floor(ln(CAST(n_tokens_cum AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT) AS xq,
        |    CAST(floor(ln(CAST(vocab_cum AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT) AS yq
        |  FROM pts),
        |reg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
        |    CAST(sum(xq * yq) AS BIGINT) AS sxy,
        |    CAST(sum(xq * xq) AS BIGINT) AS sxx,
        |    CAST(sum(yq * yq) AS BIGINT) AS syy
        |  FROM q)
        |SELECT cp_idx, cp_doc, n_tokens_cum, vocab_cum,
        |  round(CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE) END, 6) AS beta,
        |  round(CASE WHEN n * sxx - sx * sx = 0
        |           OR n * syy - sy * sy = 0 THEN 0.0
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |         * CAST(n * sxy - sx * sy AS DOUBLE)
        |         / (CAST(n * sxx - sx * sx AS DOUBLE)
        |            * CAST(n * syy - sy * sy AS DOUBLE)) END, 6) AS r2
        |FROM q, reg ORDER BY cp_idx""".stripMargin)),

    // Dedup observability: per-source duplicate rate + largest exact-
    // duplicate cluster. Two-level aggregation (source,text) →
    // (source): the first groupBy carries the corpus, the second is
    // tiny; the same shape at 100 TB with text replaced by a content
    // hash (here text IS the key so the oracle needs no hash function
    // shared across engines).
    QueryDef("stats_dup_rate_by_source",
      (s, d) => {
        docs(s, d).groupBy("source", "text")
          .agg(count(lit(1)).cast(LongType).as("cnt"))
          .groupBy("source")
          .agg(sum("cnt").cast(LongType).as("n_docs"),
            count(lit(1)).cast(LongType).as("n_distinct"),
            max("cnt").cast(LongType).as("max_cluster"))
          .withColumn("dup_rate",
            round((col("n_docs") - col("n_distinct")).cast(DoubleType)
              / col("n_docs"), 6))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(max(cnt) AS BIGINT) AS max_cluster,
        |  round(CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt), 6) AS dup_rate
        |FROM (SELECT source, text, count(*) AS cnt
        |      FROM documents GROUP BY source, text)
        |GROUP BY source ORDER BY source""".stripMargin)),

    // mm11: REAL audio feature extraction — decode the WAV payload
    // (full RIFF walk, every sample byte), then an integer-exact
    // 64-point fast Walsh–Hadamard transform and 8 sequency-band
    // energies. The oracle recomputes the generator's samples and the
    // transform definition (c_k = Σ v_j·(−1)^popcount(j∧k)) directly
    // in SQL — the decode and the O(N log N) butterfly are what's
    // under test. Channel-0 samples sit at interleaved index j*ch, so
    // the oracle's sample formula is v = ((7*(j*ch) + 3*id) % 4096) −
    // 2048. Scale: embarrassingly parallel per-blob mapPartitions;
    // only 13 scalar columns leave the executor per clip.
    QueryDef("mm11_audio_wht",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 300)
        val blobs = ids.map { id =>
          val rate = (8000 + (id % 5) * 4000).toInt
          val ch = (1 + id % 2).toInt
          val frames = 200 + id % 100
          (id, graft.extras.Multimodal.AudioBytes.wavPcm(rate, ch, frames, id))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeWavSpectrum(blobs, "blob", "event_id")
          .select(col("event_id"), col("sample_rate"), col("channels"),
            expr("stack(8, 0, b0, 1, b1, 2, b2, 3, b3, 4, b4, 5, b5, 6, b6, 7, b7)")
              .as(Seq("band", "energy")),
            col("ok"))
          .select(col("event_id"), col("sample_rate"), col("channels"),
            col("band").cast(IntegerType), col("energy").cast(LongType),
            col("ok"))
          .orderBy("event_id", "band")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id,
        |    CAST(8000 + (event_id % 5) * 4000 AS INT) AS rate,
        |    CAST(1 + event_id % 2 AS INT) AS ch
        |  FROM events WHERE event_id < 300),
        |smp AS (
        |  SELECT id, j, ((7 * (j * ch) + 3 * id) % 4096) - 2048 AS v
        |  FROM ids, unnest(range(0, 64)) t(j)),
        |$wht
        |SELECT id AS event_id, rate AS sample_rate, ch AS channels,
        |  CAST(k // 8 AS INT) AS band, CAST(sum(c * c) AS BIGINT) AS energy,
        |  TRUE AS ok
        |FROM coef JOIN ids USING (id)
        |GROUP BY id, rate, ch, k // 8
        |ORDER BY event_id, band""".stripMargin
        .replace("$wht", whtCoefSql("smp", "coef")))),

    // MinHash estimator calibration: for every LSH candidate pair,
    // compare the signature's Jaccard ESTIMATE (matching hashes / 16)
    // against the EXACT shingle Jaccard, bucketed by match count —
    // the audit that tells you whether 16 hashes and a 4x4 banding
    // are enough before you trust them on 100 TB. Exact values ride
    // as integer micros (common·10⁶ div union) so bucket means are
    // sums of integers with one final division — bit-stable across
    // engines. Scale: candidates come through the SAME capped band
    // buckets as dedup_minhash_lsh (no all-pairs anywhere); the
    // signature join touches |cands| rows; output is ≤17 buckets.
    QueryDef("dedup_minhash_eval",
      (s, d) => minhashEvalStats(s, d),
      Some(s"""WITH ${TextOps.DocsAugCte}, ${TextOps.ShinglesCte},
        |${TextOps.ShingleCountsCte},
        |${TextOps.MinhashCandsCtes},
        |est AS (
        |  SELECT cands.doc_a, cands.doc_b,
        |    CAST(${(0 until 16).map(i =>
                 s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
                 .mkString(" + ")} AS BIGINT) AS matches
        |  FROM cands
        |  JOIN minh a ON a.doc_id = cands.doc_a
        |  JOIN minh b ON b.doc_id = cands.doc_b),
        |exact AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(common * 1000000 // (na.n_sh + nb.n_sh - common) AS BIGINT)
        |      AS jmicros
        |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |          CAST(count(*) AS BIGINT) AS common
        |        FROM shingles a JOIN shingles b
        |          ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2) c
        |  JOIN sh_counts na ON na.doc_id = c.doc_a
        |  JOIN sh_counts nb ON nb.doc_id = c.doc_b
        |  JOIN cands ON cands.doc_a = c.doc_a AND cands.doc_b = c.doc_b)
        |SELECT matches, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(CAST(matches AS DOUBLE) / 16.0, 6) AS est_jaccard,
        |  round(CAST(sum(jmicros) AS DOUBLE) / count(*) / 1e6, 6) AS mean_exact,
        |  CAST(min(jmicros) AS BIGINT) AS min_jmicros,
        |  CAST(max(jmicros) AS BIGINT) AS max_jmicros
        |FROM est JOIN exact USING (doc_a, doc_b)
        |GROUP BY matches ORDER BY matches""".stripMargin)),

    // kNN label-vote classification accuracy over the embedding table
    // — the standard representation-quality eval (a 10-class corpus
    // here): exact cosine 10-NN per held-out query vector, majority
    // vote, compare to the vector's own label. Scores ride the shared
    // sequential-fold cosine rounded to 6dp (same parity contract as
    // every ann_* query); vote ties break toward the smaller label in
    // both engines. Scale: the 50-query probe set broadcasts against
    // the corpus exactly like ann_bruteforce_topk — the IVF/PQ family
    // is the at-scale retrieval path, this is its quality yardstick.
    QueryDef("ann_knn_accuracy",
      (s, d) => {
        val all = QueryDef.fanOut(s.read.parquet(s"$d/embeddings.parquet"))
          .select(col("vec_id"), col("embedding"), col("label"))
        val q = all.where(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("embedding").as("vq"),
            col("label").as("true_label"))
        val wRank = Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("n_id"))
        val top = all
          .select(col("vec_id").as("n_id"), col("embedding").as("ve"),
            col("label").as("n_label"))
          .crossJoin(broadcast(q))
          .where(col("n_id") =!= col("q_id"))
          .withColumn("score", round(
            graft.functions.GraftFunctions.cosine_sim(col("vq"), col("ve")), 6))
          .withColumn("rank", row_number().over(wRank))
          .where(col("rank") <= 10)
        val wVote = Window.partitionBy("q_id")
          .orderBy(col("votes").desc, col("n_label"))
        val pred = top.groupBy("q_id", "true_label", "n_label")
          .agg(count(lit(1)).cast(LongType).as("votes"))
          .withColumn("vr", row_number().over(wVote)).where(col("vr") === 1)
          .select(col("q_id"), col("true_label"),
            col("n_label").as("pred_label"), col("votes"))
          .withColumn("correct", col("pred_label") === col("true_label"))
          // materialized: acc and the final select both consume pred,
          // and without this the corpus-x-probe brute-force subtree is
          // planned twice (review-caught)
          .localCheckpoint()
        val acc = pred.agg(
          round(sum(when(col("correct"), 1).otherwise(0))
            .cast(DoubleType) / count(lit(1)), 6).as("accuracy"))
        pred.crossJoin(broadcast(acc))
          .select("q_id", "true_label", "pred_label", "votes", "correct",
            "accuracy")
          .orderBy("q_id")
      },
      Some(s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS vq, label AS true_label
        |  FROM embeddings WHERE vec_id < 50),
        |top AS (
        |  SELECT q_id, true_label, n_id, n_label
        |  FROM (
        |    SELECT q.q_id, q.true_label, e.vec_id AS n_id,
        |      e.label AS n_label,
        |      round(${VectorOps.duckCosine("q.vq", "e.embedding")}, 6) AS score
        |    FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, n_id) <= 10),
        |pred AS (
        |  SELECT q_id, true_label, n_label AS pred_label,
        |    CAST(count(*) AS BIGINT) AS votes
        |  FROM top GROUP BY q_id, true_label, n_label
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY count(*) DESC, n_label) = 1),
        |acc AS (
        |  SELECT round(CAST(sum(CASE WHEN pred_label = true_label
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
        |  FROM pred)
        |SELECT q_id, true_label, pred_label, votes,
        |  pred_label = true_label AS correct, accuracy
        |FROM pred, acc ORDER BY q_id""".stripMargin)),

    // nDCG@10 retrieval-quality eval — the rank-aware complement of
    // ann_knn_accuracy's majority vote (which scores only WHAT is in
    // the top-10; nDCG scores WHERE). Relevance = label match, exact
    // cosine ranking, and the discount weights 1/log2(r+1) are
    // PRECOMPUTED in Scala as integer micros and string-interpolated
    // into BOTH engines' query texts — log() never runs inside either
    // engine, so libm last-ulp differences cannot break hash parity
    // (the same freeze-the-floats discipline as every vector op).
    // IDCG uses the standard total-relevant-capped-at-k ideal via a
    // literal prefix-sum table. Scale: the probe set broadcasts
    // against the corpus exactly like ann_knn_accuracy.
    QueryDef("rank_ndcg_eval",
      (s, d) => {
        val wMicros = (1 to 10).map(r =>
          math.round(1e6 / (math.log(r + 1) / math.log(2))))
        val prefix = wMicros.scanLeft(0L)(_ + _).tail
        val all = QueryDef.fanOut(s.read.parquet(s"$d/embeddings.parquet"))
          .select(col("vec_id"), col("embedding"), col("label"))
        val q = all.where(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("embedding").as("vq"),
            col("label").as("true_label"))
        // total relevant per query label (corpus minus the query itself)
        val labelCounts = all.groupBy(col("label").as("true_label"))
          .agg(count(lit(1)).cast(LongType).as("n_label_total"))
        val wRank = Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("n_id"))
        val wArr = array(wMicros.map(lit): _*)
        val pArr = array(prefix.map(lit): _*)
        val top = all
          .select(col("vec_id").as("n_id"), col("embedding").as("ve"),
            col("label").as("n_label"))
          .crossJoin(broadcast(q))
          .where(col("n_id") =!= col("q_id"))
          .withColumn("score", round(
            graft.functions.GraftFunctions.cosine_sim(col("vq"), col("ve")), 6))
          .withColumn("rank", row_number().over(wRank))
          .where(col("rank") <= 10)
        val perQ = top
          .withColumn("gain", when(col("n_label") === col("true_label"),
            element_at(wArr, col("rank"))).otherwise(lit(0L)))
          .groupBy("q_id", "true_label")
          .agg(sum("gain").cast(LongType).as("dcg_micros"),
            sum(when(col("n_label") === col("true_label"), 1L).otherwise(0L))
              .cast(LongType).as("n_rel_top10"))
          .join(broadcast(labelCounts), "true_label")
          // the query's own vector is not retrievable
          .withColumn("total_rel", col("n_label_total") - 1)
          .withColumn("idcg_micros",
            when(col("total_rel") <= 0L, lit(0L))
              .otherwise(element_at(pArr,
                least(col("total_rel"), lit(10L)).cast(IntegerType))))
          .withColumn("ndcg_ppm",
            when(col("idcg_micros") === 0L, lit(0L))
              .otherwise(expr("dcg_micros * 1000000 div idcg_micros"))
              .cast(LongType))
          .select("q_id", "true_label", "n_rel_top10", "total_rel",
            "dcg_micros", "idcg_micros", "ndcg_ppm")
          .localCheckpoint()
        val mean = perQ.agg(
          expr("sum(ndcg_ppm) div count(1)").cast(LongType)
            .as("mean_ndcg_ppm"))
        perQ.crossJoin(broadcast(mean)).orderBy("q_id")
      },
      Some {
        val wMicros = (1 to 10).map(r =>
          math.round(1e6 / (math.log(r + 1) / math.log(2))))
        val prefix = wMicros.scanLeft(0L)(_ + _).tail
        s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS vq, label AS true_label
        |  FROM embeddings WHERE vec_id < 50),
        |lc AS (
        |  SELECT label AS true_label, CAST(count(*) AS BIGINT) AS n_label_total
        |  FROM embeddings GROUP BY label),
        |top AS (
        |  SELECT q_id, true_label, n_label, rank
        |  FROM (
        |    SELECT q.q_id, q.true_label, e.label AS n_label,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        round(${VectorOps.duckCosine("q.vq", "e.embedding")}, 6) DESC,
        |        e.vec_id) AS rank
        |    FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        |  WHERE rank <= 10),
        |perq AS (
        |  SELECT t.q_id, t.true_label,
        |    CAST(sum(CASE WHEN n_label = t.true_label
        |      THEN [${wMicros.mkString(", ")}][rank] ELSE 0 END) AS BIGINT)
        |      AS dcg_micros,
        |    CAST(sum(CASE WHEN n_label = t.true_label THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rel_top10
        |  FROM top t GROUP BY 1, 2),
        |scored AS (
        |  SELECT p.q_id, p.true_label, p.n_rel_top10,
        |    lc.n_label_total - 1 AS total_rel, p.dcg_micros,
        |    CASE WHEN lc.n_label_total - 1 <= 0 THEN 0
        |      ELSE [${prefix.mkString(", ")}]
        |        [least(lc.n_label_total - 1, 10)] END AS idcg_micros
        |  FROM perq p JOIN lc USING (true_label)),
        |final AS (
        |  SELECT q_id, true_label, n_rel_top10,
        |    CAST(total_rel AS BIGINT) AS total_rel, dcg_micros,
        |    CAST(idcg_micros AS BIGINT) AS idcg_micros,
        |    CAST(CASE WHEN idcg_micros = 0 THEN 0
        |      ELSE dcg_micros * 1000000 // idcg_micros END AS BIGINT)
        |      AS ndcg_ppm
        |  FROM scored)
        |SELECT f.*, m.mean_ndcg_ppm FROM final f,
        |  (SELECT CAST(sum(ndcg_ppm) // count(*) AS BIGINT)
        |     AS mean_ndcg_ppm FROM final) m
        |ORDER BY q_id""".stripMargin
      }),

    // Novel-n-gram rate: fraction of each held-out doc's distinct
    // 4-grams that never occur in the train split (doc_id % 10 != 0)
    // — the standard memorization/novelty diagnostic reported beside
    // perplexity. Shape: the train side collapses to DISTINCT grams
    // (one groupBy), held-out grams left-anti join it on the gram key
    // — the same shuffle the decontamination op pays, and the right
    // one: gram-keyed, never doc-pairwise. Rates are exact integer
    // ratios with one final rounded division.
    QueryDef("stats_ngram_novelty",
      (s, d) => {
        // split in its own projection: a lambda referencing
        // split(text) directly re-evaluates it per element_at (same
        // trap TextOps.shingles documents)
        val grams = docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"),
            explode(array_distinct(expr(
              """CASE WHEN size(w) >= 4 THEN
                |  transform(sequence(0, size(w) - 4),
                |    i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))
                |ELSE array() END""".stripMargin))).as("g"))
          // three consumers (train distinct, anti-join side, per-doc
          // counts) — materialize the gram explosion once
          .localCheckpoint()
        val train = grams.where(col("doc_id") % 10 =!= 0)
          .select("g").distinct()
        val held = grams.where(col("doc_id") % 10 === 0)
        val novel = held.join(train, Seq("g"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("n_novel"))
        held.groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("n_grams"))
          .join(novel, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_novel"))
          .withColumn("novelty_rate",
            round(col("n_novel").cast(DoubleType) / col("n_grams"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])))
        |    AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |train AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 <> 0),
        |held AS (SELECT * FROM grams WHERE doc_id % 10 = 0),
        |novel AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |  FROM held WHERE g NOT IN (SELECT g FROM train)
        |  GROUP BY doc_id)
        |SELECT h.doc_id, h.n_grams, coalesce(n_novel, 0) AS n_novel,
        |  round(CAST(coalesce(n_novel, 0) AS DOUBLE) / h.n_grams, 6)
        |    AS novelty_rate
        |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |      FROM held GROUP BY doc_id) h
        |LEFT JOIN novel ON novel.doc_id = h.doc_id
        |ORDER BY h.doc_id""".stripMargin)),

    // Language-ID evaluation: confusion matrix of text_lang_id's
    // prediction against the table's ground-truth lang column, with
    // per-cell rates over the true class and the overall accuracy —
    // the eval that belongs beside any heuristic classifier before
    // its output drives a corpus split. Tiny output (#langs²); the
    // only corpus-sized work is the same narrow scoring pass
    // text_lang_id runs.
    QueryDef("text_lang_confusion",
      (s, d) => {
        val w = split(col("text"), " ")
        def score(markers: String*) =
          size(filter(w, x => x.isin(markers: _*))).cast(LongType)
        val pred = docs(s, d).select(col("doc_id"), col("lang"),
            score("the", "and", "a", "of").as("en_score"),
            score("el", "la", "de", "que").as("es_score"),
            score("le", "les", "et", "un").as("fr_score"),
            score("der", "und", "die", "das").as("de_score"))
          .withColumn("predicted",
            when(col("en_score") >= col("es_score") &&
                 col("en_score") >= col("fr_score") &&
                 col("en_score") >= col("de_score") && col("en_score") > 0, "en")
            .when(col("es_score") >= col("fr_score") &&
                  col("es_score") >= col("de_score") && col("es_score") > 0, "es")
            .when(col("fr_score") >= col("de_score") && col("fr_score") > 0, "fr")
            .when(col("de_score") > 0, "de")
            .otherwise("unknown"))
          // cells, totals, AND acc read pred — one scoring pass, not 3
          .localCheckpoint()
        val cells = pred.groupBy("lang", "predicted")
          .agg(count(lit(1)).cast(LongType).as("n"))
        val totals = pred.groupBy("lang")
          .agg(count(lit(1)).cast(LongType).as("class_total"))
        val acc = pred.agg(round(
          sum(when(col("lang") === col("predicted"), 1).otherwise(0))
            .cast(DoubleType) / count(lit(1)), 6).as("accuracy"))
        cells.join(broadcast(totals), "lang")
          .withColumn("cell_rate",
            round(col("n").cast(DoubleType) / col("class_total"), 6))
          .withColumn("is_correct", col("lang") === col("predicted"))
          .crossJoin(broadcast(acc))
          .select("lang", "predicted", "n", "class_total", "cell_rate",
            "is_correct", "accuracy")
          .orderBy("lang", "predicted")
      },
      Some("""WITH pred AS (
        |  SELECT doc_id, lang,
        |    CASE
        |      WHEN en_score >= es_score AND en_score >= fr_score
        |           AND en_score >= de_score AND en_score > 0 THEN 'en'
        |      WHEN es_score >= fr_score AND es_score >= de_score
        |           AND es_score > 0 THEN 'es'
        |      WHEN fr_score >= de_score AND fr_score > 0 THEN 'fr'
        |      WHEN de_score > 0 THEN 'de'
        |      ELSE 'unknown' END AS predicted
        |  FROM (SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','and','a','of'))) AS BIGINT) AS en_score,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('el','la','de','que'))) AS BIGINT) AS es_score,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('le','les','et','un'))) AS BIGINT) AS fr_score,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('der','und','die','das'))) AS BIGINT) AS de_score
        |  FROM documents)),
        |cells AS (
        |  SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
        |  FROM pred GROUP BY lang, predicted),
        |totals AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS class_total
        |  FROM pred GROUP BY lang),
        |acc AS (
        |  SELECT round(CAST(sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS accuracy FROM pred)
        |SELECT lang, predicted, n, class_total,
        |  round(CAST(n AS DOUBLE) / class_total, 6) AS cell_rate,
        |  lang = predicted AS is_correct, accuracy
        |FROM cells JOIN totals USING (lang), acc
        |ORDER BY lang, predicted""".stripMargin)),

    // mm12: IMAGE near-dup dedup — dHash over REAL decoded BMP pixels,
    // 16-bit band blocking, exact Hamming verification. This is the
    // image-modality member of the dedup matrix (exact / minhash /
    // simhash / embedding cover text and vectors): a uniform
    // brightness regrade leaves dHash comparisons unchanged, so
    // re-graded copies collide. Fixture: 40 QUADRATIC base patterns
    // (per-cluster curvature coefficients — structurally distinct
    // images) x 4 brightness-regraded variants (uniform +2k delta —
    // identical hash up to mod-256 wrap cells, so intra-cluster
    // Hamming is small but honestly nonzero). Scale: same blocking
    // discipline as dedup_simhash — candidates only from shared
    // 16-bit bands (bucket-capped), exact bit_count on candidates,
    // never all-pairs.
    QueryDef("mm12_image_phash",
      (s, d) => {
        fingerprintPairs(phashHashes(s, d))
          .where(col("hamming") <= 12)
          .select("id_a", "id_b", "hamming")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $PhashCtes
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(ha.hash, hb.hash)) AS BIGINT) AS hamming
        |FROM cands
        |JOIN hashes ha ON ha.id = cands.id_a
        |JOIN hashes hb ON hb.id = cands.id_b
        |WHERE bit_count(xor(ha.hash, hb.hash)) <= 12
        |ORDER BY id_a, id_b""".stripMargin)),

    // Canonical-keeper selection over the image near-dup graph:
    // connected components of mm12's verified pairs (same incident-
    // only CC machinery as dedup_cluster_cc — singletons never enter
    // the propagation), each >=2 cluster labeled by its minimum id.
    // This is the step that turns pair DETECTION into a dedup
    // DECISION: keep the representative, drop the rest. The oracle
    // replays pairs + a recursive-CTE reachability closure.
    QueryDef("dedup_phash_cluster",
      (s, d) => {
        val hashes = phashHashes(s, d)
        val edges = fingerprintPairs(hashes)
          .where(col("hamming") <= 12)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        val labels = PipelineOps.ccIncident(edges)
        val sized = labels.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
          .where(col("cluster_size") >= 2)
        labels.join(sized, "rep")
          .select(col("doc_id").as("id"),
            col("rep").cast(LongType).as("cluster_rep"),
            col("cluster_size").cast(LongType).as("cluster_size"))
          .withColumn("is_keeper", col("id") === col("cluster_rep"))
          .orderBy("id")
      },
      Some(s"""WITH RECURSIVE $PhashCtes,
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM cands
        |  JOIN hashes ha ON ha.id = cands.id_a
        |  JOIN hashes hb ON hb.id = cands.id_b
        |  WHERE bit_count(xor(ha.hash, hb.hash)) <= 12),
        |bi AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT id, id FROM hashes
        |  UNION
        |  SELECT bi.b, reach.r FROM reach JOIN bi ON bi.a = reach.id),
        |labels AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
        |sized AS (SELECT rep, CAST(count(*) AS BIGINT) AS cluster_size
        |          FROM labels GROUP BY rep)
        |SELECT l.id, CAST(l.rep AS BIGINT) AS cluster_rep,
        |  s.cluster_size, l.id = l.rep AS is_keeper
        |FROM labels l JOIN sized s ON s.rep = l.rep
        |WHERE s.cluster_size >= 2
        |ORDER BY l.id""".stripMargin)),

    // Cross-source contamination matrix: for every ordered source
    // pair, how many distinct 4-grams they share and what fraction of
    // each side's gram set that is — the leak detector run before
    // treating sources as independent (a benchmark set hiding inside
    // a crawl shows up as a high containment cell). Scale: the join
    // key is the gram, and per-gram fanout is bounded by the (small,
    // constant) source count — never doc-pairwise, never corpus².
    QueryDef("stats_contamination_matrix",
      (s, d) => {
        val grams = docs(s, d)
          .select(col("source"), split(col("text"), " ").as("w"))
          .select(col("source"),
            explode(array_distinct(expr(
              """CASE WHEN size(w) >= 4 THEN
                |  transform(sequence(0, size(w) - 4),
                |    i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))
                |ELSE array() END""".stripMargin))).as("g"))
          .distinct()
          .localCheckpoint()
        val counts = grams.groupBy("source")
          .agg(count(lit(1)).cast(LongType).as("n_grams"))
        val common = grams.toDF("src_a", "g")
          .join(grams.toDF("src_b", "g"), "g")
          .where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).cast(LongType).as("common_grams"))
        common
          .join(broadcast(counts.toDF("src_a", "n_a")), "src_a")
          .join(broadcast(counts.toDF("src_b", "n_b")), "src_b")
          .withColumn("frac_of_a",
            round(col("common_grams").cast(DoubleType) / col("n_a"), 6))
          .withColumn("frac_of_b",
            round(col("common_grams").cast(DoubleType) / col("n_b"), 6))
          .select("src_a", "src_b", "common_grams", "n_a", "n_b",
            "frac_of_a", "frac_of_b")
          .orderBy("src_a", "src_b")
      },
      Some("""WITH grams AS (
        |  SELECT DISTINCT source, unnest(list_distinct(
        |    list_transform(range(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])))
        |    AS g
        |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)),
        |counts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM grams GROUP BY source),
        |common AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS common_grams
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, common_grams,
        |  ca.n_grams AS n_a, cb.n_grams AS n_b,
        |  round(CAST(common_grams AS DOUBLE) / ca.n_grams, 6) AS frac_of_a,
        |  round(CAST(common_grams AS DOUBLE) / cb.n_grams, 6) AS frac_of_b
        |FROM common
        |JOIN counts ca ON ca.source = src_a
        |JOIN counts cb ON cb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin)),

    // IVF tuning curve: mean recall@10 vs nprobe ∈ {1,2,4,8} against
    // the brute-force top-10 — the operational audit that answers
    // "how many cells must I probe for the recall I need" before an
    // nprobe is hard-coded at 100 TB. One centroid-assignment pass is
    // shared by all four curve points (the probe sets are nested by
    // construction: arn <= nprobe), so the curve costs one extra
    // explode over the single-nprobe query, not 4x.
    QueryDef("ann_recall_curve",
      (s, d) => {
        val all = QueryDef.fanOut(s.read.parquet(s"$d/embeddings.parquet"))
          .select(col("vec_id"), col("embedding"))
        val cents = all.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("c_id"), col("embedding").as("vc"))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(col("csim").desc, col("c_id"))
        val ranked = all.crossJoin(broadcast(cents))
          .withColumn("csim", round(
            graft.functions.GraftFunctions.cosine_sim(col("embedding"), col("vc")), 6))
          .withColumn("arn", row_number().over(wAssign))
          // keep only the rows downstream reads (assignments + the
          // probe set) BEFORE materializing: the full corpus x
          // centroid ranking is ~C times larger (review-caught)
          .where(col("arn") === 1 || (col("vec_id") < 5 && col("arn") <= 8))
          .localCheckpoint()
        val assigned = ranked.where(col("arn") === 1)
          .select(col("vec_id").as("n_id"), col("embedding").as("ve"),
            col("c_id").as("cell"))
        val probes = ranked.where(col("vec_id") < 5 && col("arn") <= 8)
          .select(explode(expr("filter(array(1, 2, 4, 8), np -> arn <= np)"))
              .as("np"),
            col("vec_id").as("q_id"), col("embedding").as("vq"),
            col("c_id").as("cell"))
        val wRank = Window.partitionBy("np", "q_id")
          .orderBy(col("score").desc, col("n_id"))
        val approx = assigned.join(broadcast(probes), "cell")
          .where(col("n_id") =!= col("q_id"))
          .withColumn("score", round(
            graft.functions.GraftFunctions.cosine_sim(col("vq"), col("ve")), 6))
          .withColumn("rank", row_number().over(wRank))
          .where(col("rank") <= 10)
          .select("np", "q_id", "n_id")
        val q = all.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("vq"))
        val wB = Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("n_id"))
        val brute = all.select(col("vec_id").as("n_id"), col("embedding").as("ve"))
          .crossJoin(broadcast(q))
          .where(col("n_id") =!= col("q_id"))
          .withColumn("score", round(
            graft.functions.GraftFunctions.cosine_sim(col("vq"), col("ve")), 6))
          .withColumn("brank", row_number().over(wB))
          .where(col("brank") <= 10)
          .select(col("q_id"), col("n_id"))
        approx.join(brute, Seq("q_id", "n_id"), "left_semi")
          .groupBy("np").agg(count(lit(1)).cast(LongType).as("hits"))
          .withColumn("mean_recall10",
            round(col("hits").cast(DoubleType) / (5 * 10), 6))
          .select(col("np").cast(LongType), col("hits"), col("mean_recall10"))
          .orderBy("np")
      },
      Some(s"""WITH cents AS (
        |  SELECT vec_id AS c_id, embedding AS vc
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |ranked AS (
        |  SELECT e.vec_id, e.embedding, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(${VectorOps.duckCosine("e.embedding", "c.vc")}, 6) DESC,
        |      c.c_id) AS arn
        |  FROM embeddings e, cents c),
        |assigned AS (
        |  SELECT vec_id AS n_id, embedding AS ve, c_id AS cell
        |  FROM ranked WHERE arn = 1),
        |probes AS (
        |  SELECT t.np, vec_id AS q_id, embedding AS vq, c_id AS cell
        |  FROM ranked, unnest([1, 2, 4, 8]) t(np)
        |  WHERE vec_id < 5 AND arn <= t.np),
        |approx AS (
        |  SELECT np, q_id, n_id
        |  FROM (
        |    SELECT p.np, p.q_id, a.n_id,
        |      row_number() OVER (PARTITION BY p.np, p.q_id ORDER BY
        |        round(${VectorOps.duckCosine("p.vq", "a.ve")}, 6) DESC,
        |        a.n_id) AS rank
        |    FROM assigned a JOIN probes p USING (cell)
        |    WHERE a.n_id <> p.q_id)
        |  WHERE rank <= 10),
        |q AS (SELECT vec_id AS q_id, embedding AS vq
        |      FROM embeddings WHERE vec_id < 5),
        |brute AS (
        |  SELECT q_id, n_id
        |  FROM (
        |    SELECT q.q_id, e.vec_id AS n_id,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        round(${VectorOps.duckCosine("q.vq", "e.embedding")}, 6) DESC,
        |        e.vec_id) AS brank
        |    FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        |  WHERE brank <= 10)
        |SELECT CAST(np AS BIGINT) AS np, CAST(count(*) AS BIGINT) AS hits,
        |  round(CAST(count(*) AS DOUBLE) / 50, 6) AS mean_recall10
        |FROM approx
        |JOIN brute USING (q_id, n_id)
        |GROUP BY np ORDER BY np""".stripMargin)),

    // Sequence-length coverage: for each candidate max_seq_len, how
    // many docs fit untruncated and what fraction of corpus TOKENS
    // survives truncation — the table consulted before hard-coding a
    // context length (doc-fit and token-survival answer different
    // questions; the second is what the loss actually sees). One
    // narrow pass + a 6-row explode; exact integer sums, rounded
    // display divisions.
    QueryDef("stats_seqlen_coverage",
      (s, d) => {
        val perDoc = docs(s, d)
          .select(size(split(col("text"), " ")).cast(LongType).as("n_toks"))
          .localCheckpoint()
        val totals = perDoc.agg(count(lit(1)).cast(LongType).as("total_docs"),
          sum("n_toks").cast(LongType).as("total_toks"))
        perDoc
          .select(explode(expr(
            "array(128, 256, 512, 1024, 2048, 4096)")).as("max_len"),
            col("n_toks"))
          .groupBy("max_len")
          .agg(sum(when(col("n_toks") <= col("max_len"), 1L).otherwise(0L))
              .cast(LongType).as("n_docs_fit"),
            sum(least(col("n_toks"), col("max_len")))
              .cast(LongType).as("toks_kept"))
          .crossJoin(broadcast(totals))
          .withColumn("frac_docs_fit",
            round(col("n_docs_fit").cast(DoubleType) / col("total_docs"), 6))
          .withColumn("frac_toks_kept",
            round(col("toks_kept").cast(DoubleType) / col("total_toks"), 6))
          .select(col("max_len").cast(LongType), col("n_docs_fit"),
            col("toks_kept"), col("frac_docs_fit"), col("frac_toks_kept"))
          .orderBy("max_len")
      },
      Some("""WITH per_doc AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_docs,
        |               CAST(sum(n_toks) AS BIGINT) AS total_toks
        |        FROM per_doc)
        |SELECT CAST(max_len AS BIGINT) AS max_len,
        |  CAST(sum(CASE WHEN n_toks <= max_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_fit,
        |  CAST(sum(least(n_toks, max_len)) AS BIGINT) AS toks_kept,
        |  round(CAST(sum(CASE WHEN n_toks <= max_len THEN 1 ELSE 0 END)
        |    AS DOUBLE) / any_value(total_docs), 6) AS frac_docs_fit,
        |  round(CAST(sum(least(n_toks, max_len)) AS DOUBLE)
        |    / any_value(total_toks), 6) AS frac_toks_kept
        |FROM per_doc, unnest([128, 256, 512, 1024, 2048, 4096]) t(max_len), tot
        |GROUP BY max_len ORDER BY max_len""".stripMargin)),

    // Quality-annealed curriculum KEY: each doc gets a quality decile
    // (from a bounded 1001-level score histogram — never a global
    // row_number over the corpus) and a deterministic md5 shuffle key;
    // training order = sort by (decile, shuffle_key), low quality
    // first, so later optimizer steps see cleaner data (the standard
    // annealing schedule). Emitting the KEY rather than a position is
    // the at-scale contract: the writer range-partitions by it, no
    // single-partition window anywhere. Decile boundaries are exact
    // integer comparisons on the cumulative histogram, so the
    // assignment can never flip on a float.
    QueryDef("curriculum_quality_order",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("n_toks"),
            size(filter(split(col("text"), " "),
              x => x.isin("the", "a", "and", "of", "to")))
              .cast(LongType).as("stop_cnt"))
          .withColumn("score_milli",
            expr("CAST(stop_cnt * 1000 DIV n_toks AS BIGINT)"))
          .localCheckpoint()
        // <=1001-row histogram; the window over it is bounded, not
        // corpus-sized
        val wCum = Window.orderBy("score_milli")
          .rowsBetween(Window.unboundedPreceding, -1)
        val hist = base.groupBy("score_milli")
          .agg(count(lit(1)).cast(LongType).as("n"))
          .withColumn("cum_lt", coalesce(sum("n").over(wCum), lit(0L)))
        val total = base.agg(count(lit(1)).cast(LongType).as("total"))
        base.join(broadcast(hist.select("score_milli", "cum_lt")), "score_milli")
          .crossJoin(broadcast(total))
          .withColumn("decile",
            least(lit(9L), expr("CAST(10 * cum_lt DIV total AS BIGINT)")))
          .withColumn("shuffle_key",
            md5(concat(lit("cur-"), col("doc_id").cast(StringType))))
          .select("doc_id", "score_milli", "decile", "shuffle_key")
          .orderBy("decile", "shuffle_key", "doc_id")
      },
      Some("""WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS BIGINT) AS stop_cnt
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, stop_cnt * 1000 // n_toks AS score_milli FROM base),
        |hist AS (
        |  SELECT score_milli, CAST(count(*) AS BIGINT) AS n,
        |    CAST(coalesce(sum(count(*)) OVER (ORDER BY score_milli
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_lt
        |  FROM scored GROUP BY score_milli),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM scored)
        |SELECT s.doc_id, CAST(s.score_milli AS BIGINT) AS score_milli,
        |  least(9, 10 * h.cum_lt // total) AS decile,
        |  md5('cur-' || s.doc_id) AS shuffle_key
        |FROM scored s JOIN hist h USING (score_milli), tot
        |ORDER BY decile, shuffle_key, doc_id""".stripMargin)),

    // mm15: the single-pass MODALITY ROUTER — a mixed binary column
    // (images, audio, video, junk interleaved) sniffed by container
    // magic and dispatched to the modality-appropriate perceptual
    // fingerprint in ONE partition pass, decoders instantiated once
    // per partition. This is the ingest shape a mixed multimodal
    // column takes at 100 TB: no per-type re-scan of the blob store,
    // unrecognized blobs become ok=false marker rows. The oracle
    // recomputes all three fingerprint families (and the junk rows)
    // from the generators' arithmetic and unions them.
    QueryDef("mm15_modality_router",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 240)
        val blobs = ids.map { id =>
          val c = (id % 40).toInt
          val blob = (id % 4) match {
            case 0 => graft.extras.Multimodal.ImageBytes.bmpQuad(16, 16,
              1 + c % 5, 1 + c % 7, c % 3, 11 * c, 0)
            case 1 => graft.extras.Multimodal.AudioBytes.wavPcmScaled(
              8000, 1, 100, c, 1, 61 + 13 * c)
            case 2 => graft.extras.Multimodal.VideoBytes2.aviQuad(16, 16,
              Mm15NFrames, 1 + c % 5, 1 + c % 7, c % 3, 11 * c, 0)
            case _ => s"junk-$id".getBytes("UTF-8")
          }
          (id, blob)
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeRoutedFingerprint(
            blobs, "blob", "event_id", videoSampleEvery = VidSampleEvery)
          .orderBy("event_id")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, event_id % 40 AS c, event_id % 4 AS m
        |  FROM events WHERE event_id < 240),
        |img_px AS (
        |  SELECT id, x, y,
        |    ((1 + c % 5) * x * x + (1 + c % 7) * y * y + (c % 3) * x * y
        |      + 7 * x + 13 * y + 11 * c) % 256 AS r,
        |    ((1 + c % 7) * x * x + (1 + c % 5) * y * y + (c % 3) * x * y
        |      + 3 * x + 5 * y + 22 * c) % 256 AS g,
        |    ((2 + c % 5 + c % 7) * x * x + (c % 3) * y * y
        |      + 5 * x + 11 * y + 33 * c) % 256 AS b
        |  FROM ids, unnest(range(0, 16)) tx(x), unnest(range(0, 16)) ty(y)
        |  WHERE m = 0),
        |$imgdh,
        |img_fp AS (
        |  SELECT id, CAST(sum(CAST(bit AS BIGINT) << (gy * 8 + gx))
        |    AS BIGINT) AS fp
        |  FROM img_bits GROUP BY id),
        |aud_smp AS (
        |  SELECT id, j,
        |    (((61 + 13 * c) * j + 3 * c) % 4096) - 2048 AS v
        |  FROM ids, unnest(range(0, 64)) t(j) WHERE m = 1),
        |$audwht,
        |aud_fp AS (
        |  SELECT a.id,
        |    CAST(sum(CASE WHEN abs(a.c) > abs(b.c)
        |      THEN CAST(1 AS BIGINT) << a.k ELSE 0 END) AS BIGINT) AS fp
        |  FROM aud_coef a JOIN aud_coef b ON b.id = a.id AND b.k = a.k + 1
        |  WHERE a.k < 63 GROUP BY a.id),
        |vid_px AS (
        |  SELECT id, f, x, y,
        |    ((1 + c % 5) * x * x + (1 + c % 7) * y * y + (c % 3) * x * y
        |      + 7 * x + 13 * y + 11 * c + 23 * f) % 256 AS r,
        |    ((1 + c % 7) * x * x + (1 + c % 5) * y * y + (c % 3) * x * y
        |      + 3 * x + 5 * y + 22 * c + 29 * f) % 256 AS g,
        |    ((2 + c % 5 + c % 7) * x * x + (c % 3) * y * y
        |      + 5 * x + 11 * y + 33 * c + 31 * f) % 256 AS b
        |  FROM ids, unnest($vidframes) tf(f),
        |    unnest(range(0, 16)) tx(x), unnest(range(0, 16)) ty(y)
        |  WHERE m = 2),
        |$viddh,
        |vid_maj AS (
        |  SELECT id, gy * 8 + gx AS k,
        |    CASE WHEN $vidmaj THEN 1 ELSE 0 END AS bit_v
        |  FROM vid_bits GROUP BY id, gy * 8 + gx),
        |vid_fp AS (
        |  SELECT id, CAST(sum(CAST(bit_v AS BIGINT) << k) AS BIGINT) AS fp
        |  FROM vid_maj GROUP BY id)
        |SELECT i.id AS event_id,
        |  CASE i.m WHEN 0 THEN 822 WHEN 1 THEN 256 WHEN 2 THEN 2552
        |    ELSE 5 + length(CAST(i.id AS VARCHAR)) END AS byte_len,
        |  CASE i.m WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    WHEN 2 THEN 'video' ELSE 'unknown' END AS modality,
        |  CASE i.m WHEN 0 THEN img_fp.fp WHEN 1 THEN aud_fp.fp
        |    WHEN 2 THEN vid_fp.fp
        |    ELSE CAST(('0x' || substr(md5('junk-' || CAST(i.id AS VARCHAR)),
        |      1, 15))::UBIGINT AS BIGINT) END AS fp,
        |  i.m <> 3 AS ok
        |FROM ids i
        |LEFT JOIN img_fp ON img_fp.id = i.id
        |LEFT JOIN aud_fp ON aud_fp.id = i.id
        |LEFT JOIN vid_fp ON vid_fp.id = i.id
        |ORDER BY event_id""".stripMargin
        .replace("$vidframes", vidFramesSql(Mm15NFrames))
        .replace("$vidmaj", vidMajSql(Mm15NFrames))
        .replace("$imgdh", dhashBitsSql("img_px", "img_", frameKey = false, w = 16, h = 16))
        .replace("$audwht", whtCoefSql("aud_smp", "aud_coef"))
        .replace("$viddh", dhashBitsSql("vid_px", "vid_", frameKey = true, w = 16, h = 16)))),

    // mm16: REAL image resize — the feature-extraction step the
    // multimodal brief names explicitly: a 2x2 integer box-filter
    // downscale (each output pixel = floor mean of its box) over real
    // BMP decode, reported as per-channel sums of the RESIZED image
    // plus a position-weighted checksum that a transposed, flipped, or
    // mis-strided resize cannot fake. The oracle recomputes the box
    // means arithmetically from the quad pattern. Scale:
    // embarrassingly parallel per-blob; 8 scalar columns per image
    // leave the executor.
    QueryDef("mm16_image_resize",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 200)
        val blobs = ids.map { id =>
          val c = (id % 40).toInt
          // alternate row orders so the resize is proven on BOTH
          // bottom-up and top-down files
          (id, graft.extras.Multimodal.ImageBytes.bmpQuad(16, 16,
            1 + c % 5, 1 + c % 7, c % 3, 11 * c, (id % 3).toInt,
            topDown = id % 2 == 1))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal
          .decodeBmpResized(blobs, "blob", "event_id", factor = 2)
          .orderBy("event_id")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id,
        |    1 + (event_id % 40) % 5 AS ca, 1 + (event_id % 40) % 7 AS cb,
        |    (event_id % 40) % 3 AS cc, 11 * (event_id % 40) AS base,
        |    event_id % 3 AS delta
        |  FROM events WHERE event_id < 200),
        |px AS (
        |  SELECT id, x, y,
        |    (ca * x * x + cb * y * y + cc * x * y + 7 * x + 13 * y
        |      + base + delta) % 256 AS r,
        |    (cb * x * x + ca * y * y + cc * x * y + 3 * x + 5 * y
        |      + 2 * base + delta) % 256 AS g,
        |    ((ca + cb) * x * x + cc * y * y + 5 * x + 11 * y
        |      + 3 * base + delta) % 256 AS b
        |  FROM ids, unnest(range(0, 16)) tx(x), unnest(range(0, 16)) ty(y)),
        |boxes AS (
        |  SELECT id, CAST(x // 2 AS INT) AS ox, CAST(y // 2 AS INT) AS oy,
        |    CAST(sum(r) // 4 AS BIGINT) AS r2,
        |    CAST(sum(g) // 4 AS BIGINT) AS g2,
        |    CAST(sum(b) // 4 AS BIGINT) AS b2
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT id AS event_id, CAST(822 AS BIGINT) AS byte_len,
        |  CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
        |  CAST(sum(r2) AS BIGINT) AS sum_r2,
        |  CAST(sum(g2) AS BIGINT) AS sum_g2,
        |  CAST(sum(b2) AS BIGINT) AS sum_b2,
        |  CAST(sum((r2 + g2 + b2) * (1 + ox + 8 * oy)) AS BIGINT) AS wsum,
        |  TRUE AS ok
        |FROM boxes GROUP BY id ORDER BY event_id""".stripMargin)),

    // mm17: REAL audio downsampling — decimation by 4 with a box
    // anti-alias (each output sample = floor mean of 4 consecutive
    // channel-0 frames), the 44.1k->16k-style preprocessing step, in
    // exact integer arithmetic over real WAV decode. The 1+o
    // position weight in the checksum catches a phase-shifted or
    // reversed decimation that bare sums cannot. The audio analog of
    // mm16's resize.
    QueryDef("mm17_audio_resample",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 200)
        val blobs = ids.map { id =>
          val rate = (8000 + (id % 5) * 4000).toInt
          val ch = (1 + id % 2).toInt
          val frames = 200 + id % 100
          (id, graft.extras.Multimodal.AudioBytes.wavPcm(rate, ch, frames, id))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal
          .decodeWavResampled(blobs, "blob", "event_id", factor = 4)
          .orderBy("event_id")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 8000 + (event_id % 5) * 4000 AS rate,
        |    1 + event_id % 2 AS ch, 200 + event_id % 100 AS frames
        |  FROM events WHERE event_id < 200),
        |smp AS (
        |  SELECT id, o,
        |    CAST(sum(((7 * ((o * 4 + k) * ch) + 3 * id) % 4096) - 2048)
        |      // 4 AS BIGINT) AS v
        |  FROM ids, unnest(range(0, frames // 4)) t(o),
        |    unnest(range(0, 4)) u(k)
        |  GROUP BY id, o)
        |SELECT id AS event_id,
        |  CAST(56 + frames * ch * 2 AS BIGINT) AS byte_len,
        |  CAST(rate AS INT) AS in_rate, CAST(rate // 4 AS INT) AS out_rate,
        |  CAST(frames // 4 AS BIGINT) AS out_frames,
        |  CAST(sum(v) AS BIGINT) AS sum2,
        |  CAST(sum(v * v) AS BIGINT) AS sumsq2,
        |  CAST(sum(v * (1 + o)) AS BIGINT) AS wsum,
        |  TRUE AS ok
        |FROM ids JOIN smp USING (id)
        |GROUP BY id, rate, ch, frames ORDER BY event_id""".stripMargin)),

    // Quantization-error audit: per-vector reconstruction MSE for the
    // two compression levels the ANN family actually ships (int8
    // max-abs scaling — ann_int8_topk's exact scheme — and the 1-bit
    // sign + mean-magnitude code behind binary signatures). This is
    // the "how much quality does each byte buy" table read before
    // picking an index encoding at 100 TB. Same parity discipline as
    // every vector op: sequential double folds in identical order on
    // both engines, 6-decimal rounding at the edge.
    QueryDef("emb_quantize_error",
      (s, d) => embQuantizeStats(s, d),
      Some("""SELECT vec_id, dim, round(mx, 6) AS mx,
        |  round(list_reduce(list_transform(embedding, x ->
        |    (CAST(x AS DOUBLE)
        |      - floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5) * mx / 127.0)
        |    * (CAST(x AS DOUBLE)
        |      - floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5) * mx / 127.0)),
        |    (a, b) -> a + b) / dim, 6) AS mse_int8,
        |  round(list_reduce(list_transform(embedding, x ->
        |    (CAST(x AS DOUBLE)
        |      - CASE WHEN CAST(x AS DOUBLE) >= 0
        |          THEN mean_abs ELSE -mean_abs END)
        |    * (CAST(x AS DOUBLE)
        |      - CASE WHEN CAST(x AS DOUBLE) >= 0
        |          THEN mean_abs ELSE -mean_abs END)),
        |    (a, b) -> a + b) / dim, 6) AS mse_sign
        |FROM (
        |  SELECT vec_id, embedding,
        |    CAST(len(embedding) AS BIGINT) AS dim,
        |    greatest(list_reduce(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b)), 1e-30)
        |      AS mx,
        |    list_reduce(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), (a, b) -> a + b)
        |      / CAST(len(embedding) AS BIGINT) AS mean_abs
        |  FROM embeddings)
        |ORDER BY vec_id""".stripMargin)),

    // Packing-efficiency audit: per language, how many 2048-token
    // packs the span packer needs, the utilization of those packs
    // (waste = only the final partial pack), and how many documents
    // straddle a pack boundary (the rows whole-doc packing either
    // overflows or pads away — the count that justifies paying for
    // span splitting). Pure integer arithmetic over the same bounded
    // two-level prefix sum the packers share.
    QueryDef("stats_pack_efficiency",
      (s, d) => {
        val perDoc = docs(s, d).select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
        // the packers' shared bucketed two-level prefix sum — window
        // partitions stay bounded no matter how large one language is
        PipelineOps.withStartTok(perDoc)
          .withColumn("crosses",
            when(expr("start_tok DIV 2048") =!=
              expr("(start_tok + n_tokens - 1) DIV 2048"), 1L).otherwise(0L))
          .groupBy("lang")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum("n_tokens").cast(LongType).as("total_tokens"),
            sum("crosses").cast(LongType).as("boundary_docs"))
          .withColumn("n_packs",
            expr("CAST((total_tokens + 2047) DIV 2048 AS BIGINT)"))
          .withColumn("waste_tokens",
            col("n_packs") * 2048L - col("total_tokens"))
          .withColumn("util",
            round(col("total_tokens").cast(DoubleType)
              / (col("n_packs") * 2048L), 6))
          .select("lang", "n_docs", "total_tokens", "n_packs",
            "boundary_docs", "waste_tokens", "util")
          .orderBy("lang")
      },
      Some("""WITH per_doc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |pref AS (
        |  SELECT doc_id, lang, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start_tok
        |  FROM per_doc),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    CAST(sum(CASE WHEN start_tok // 2048
        |      <> (start_tok + n_tokens - 1) // 2048 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS boundary_docs
        |  FROM pref GROUP BY lang)
        |SELECT lang, n_docs, total_tokens,
        |  CAST((total_tokens + 2047) // 2048 AS BIGINT) AS n_packs,
        |  boundary_docs,
        |  CAST((total_tokens + 2047) // 2048 * 2048 - total_tokens AS BIGINT)
        |    AS waste_tokens,
        |  round(CAST(total_tokens AS DOUBLE)
        |    / ((total_tokens + 2047) // 2048 * 2048), 6) AS util
        |FROM agg ORDER BY lang""".stripMargin)),

    // mm13: AUDIO near-dup dedup — a Haitsma–Kalker-style sign-bit
    // fingerprint (|c_k| > |c_k+1| over the clip's WHT coefficients)
    // from REAL WAV decode, blocked and verified exactly like mm12.
    // The invariance is EXACT, not approximate: an integer volume
    // regrade (gain 2/4/8 — the audio analog of the brightness
    // regrade) multiplies every coefficient by the same factor and
    // flips no comparison, so intra-cluster Hamming is exactly 0 and
    // the match threshold is exact equality (the Shazam-style exact
    // sub-fingerprint lookup), while different source patterns (a
    // per-pattern sawtooth step => different wrap counts => different
    // spectra) differ by >=1 bit, 40/160 distinct signatures. The
    // audio member of the near-dup matrix beside text
    // (minhash/simhash), embeddings (cosine-LSH), images (mm12), and
    // video (mm14).
    QueryDef("mm13_audio_fingerprint",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 160)
        val blobs = ids.map { id =>
          val pid = id % 40
          val gain = 1 << (id / 40).toInt
          val ch = (1 + pid % 2).toInt
          (id, graft.extras.Multimodal.AudioBytes
            .wavPcmScaled(8000, ch, 200 + pid % 50, pid, gain,
              step = 61 + 13 * pid))
        }.toDF("event_id", "blob")
        val sigs = graft.extras.Multimodal
          .decodeWavFingerprint(blobs, "blob", "event_id")
          .where(col("ok"))
          .select(col("event_id").as("id"), col("sig").as("hash"))
          .localCheckpoint()
        fingerprintPairs(sigs)
          .where(col("hamming") === 0)
          .select("id_a", "id_b", "hamming")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, event_id % 40 AS pid,
        |    CASE event_id // 40 WHEN 0 THEN 1 WHEN 1 THEN 2
        |      WHEN 2 THEN 4 ELSE 8 END AS gain,
        |    1 + (event_id % 40) % 2 AS ch,
        |    61 + 13 * (event_id % 40) AS step
        |  FROM events WHERE event_id < 160),
        |smp AS (
        |  SELECT id, j,
        |    gain * (((step * (j * ch) + 3 * pid) % 4096) - 2048) AS v
        |  FROM ids, unnest(range(0, 64)) t(j)),
        |$wht,
        |sigs AS (
        |  SELECT a.id,
        |    CAST(sum(CASE WHEN abs(a.c) > abs(b.c)
        |      THEN CAST(1 AS BIGINT) << a.k ELSE 0 END) AS BIGINT) AS sig
        |  FROM coef a JOIN coef b ON b.id = a.id AND b.k = a.k + 1
        |  WHERE a.k < 63 GROUP BY a.id),
        |$fpTail
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |FROM cands
        |JOIN sigs sa ON sa.id = cands.id_a
        |JOIN sigs sb ON sb.id = cands.id_b
        |WHERE bit_count(xor(sa.sig, sb.sig)) = 0
        |ORDER BY id_a, id_b""".stripMargin
        .replace("$wht", whtCoefSql("smp", "coef"))
        .replace("$fpTail", fpBandCtesSql("sigs", "sig")))),

    // mm14: VIDEO near-dup dedup — per-sampled-frame dHash from REAL
    // AVI frame decode (frames 0,2,4 of 6, sampled inside the byte
    // walk), majority-voted into one clip signature, then the same
    // band-block + exact-Hamming discipline as mm12/mm13. The last
    // modality of the near-dup matrix. Fixture mirrors mm12's
    // quadratic clusters (structurally distinct clips, uniform
    // brightness regrades within a cluster) plus the (23f,29f,31f)
    // per-frame shifts the majority vote must absorb.
    QueryDef("mm14_video_phash",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 160)
        val blobs = ids.map { id =>
          val c = (id % 40).toInt; val k = (id / 40).toInt
          (id, graft.extras.Multimodal.VideoBytes2.aviQuad(16, 16,
            Mm14NFrames, 1 + c % 5, 1 + c % 7, c % 3, 11 * c, 2 * k))
        }.toDF("event_id", "blob")
        val hashes = graft.extras.Multimodal
          .decodeAviDHash(blobs, "blob", "event_id", sampleEvery = VidSampleEvery)
          .where(col("ok"))
          .select(col("event_id").as("id"), col("hash"))
          .localCheckpoint()
        fingerprintPairs(hashes)
          .where(col("hamming") <= 12)
          .select("id_a", "id_b", "hamming")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id,
        |    1 + (event_id % 40) % 5 AS ca, 1 + (event_id % 40) % 7 AS cb,
        |    (event_id % 40) % 3 AS cc, 11 * (event_id % 40) AS base,
        |    2 * (event_id // 40) AS delta
        |  FROM events WHERE event_id < 160),
        |px AS (
        |  SELECT id, f, x, y,
        |    (ca * x * x + cb * y * y + cc * x * y + 7 * x + 13 * y
        |      + base + delta + 23 * f) % 256 AS r,
        |    (cb * x * x + ca * y * y + cc * x * y + 3 * x + 5 * y
        |      + 2 * base + delta + 29 * f) % 256 AS g,
        |    ((ca + cb) * x * x + cc * y * y + 5 * x + 11 * y
        |      + 3 * base + delta + 31 * f) % 256 AS b
        |  FROM ids, unnest($vidframes) tf(f),
        |    unnest(range(0, 16)) tx(x), unnest(range(0, 16)) ty(y)),
        |$viddh,
        |maj AS (
        |  SELECT id, gy * 8 + gx AS k,
        |    CASE WHEN $vidmaj THEN 1 ELSE 0 END AS bit_v
        |  FROM bits GROUP BY id, gy * 8 + gx),
        |hashes AS (
        |  SELECT id, CAST(sum(CAST(bit_v AS BIGINT) << k) AS BIGINT) AS hash
        |  FROM maj GROUP BY id),
        |$fpTail
        |SELECT id_a, id_b,
        |  CAST(bit_count(xor(ha.hash, hb.hash)) AS BIGINT) AS hamming
        |FROM cands
        |JOIN hashes ha ON ha.id = cands.id_a
        |JOIN hashes hb ON hb.id = cands.id_b
        |WHERE bit_count(xor(ha.hash, hb.hash)) <= 12
        |ORDER BY id_a, id_b""".stripMargin
        .replace("$vidframes", vidFramesSql(Mm14NFrames))
        .replace("$vidmaj", vidMajSql(Mm14NFrames))
        .replace("$viddh", dhashBitsSql("px", "", frameKey = true, w = 16, h = 16))
        .replace("$fpTail", fpBandCtesSql("hashes", "hash"))))
  )
}
