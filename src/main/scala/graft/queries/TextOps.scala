package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline text operators over the `documents` table:
  * exact + fuzzy deduplication (md5 fingerprint, word-3-gram Jaccard,
  * MinHash+LSH banding, SimHash), language-ID heuristic, quality
  * scoring, token counting, normalized fingerprinting.
  *
  * The synthetic corpus has no natural duplicates, so dedup queries run
  * over a deterministically AUGMENTED corpus: base docs UNION exact
  * copies (doc_id%17==0, +1M ids) UNION near-copies with an appended
  * suffix (doc_id%13==0, +2M ids). Both engines build the same corpus,
  * so the oracle still verifies the dedup semantics end-to-end.
  *
  * Cross-engine determinism: md5 is the shared hash (identical hex in
  * Spark and DuckDB); MinHash uses lexicographic-min of seeded md5
  * (a uniform permutation), so signatures match bit-for-bit.
  */
object TextOps {

  // ---- shared Spark-side corpus helpers -----------------------------------

  /** Unfanned scan — union-of-branches builders (docsAug and friends)
    * derive every branch from this and fan out ONCE after the union;
    * fanning the shared reader instead plans one repartition exchange
    * per branch (measured +0.8 s on dedup_exact at sf0.1). */
  private[graft] def docsRaw(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  private[graft] def docs(s: SparkSession, d: String): DataFrame =
    QueryDef.fanOut(docsRaw(s, d))

  private[graft] def docsAug(s: SparkSession, d: String): DataFrame = {
    val base = docsRaw(s, d).select("doc_id", "text", "lang")
    val exact = base.where(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang"))
    val near = base.where(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" near duplicate suffix")).as("text"), col("lang"))
    QueryDef.fanOut(base.unionAll(exact).unionAll(near))
  }

  /** Space-free near-dup fixture: the docsAug pattern re-expressed in
    * a script WITHOUT word boundaries — every doc is `text` with all
    * spaces removed (one giant "token" per doc, the whitespace
    * tokenizer's worst case), near-dups append a CJK tail so the
    * multi-byte codepoint-slicing parity between engines is exercised
    * too. Word-3-gram shingling is structurally blind here (no doc
    * has 3 tokens); the char-5-gram fallback in [[shingles]] is what
    * makes dedup see. */
  private def docsSpaceless(s: SparkSession, d: String): DataFrame = {
    val base = docsRaw(s, d).where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), regexp_replace(col("text"), " ", "").as("text"))
    val near = base.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit("尾部追加的字")).as("text"))
    QueryDef.fanOut(base.unionAll(near))
  }

  /** DuckDB mirror of [[docsSpaceless]], NAMED `docs_aug` so the
    * shared [[ShinglesCte]] chain applies to it unchanged. */
  private val SpacelessCte =
    """docs_aug AS (
      |  SELECT doc_id, replace(text, ' ', '') AS text
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    replace(text, ' ', '') || '尾部追加的字'
      |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 3 = 0
      |)""".stripMargin

  /** A doc whose chars-per-whitespace-token average exceeds this is
    * treated as space-free script (CJK/Thai or pathological "words")
    * and shingled by characters instead of words. */
  private[graft] val SpaceFreeAvgTokLen = 20

  /** Distinct shingles per doc — the ONE tokenization rule of the
    * whole shingle-based dedup family (ngram-jaccard, prefix-filter,
    * minhash-LSH, containment, incremental index, HLL/estimator
    * audits): word 3-grams for spaced text, with a CHARACTER-5-GRAM
    * FALLBACK for docs whose whitespace tokenization is degenerate
    * (under 3 tokens, or average token length above
    * [[SpaceFreeAvgTokLen]] chars — a CJK corpus is one "token" per
    * doc). Without the fallback such docs produce an EMPTY shingle
    * set and every dedup is silently blind to them. 1-based indexing
    * mirrors the DuckDB formulation ([[ShinglesCte]] — keep the two
    * in lockstep); both engines slice strings by codepoint, so
    * multi-byte scripts hash identically across engines.
    */
  /** The adaptive shingle rule as a single ARRAY-valued Column over a
    * text column `t` and its pre-split token array `w` — shared by
    * the batch [[shingles]] (which explodes it) and the per-record
    * streaming minhash demo (which folds it into a signature without
    * exploding). Keep `w` in its own projection: referencing
    * `split(...)` directly inside the transform lambda re-evaluates
    * the split per element_at call (3x per shingle). */
  private[graft] def shingleArray(t: Column, w: Column): Column =
    array_distinct(
      when(size(w) >= 3 && length(t) <= lit(SpaceFreeAvgTokLen) * size(w),
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
                         element_at(w, i + 2))))
      .when(length(t) >= 5,
        transform(sequence(lit(1), length(t) - 4),
          i => t.substr(i, lit(5))))
      .otherwise(array().cast(ArrayType(StringType))))

  private[graft] def shingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        explode(shingleArray(col("text"), col("w"))).as("sh"))

  private[graft] def md5s(c: Column): Column = md5(c.cast(BinaryType))

  /** The text_quality token/stopword counters and keep rule as shared
    * Columns — ONE definition for the batch scorer (text_quality) and
    * the live heuristic gate (EngineDemos e2e_stream_gate_before_state), so
    * the two tiers can never disagree on what survives. The keep rule
    * takes the ROUNDED stop ratio, exactly as the batch query reports
    * it — gating on the displayed number, not a twin of it. */
  private[graft] def qualityTokStop(t: Column): (Column, Column) = {
    val w = split(t, " ")
    (size(w).cast(LongType),
      size(filter(w, x => x.isin("the", "a", "and", "of", "to")))
        .cast(LongType))
  }
  private[graft] def qualityKeepExpr(nTok: Column, stopRatio: Column): Column =
    nTok >= 20 && stopRatio < 0.5

  // ---- shared DuckDB CTE fragments ----------------------------------------

  private[queries] val DocsAugCte =
    """docs_aug AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' near duplicate suffix', lang
      |  FROM documents WHERE doc_id % 13 = 0
      |)""".stripMargin

  /** DuckDB mirror of [[shingles]] over an arbitrary `(doc_id, text)`
    * relation (identical word/char branch rule; DuckDB `range` is
    * end-exclusive where Spark `sequence` is inclusive, hence the
    * off-by-one bounds). EVERY oracle whose Spark side calls
    * [[shingles]] must derive its SQL shingles through this — an
    * inline word-3-gram re-derivation would silently drift from the
    * char-fallback branch the moment a corpus doc triggers it. */
  private[queries] def shinglesSqlOver(src: String): String =
    s"""SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(w) >= 3 AND length(text) <= $SpaceFreeAvgTokLen * len(w)
      |      THEN list_transform(range(1, len(w) - 1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |      WHEN length(text) >= 5
      |      THEN list_transform(range(1, length(text) - 3),
      |        i -> substr(text, i, 5))
      |      ELSE []::VARCHAR[] END)) AS sh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM $src)"""
      .stripMargin

  private[queries] val ShinglesCte =
    s"""shingles AS (
      |  ${shinglesSqlOver("docs_aug")}
      |)""".stripMargin

  private[queries] val ShingleCountsCte =
    """sh_counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
      |  FROM shingles GROUP BY doc_id)""".stripMargin

  /** Exact-Jaccard verification over candidate pairs (a < b). */
  private val JaccardSelect =
    """SELECT c.doc_a, c.doc_b,
      |  round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) AS jaccard
      |FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(count(*) AS BIGINT) AS common
      |      FROM shingles a JOIN shingles b
      |        ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2) c
      |JOIN sh_counts na ON na.doc_id = c.doc_a
      |JOIN sh_counts nb ON nb.doc_id = c.doc_b""".stripMargin

  /** MinHash -> LSH bands -> capped band buckets -> candidate pairs ->
    * exact-jaccard verification, as one reusable CTE chain ending in
    * `verified(doc_a, doc_b, jaccard)`. Shared by dedup_minhash_lsh
    * and the clustering op built on its pairs (PipelineOps
    * dedup_cluster_cc), so the two oracles can never drift.
    */
  // lazy: references BandBucketCap, which is defined further down the
  // object body — an eager val here would read 0 at init order

  /** Signature + banding + capped candidate generation, ending in
    * `cands(doc_a, doc_b)` and exposing `minh(doc_id, h0..h15)` — the
    * prefix shared by the verified-pairs chain below and the
    * estimator-calibration audit (CorpusOps dedup_minhash_eval).
    */
  private[queries] lazy val MinhashCandsCtes: String = {
    val minCols = (0 until 16)
      .map(i => s"min(substr(md5('${i / 4}:' || sh), ${1 + 8 * (i % 4)}, 8)) AS h$i")
      .mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, md5(h${4*b} || '|' || h${4*b+1} || '|' || h${4*b+2} || '|' || h${4*b+3}) AS band_key FROM minh")
      .mkString("\n  UNION ALL\n  ")
    s"""minh AS (SELECT doc_id, $minCols FROM shingles GROUP BY doc_id),
    |bands AS (
    |  $bandRows),
    |bsizes AS (
    |  SELECT band, band_key FROM bands
    |  GROUP BY band, band_key HAVING count(*) <= $BandBucketCap),
    |bands_c AS (
    |  SELECT bands.* FROM bands JOIN bsizes USING (band, band_key)),
    |cands AS (
    |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    |  FROM bands_c a JOIN bands_c b
    |    ON a.band = b.band AND a.band_key = b.band_key
    |   AND a.doc_id < b.doc_id)""".stripMargin
  }

  private[queries] lazy val MinhashVerifiedCtes: String = {
    s"""$MinhashCandsCtes,
    |verified AS (
    |  SELECT c.doc_a, c.doc_b,
    |    round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) AS jaccard
    |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    |          CAST(count(*) AS BIGINT) AS common
    |        FROM shingles a JOIN shingles b
    |          ON a.sh = b.sh AND a.doc_id < b.doc_id
    |        GROUP BY 1, 2) c
    |  JOIN sh_counts na ON na.doc_id = c.doc_a
    |  JOIN sh_counts nb ON nb.doc_id = c.doc_b
    |  JOIN cands ON cands.doc_a = c.doc_a AND cands.doc_b = c.doc_b)""".stripMargin
  }

  /** MinHash signature + LSH banding: 16 seeded-md5 min-hashes as 16
    * aggregate COLUMNS of one groupBy (map-side partial agg — the
    * shuffle carries one 16-hash row per doc, not 16x shingle rows),
    * then 4 bands x 4 rows exploded to (doc_id, band, band_key).
    */
  /** Per-doc 16-hash MinHash signature (doc_id, h0..h15) — the
    * banding below and the estimator-calibration audit
    * (CorpusOps dedup_minhash_eval) share it, so the signature
    * definition exists exactly once.
    */
  private[graft] def minhashSig(sh: DataFrame): DataFrame = {
    // 4 md5s per shingle, 4 independent 8-hex-char sub-hashes each
    // -> 16 min-hash functions at 1/4 the digest cost
    val withH = sh.select(Seq(col("doc_id"), col("sh")) ++
      (0 until 4).map(a =>
        md5s(concat(lit(s"$a:"), col("sh"))).as(s"m$a")): _*)
    val minAggs = (0 until 16).map { i =>
      val (a, k) = (i / 4, i % 4)
      min(substring(col(s"m$a"), 1 + 8 * k, 8)).as(s"h$i")
    }
    withH.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
  }

  private[graft] def minhashBands(sh: DataFrame): DataFrame =
    bandsOfSig(minhashSig(sh))

  /** 4 bands x 4 hashes exploded to (doc_id, band, band_key) from a
    * precomputed signature — split out so a caller that also needs
    * the raw signature (dedup_minhash_eval) aggregates it once.
    */
  private[graft] def bandsOfSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band"),
        md5s(concat_ws("|", (0 until 4).map(j => col(s"h${4 * b + j}")): _*))
          .as("band_key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))

  /** Exact jaccard restricted to given candidate pairs: explode each
    * pair's A-side shingles, match them against the B-side by (doc, sh)
    * — |cands| x avg-shingles rows, never the full self-join.
    */
  private[graft] def jaccardFor(cands: DataFrame, sh: DataFrame,
                                counts0: Option[DataFrame] = None): DataFrame = {
    // counts0: caller-supplied (doc_id, n_sh) when it already computed
    // the per-doc sizes (prefixFilteredJaccard) — saves re-aggregating
    // the shingle table
    val counts = counts0.getOrElse(
      sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh")))
    val aSh = cands.join(sh.toDF("doc_a", "sh"), "doc_a")
    val common = aSh.join(sh.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(counts.toDF("doc_a", "na"), "doc_a")
      .join(counts.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard",
        round(col("common").cast(DoubleType) / (col("na") + col("nb") - col("common")), 6))
  }

  /** LSH band-bucket size cap: a degenerate bucket (boilerplate text
    * that collides entire clusters into one band key) would blow the
    * candidate join quadratically — Σ bucket² with one bucket of 10^6
    * docs is 10^12 pairs. Buckets over the cap are dropped from
    * candidate generation (their members are exact-or-near boilerplate
    * better handled by dedup_exact / dedup_simhash; the standard
    * production mitigation).
    */
  val BandBucketCap = 64L

  /** Candidate pairs from band buckets, skipping buckets above `cap`.
    *
    * Shape: ONE groupBy collects each bucket's member list (bounded at
    * `cap` elements, so a list row is tiny), over-cap buckets are
    * dropped by a size filter, and ordered pairs explode from the
    * sorted list — replacing the former sizes-agg + join + self-join
    * chain (A/B at sf0.1, probe in c4420b2: minhash 2.0 s vs 2.7 s
    * median). Every bucket still contributes ≤ cap² pairs.
    */
  def cappedCandidates(bands: DataFrame, cap: Long): DataFrame =
    bands.groupBy("band", "band_key")
      .agg(sort_array(collect_list("doc_id")).as("ds"))
      .where(size(col("ds")).between(2, cap))
      .select(explode(flatten(
        transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))),
            y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()

  /** Spark-side exact jaccard over all shingle-sharing pairs.
    *
    * Shape: ONE shuffle (groupBy sh) collecting each shingle's sorted
    * doc list, then ordered-pair explosion. O(Σ df²) in pair volume —
    * the exactness baseline that wins at benign df distributions
    * (fewest passes over the shingle table); prefixFilteredJaccard is
    * the same exact result under heavy-tailed df.
    */
  private[queries] def jaccardPairs(sh: DataFrame): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val grouped = sh.groupBy("sh").agg(sort_array(collect_list("doc_id")).as("ds"))
      .where(size(col("ds")) >= 2)
    // ds is sorted ascending, so pairing ds[i] with ds[i+1..] yields
    // exactly the doc_a < doc_b pairs
    val pairs = grouped.select(explode(flatten(
      transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(counts.toDF("doc_a", "na"), "doc_a")
      .join(counts.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard",
        round(col("common").cast(DoubleType) / (col("na") + col("nb") - col("common")), 6))
  }

  /** EXACT jaccard-threshold pairs via prefix filtering (the PPJoin
    * family, Xiao et al.) — all pairs with J >= t, zero false
    * negatives, WITHOUT the O(Σ df²) all-shingles pair explosion:
    *
    * Order every doc's shingles by a global canonical order (document
    * frequency ascending, interned-hash tiebreak — rarest first).
    * For threshold t, two docs with J >= t MUST share a shingle
    * within each one's first |d| - ceil(t·|d|) + 1 shingles of that
    * order, so candidates only form on PREFIX shingles; a
    * least/greatest size-ratio filter (min >= ceil(t·max)) prunes
    * further, and survivors get exact verification over their full
    * shingle sets. The rare-first order is what makes this scale: a
    * degenerate boilerplate shingle has huge df, lands at the END of
    * every doc's order, and never enters a prefix — precisely the
    * shingle that used to explode df² pairs. The DuckDB oracle stays
    * the brute-force all-pairs formulation, so any prefix-filtering
    * bug (order tie, off-by-one in the prefix bound) loses a pair and
    * hash-mismatches.
    */
  /** Per-doc xxhash64 shingle sets (doc_id, hs, n), checkpointed —
    * the interned working table of [[prefixFilteredJaccard]]:
    * four consumers (df pass, prefix build, both verification
    * sides). collect_set dedupes in-doc hash collisions so the set
    * view stays consistent (n, positions, intersection). */
  private[graft] def internedDocSets(sh0: DataFrame): DataFrame =
    sh0.select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .groupBy("doc_id").agg(collect_set("h").as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast(LongType).as("n"))
      .localCheckpoint()

  /** The entire INTERNED stage of [[prefixFilteredJaccard]] — df
    * pass, canonical-order prefix, PPJoin candidate filters, hashed
    * set-intersection gate — as one un-checkpointed plan over
    * [[internedDocSets]] output (factored out so plan dumps and tests
    * can see the pipeline the final checkpoint otherwise hides).
    * Returns the (doc_a, doc_b) pairs whose HASHED jaccard clears
    * t - 1e-6: a superset of the exact answer modulo in-pair hash
    * collisions (argument in [[prefixFilteredJaccard]]). */
  private[graft] def hashedSurvivorPairs(docSets: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docSets.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df").asc, col("h").asc)
    // ⌈n·t⌉ via an epsilon-guarded ceil: IEEE multiply can land just
    // ABOVE an exact integer (20·0.55 is fine but 100·0.55 =
    // 55.00000000000001 → ceil 56), which would shorten the prefix
    // below the theorem's bound and SILENTLY lose true pairs — the
    // exact false-negative class this filter promises not to have
    // (caught by PrefixFilterPropSpec). Undershoot from the epsilon
    // merely lengthens a prefix by one: extra candidates, never a
    // lost pair.
    val prefix = sh.join(dfreq, "h")
      .withColumn("pos", row_number().over(wDoc))
      .where(col("pos") <= col("n") - ceil(col("n") * t - lit(1e-9)) + lit(1L))
      .select("h", "doc_id", "n", "pos")
    // grouped-pairs over prefix shingles only; struct sorts by doc_id
    // (first field), so i<j pairing yields doc_a < doc_b exactly once
    // per shared prefix shingle. Each generating match carries BOTH
    // canonical positions for the POSITIONAL filter below (PPJoin,
    // Xiao et al.): for a shared shingle at positions (pa, pb), order
    // consistency bounds the overlap by
    //   O <= min(pa, pb) + min(na - pa, nb - pb)
    // (shared elements before it <= min(pa,pb)-1, itself, shared after
    // <= min of the suffix lengths), while J >= t forces
    //   O >= alpha = ceil(t/(1+t) * (na+nb))
    // — so a generating occurrence whose bound falls below alpha is
    // dropped BEFORE the pair-dedup shuffle (map-side, per-row; a pair
    // survives if any of its occurrences passes). Exact: for a true
    // pair every occurrence's bound >= O >= alpha, so no true pair is
    // lost (the epsilon undershoot on alpha only weakens the prune).
    // r22 measurement: at sf0.1 the bare prefix+size filter passed
    // 240,269 candidate pairs (~all pairs — synthetic docs share
    // prefix vocabulary); the positional filter is what makes the
    // verification join's volume scale with true similarity, not with
    // vocabulary overlap.
    val alpha = ceil((lit(t) / (1 + t)) * (col("na0") + col("nb0")) - lit(1e-9))
    val cands = prefix.groupBy("h")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("n"), col("pos")))).as("ds"))
      .where(size(col("ds")) >= 2)
      .select(explode(flatten(
        transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))),
            y => struct(x.getField("doc_id").as("doc_a"), x.getField("n").as("na0"),
              x.getField("pos").as("pa"),
              y.getField("doc_id").as("doc_b"), y.getField("n").as("nb0"),
              y.getField("pos").as("pb")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.na0"), col("p.nb0"),
        col("p.pa"), col("p.pb"))
      .where(least(col("na0"), col("nb0")) >=
        ceil(greatest(col("na0"), col("nb0")) * t - lit(1e-9)))
      .where(least(col("pa"), col("pb")) +
        least(col("na0") - col("pa"), col("nb0") - col("pb")) >= alpha)
      // asymmetric INDEX-prefix filter (PPJoin's mid-prefix): for a
      // true pair, its first shared element e1 (rarest in canonical
      // order) has at most O-1 shared elements after it in either
      // doc, so pos(e1) <= n - O + 1 <= n - alpha + 1; for the
      // SMALLER doc, na+nb >= 2·n_small gives alpha >=
      // ceil(2t/(1+t)·n_small), i.e. e1 sits within the smaller
      // side's SHORT prefix n - ceil(2t/(1+t)·n) + 1 (~0.25n at
      // t=0.6 vs the 0.4n full prefix). e1 is itself a generating
      // occurrence (it is in both full prefixes) and satisfies the
      // positional bound, so keeping any occurrence whose
      // smaller-doc position clears the short bound loses no true
      // pair; the same epsilon guard keeps ceil overshoot from
      // shortening the bound below the theorem's.
      .where(when(col("na0") <= col("nb0"),
          col("pa") <= col("na0") -
            ceil(col("na0") * (2 * t / (1 + t)) - lit(1e-9)) + lit(1L))
        .otherwise(
          col("pb") <= col("nb0") -
            ceil(col("nb0") * (2 * t / (1 + t)) - lit(1e-9)) + lit(1L)))
      .select("doc_a", "doc_b").distinct()
    // hashed verification by set intersection: attach each side's
    // interned set and count |H(A)∩H(B)| with array_intersect — a
    // map-side pass over the candidate pairs instead of exploding
    // every candidate against its full shingle set and re-shuffling
    // the (doc, shingle) rows (r22 A/B at sf0.1: the exploded
    // verification was ~59M join rows / 3.5 s for 235k candidates;
    // the set intersection is two doc-keyed joins + a codegen'd
    // per-pair long-hash-set probe). The gate runs at t - 1e-6 on the
    // UNROUNDED hashed jaccard: round-to-6 HALF_UP in the final exact
    // filter can promote a value up to 5e-7 below t, so the hashed
    // superset must reach that far down to cover it.
    cands
      .join(docSets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n").as("na")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("hs").as("hbs"),
        col("n").as("nb")), "doc_b")
      .withColumn("ch",
        size(array_intersect(col("ha"), col("hbs"))).cast(LongType))
      .where(col("ch").cast(DoubleType) / (col("na") + col("nb") - col("ch")) >=
        t - 1e-6)
      .select("doc_a", "doc_b")
  }

  private[queries] def prefixFilteredJaccard(sh0: DataFrame, t: Double): DataFrame = {
    // Shingles interned to xxhash64 LONGS at the scan (r22, guide §2.3
    // "shuffle keys and metadata instead of payloads"): the
    // document-frequency pass, the canonical-order window, candidate
    // generation and the hashed verification all carry an 8-byte
    // primitive where they carried strings (longs also keep
    // array_intersect on its hash-set fast path — BinaryType md5
    // digests fall into its O(n²) ordering-equality path, measured
    // 42 s here). EXACTNESS IS UNCONDITIONAL: the hash stages only
    // produce a CANDIDATE superset, and every survivor is re-verified
    // against the raw shingle strings below, so a cross-doc collision
    // can never emit a false pair. The one residual risk is a lost
    // pair, which needs two distinct shingles of the SAME true pair's
    // union to collide (P <= (na+nb)²/2^65 per pair — on bounded docs,
    // ~10^-10 even at na+nb = 10^5); the PPJoin bound itself holds for
    // the hash SETS exactly (any injective renaming of set elements
    // preserves sizes, overlaps, and admits the (df, h) canonical
    // order). The brute-force string-level DuckDB oracle hash-verifies
    // the output at every tested SF.
    val docSets = internedDocSets(sh0)
    val hashPass = hashedSurvivorPairs(docSets, t)
      .localCheckpoint() // output-sized; read 4x below (pairs + both
                         // survivor-doc sides) — without it every
                         // consumer replays the whole hashed pipeline
    // exact re-verification on the RAW STRINGS, restricted to the
    // survivors' documents (a broadcast semi-join keeps this corpus
    // pass narrow: only survivor docs' shingles materialize). This is
    // what makes the result unconditional: common/na/nb and the
    // rounded jaccard in the output are computed from strings exactly
    // as the pre-r22 plan computed them.
    val survDocs = hashPass.select(col("doc_a").as("doc_id"))
      .union(hashPass.select(col("doc_b").as("doc_id"))).distinct()
    val shSurv = sh0.join(broadcast(survDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint() // survivor-doc shingles only; 3 consumers in
                         // jaccardFor (counts + both join sides)
    jaccardFor(hashPass, shSurv)
      .where(col("jaccard") >= t)
  }

  /** The ONE definition of the compressed-image pixel matrix (mm7
    * PNG, mm8 GIF — both lossless round-trips of the same arithmetic
    * pattern): fixture dims/pattern, the decode plan, and the
    * arithmetic oracle live here once, so a fix to the luma bucketing
    * or corner probe can never apply to one format and miss the
    * other. `byteFn` is the only per-format difference.
    */
  private def compressedPixelsQuery(
      name: String, byteFn: (Int, Int, Long) => Array[Byte]): QueryDef =
    QueryDef(name,
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 200)
        val blobs = ids.map { id =>
          val w = (5 + id % 4).toInt
          val h = (4 + id % 5).toInt
          (id, byteFn(w, h, id))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeImagePixels(blobs, "blob", "event_id")
          .drop("byte_len")
          .orderBy("event_id")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 5 + event_id % 4 AS w, 4 + event_id % 5 AS h
        |  FROM events WHERE event_id < 200),
        |px AS (
        |  SELECT id, w, h, x, y,
        |    (5 * x + 17 * y + 3 * id) % 256 AS r,
        |    (11 * x + 3 * y + 2 * id) % 256 AS g,
        |    (7 * x + 13 * y + id) % 256 AS b
        |  FROM ids, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)),
        |agg AS (
        |  SELECT id, w, h,
        |    CAST(sum(r) AS BIGINT) AS sum_r,
        |    CAST(sum(g) AS BIGINT) AS sum_g,
        |    CAST(sum(b) AS BIGINT) AS sum_b,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma0,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma1,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma2,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma3
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT id AS event_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  sum_r, sum_g, sum_b, luma0, luma1, luma2, luma3,
        |  CAST((3 * id) % 256 AS INT) AS corner_r,
        |  TRUE AS ok
        |FROM agg ORDER BY event_id""".stripMargin))

  def defs: Seq[QueryDef] = Seq(

    // Exact dedup: md5 content hash, keep lowest doc_id per group.
    QueryDef("dedup_exact",
      (s, d) => {
        val fp = docsAug(s, d).select(col("doc_id"), md5s(col("text")).as("fp"))
        val keep = fp.groupBy("fp").agg(min("doc_id").as("keep_id"))
        fp.join(keep, "fp")
          .where(col("doc_id") =!= col("keep_id"))
          .select("doc_id", "keep_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH $DocsAugCte,
        |fp AS (SELECT doc_id, md5(text) AS f FROM docs_aug),
        |keep AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f)
        |SELECT fp.doc_id, keep.keep_id FROM fp JOIN keep ON fp.f = keep.f
        |WHERE fp.doc_id <> keep.keep_id ORDER BY fp.doc_id""".stripMargin)),

    // Line-level dedup (RefinedWeb/Gopher-style): cross-doc duplicated
    // LINES are removed while the doc survives — the complement of
    // doc-level (dedup_exact) and span-level (dedup_substring_spans)
    // dedup. The corpus has no newlines, so a "line" is a
    // deterministic 10-token segment; exact copies (+1M ids) share
    // every line, near-dup suffix variants (+2M ids) share every line
    // except their modified tail. Any line seen in >= 2 distinct docs
    // is dropped from ALL of them; each doc's retained text is
    // reassembled in line order and content-pinned by md5. Scale
    // shape: one shuffle on the line (the dedup decision), one on
    // doc_id (the reassembly) — line reassembly is a map-side
    // collect_list+sort within the doc group, never a global window.
    QueryDef("dedup_lines",
      (s, d) => {
        val lines = docsAug(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1), " +
              "i -> struct(CAST(i AS BIGINT) AS idx, " +
              "array_join(slice(w, i * 10 + 1, 10), ' ') AS line))")).as("ln"))
          .select(col("doc_id"), col("ln.idx").as("idx"), col("ln.line").as("line"))
        val dup = lines.groupBy("line")
          .agg(countDistinct("doc_id").as("df"))
          .where(col("df") >= 2)
          .select(col("line"), lit(true).as("isdup"))
        lines.join(dup, Seq("line"), "left")
          .withColumn("isdup", coalesce(col("isdup"), lit(false)))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).cast(LongType).as("n_lines"),
            sum(when(col("isdup"), 1L).otherwise(0L)).cast(LongType)
              .as("removed_lines"),
            expr("array_join(transform(filter(" +
              "array_sort(collect_list(struct(idx, line, isdup))), " +
              "x -> NOT x.isdup), x -> x.line), ' ')").as("residual"))
          .select(col("doc_id"), col("n_lines"), col("removed_lines"),
            length(col("residual")).cast(LongType).as("residual_len"),
            md5s(col("residual")).as("residual_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $DocsAugCte,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs_aug),
        |lines AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ') AS line
        |  FROM toks,
        |    unnest(range(0, CAST(ceil(len(w) / 10.0) AS INT))) t(i)),
        |dup AS (
        |  SELECT line FROM lines GROUP BY line
        |  HAVING count(DISTINCT doc_id) >= 2),
        |flagged AS (
        |  SELECT l.doc_id, l.idx, l.line, d.line IS NOT NULL AS isdup
        |  FROM lines l LEFT JOIN dup d USING (line))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS BIGINT)
        |    AS removed_lines,
        |  CAST(length(COALESCE(
        |    string_agg(line, ' ' ORDER BY idx) FILTER (WHERE NOT isdup),
        |    '')) AS BIGINT) AS residual_len,
        |  md5(COALESCE(
        |    string_agg(line, ' ' ORDER BY idx) FILTER (WHERE NOT isdup),
        |    '')) AS residual_md5
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Content-defined chunking dedup (LBFS/FastCDC family, word-level):
    // a chunk boundary falls AFTER word i when the rolling 4-word
    // window's md5 lands in a 1/8 hex slice — boundaries depend only
    // on LOCAL content, so an edit near the start of a near-duplicate
    // re-synchronizes within one window and every later chunk keeps
    // its identity. The fixed-grid companion (8-word blocks) is
    // computed from the SAME positions table: the output shows the
    // prepended near-dups (+3M ids, a 3-word prefix that misaligns
    // every fixed block) sharing almost all CDC chunks and ~zero
    // fixed chunks — the CDC property, measured, in the result. Both
    // engines hash identical windows (shared md5), so chunk ids match
    // bit-for-bit. Scale: positions explode once (gram-query volume);
    // the boundary cumsum is a per-doc window (doc-partitioned, never
    // global); chunk assembly and the duplicate decision are
    // key-partitioned aggregates on (doc, chunk) and chunk-hash — the
    // same shuffles a 100 TB chunk-store dedup pays, no pairwise join
    // anywhere.
    QueryDef("dedup_cdc_chunks",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = docsRaw(s, d).select(col("doc_id"), col("text"))
        val corpus = QueryDef.fanOut(base.unionAll(
          base.where(col("doc_id") % 13 === 0).select(
            (col("doc_id") + 3000000).as("doc_id"),
            concat(lit("shifted prefix token "), col("text")).as("text"))))
        val pos = corpus
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), size(col("w")).cast(LongType).as("n_words"),
            explode(expr(
              """transform(sequence(1, size(w)), i -> struct(
                |  CAST(i AS BIGINT) AS pos,
                |  w[i - 1] AS word,
                |  CASE WHEN i >= 4 AND substr(md5(CAST(
                |      concat_ws(' ', slice(w, i - 3, 4)) AS BINARY)), 1, 1)
                |      IN ('0', '1') THEN 1 ELSE 0 END AS bnd))"""
                .stripMargin)).as("p"))
          .select(col("doc_id"), col("n_words"), col("p.pos").as("pos"),
            col("p.word").as("word"), col("p.bnd").as("bnd"))
          .withColumn("cdc_id", coalesce(
            sum("bnd").over(Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("fix_id", expr("CAST((pos - 1) DIV 8 AS BIGINT)"))
          .localCheckpoint()
        def chunks(idCol: String) = pos
          .groupBy(col("doc_id"), col(idCol))
          .agg(expr("md5(CAST(array_join(transform(" +
            "array_sort(collect_list(struct(pos, word))), " +
            "x -> x.word), ' ') AS BINARY))").as("ch"))
          .localCheckpoint()
        def share(ch: DataFrame, n: String, sh: String) = {
          val dup = ch.groupBy("ch")
            .agg(countDistinct("doc_id").as("df"))
            .where(col("df") >= 2)
            .select(col("ch"), lit(true).as("isdup"))
          ch.join(dup, Seq("ch"), "left")
            .groupBy("doc_id")
            .agg(count(lit(1)).cast(LongType).as(n),
              sum(when(col("isdup"), 1L).otherwise(0L)).cast(LongType).as(sh))
        }
        val words = pos.groupBy("doc_id").agg(max("n_words").as("n_words"))
        words
          .join(share(chunks("cdc_id"), "n_cdc", "cdc_shared"), "doc_id")
          .join(share(chunks("fix_id"), "n_fixed", "fixed_shared"), "doc_id")
          .select("doc_id", "n_words", "n_cdc", "cdc_shared",
            "n_fixed", "fixed_shared")
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, 'shifted prefix token ' || text
        |  FROM documents WHERE doc_id % 13 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |pos AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(i AS BIGINT) AS pos, w[i] AS word,
        |    CASE WHEN i >= 4 AND substr(md5(
        |        array_to_string(w[i - 3 : i], ' ')), 1, 1) IN ('0', '1')
        |      THEN 1 ELSE 0 END AS bnd
        |  FROM tok, unnest(range(1, len(w) + 1)) t(i)),
        |cid AS (
        |  SELECT doc_id, n_words, pos, word,
        |    COALESCE(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cdc_id,
        |    (pos - 1) // 8 AS fix_id
        |  FROM pos),
        |cch AS (
        |  SELECT doc_id, cdc_id,
        |    md5(string_agg(word, ' ' ORDER BY pos)) AS ch
        |  FROM cid GROUP BY doc_id, cdc_id),
        |fch AS (
        |  SELECT doc_id, fix_id,
        |    md5(string_agg(word, ' ' ORDER BY pos)) AS ch
        |  FROM cid GROUP BY doc_id, fix_id),
        |cdup AS (SELECT ch FROM cch GROUP BY ch
        |         HAVING count(DISTINCT doc_id) >= 2),
        |fdup AS (SELECT ch FROM fch GROUP BY ch
        |         HAVING count(DISTINCT doc_id) >= 2),
        |cagg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cdc,
        |    CAST(sum(CASE WHEN d.ch IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cdc_shared
        |  FROM cch LEFT JOIN cdup d USING (ch) GROUP BY doc_id),
        |fagg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fixed,
        |    CAST(sum(CASE WHEN d.ch IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fixed_shared
        |  FROM fch LEFT JOIN fdup d USING (ch) GROUP BY doc_id),
        |words AS (SELECT doc_id, max(n_words) AS n_words
        |          FROM pos GROUP BY doc_id)
        |SELECT doc_id, n_words, n_cdc, cdc_shared, n_fixed, fixed_shared
        |FROM words JOIN cagg USING (doc_id) JOIN fagg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // CCNet-style per-SOURCE boilerplate removal: a line is boilerplate
    // when it appears in >= 30% of its source's documents (min 3) —
    // site headers/footers repeat within a domain, real content does
    // not. The synthetic corpus has no newlines, so both engines build
    // the same augmented corpus: half the docs get a source-specific
    // banner line, a fifth get a global footer line (per-source DF 20%
    // — deliberately UNDER the threshold, the negative case). Scale
    // shape: DF counting is a two-level aggregate keyed by
    // (source, line-hash) with map-side combine; the boiler set is
    // tiny (high-DF lines only) and broadcast back for the final
    // per-doc pass — no self-join of the line table.
    QueryDef("text_boilerplate_lines",
      (s, d) => {
        val aug = docs(s, d).select(col("doc_id"), col("source"),
          concat(
            when(col("doc_id") % 2 === 0,
              concat(lit("BEGIN "), col("source"), lit(" STANDARD HEADER\n")))
              .otherwise(lit("")),
            col("text"),
            when(col("doc_id") % 5 === 0, lit("\nGLOBAL FOOTER NOTICE"))
              .otherwise(lit(""))).as("text2"))
        val lines = aug.select(col("doc_id"), col("source"),
          posexplode(split(col("text2"), "\n")).as(Seq("idx", "line")))
        val srcDocs = aug.groupBy("source")
          .agg(countDistinct("doc_id").as("n_docs_src"))
        val lineDf = lines.groupBy("source", "line")
          .agg(countDistinct("doc_id").as("df"))
        val boiler = lineDf.join(srcDocs, "source")
          .where(col("df") >= 3 && col("df") * 10 >= col("n_docs_src") * 3)
          .select(col("source"), col("line"), lit(true).as("is_boiler"))
        lines.join(broadcast(boiler), Seq("source", "line"), "left")
          .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).cast(LongType).as("n_lines"),
            sum(when(col("is_boiler"), 1L).otherwise(0L)).cast(LongType)
              .as("n_boiler"),
            array_join(expr("transform(filter(" +
              "array_sort(collect_list(struct(idx, line, is_boiler))), " +
              "x -> NOT x.is_boiler), x -> x.line)"), "\n").as("residual"))
          .select(col("doc_id"), col("n_lines"), col("n_boiler"),
            length(col("residual")).cast(LongType).as("residual_len"),
            md5s(col("residual")).as("residual_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN 'BEGIN ' || source || ' STANDARD HEADER' || chr(10)
        |      ELSE '' END)
        |    || text ||
        |    (CASE WHEN doc_id % 5 = 0
        |      THEN chr(10) || 'GLOBAL FOOTER NOTICE' ELSE '' END) AS text2
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS idx, l[i] AS line
        |  FROM (SELECT doc_id, source, string_split(text2, chr(10)) AS l
        |        FROM aug),
        |    unnest(range(1, len(l) + 1)) t(i)),
        |srcdocs AS (
        |  SELECT source, count(DISTINCT doc_id) AS n_docs_src
        |  FROM aug GROUP BY source),
        |ldf AS (
        |  SELECT source, line, count(DISTINCT doc_id) AS df
        |  FROM lines GROUP BY 1, 2),
        |boiler AS (
        |  SELECT ldf.source, ldf.line FROM ldf JOIN srcdocs USING (source)
        |  WHERE ldf.df >= 3 AND ldf.df * 10 >= n_docs_src * 3),
        |flagged AS (
        |  SELECT l.doc_id, l.idx, l.line, b.line IS NOT NULL AS isb
        |  FROM lines l LEFT JOIN boiler b
        |    ON b.source = l.source AND b.line = l.line)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN isb THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(length(COALESCE(
        |    string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE NOT isb),
        |    '')) AS BIGINT) AS residual_len,
        |  md5(COALESCE(
        |    string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE NOT isb),
        |    '')) AS residual_md5
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Normalized document fingerprint (whitespace-collapse + lowercase).
    QueryDef("text_fingerprint",
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          md5s(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Token statistics (whitespace tokenizer).
    QueryDef("text_token_count",
      (s, d) => {
        val w = split(col("text"), " ")
        docs(s, d).select(col("doc_id"),
            size(w).cast(LongType).as("n_tokens"),
            size(array_distinct(w)).cast(LongType).as("n_distinct"),
            length(col("text")).cast(LongType).as("n_chars_measured"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  CAST(length(text) AS BIGINT) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Token statistics under a BPE-ish REGEX pre-tokenizer — the
    // GPT-2-family pattern shape (optionally-space-prefixed letter
    // runs | digit runs | punctuation runs), restricted to the
    // RE2-safe subset (no lookahead) so Java regex and DuckDB RE2
    // compute the IDENTICAL piece list. This is what a real token
    // budget is denominated in: `fertility_ppm` (pieces per
    // whitespace word, ppm) is the whitespace-to-BPE conversion
    // factor corpus planners apply, and punct_pieces exposes the
    // punctuation-heavy docs whose whitespace counts undercount
    // cost. Pure per-row expressions — no shuffle, scan parallelism
    // is the operator's parallelism.
    QueryDef("text_token_count_regex",
      (s, d) => {
        val pat = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
        val p = col("p")
        // own projection so the extraction exists once per row (the
        // shingles token-array rule); the remaining cost is the match
        // work itself — ~n_pieces regex matches per doc for the two
        // class counts, inherent to the audit
        docs(s, d).select(col("doc_id"), col("text"),
            expr(s"regexp_extract_all(text, '${pat.replace("\\", "\\\\")}', 0)")
              .as("p"))
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("n_words"),
            size(p).cast(LongType).as("n_pieces"),
            size(array_distinct(p)).cast(LongType).as("n_distinct_pieces"),
            size(filter(p, x => x.rlike("^ ?\\p{N}+$")))
              .cast(LongType).as("digit_pieces"),
            size(filter(p, x => x.rlike("^ ?[^\\s\\p{L}\\p{N}]+$")))
              .cast(LongType).as("punct_pieces"))
          .withColumn("fertility_ppm",
            expr("n_pieces * 1000000 div n_words").cast(LongType))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(p) AS BIGINT) AS n_pieces,
        |  CAST(len(list_distinct(p)) AS BIGINT) AS n_distinct_pieces,
        |  CAST(len(list_filter(p, x -> regexp_matches(x, '^ ?\p{N}+$')))
        |    AS BIGINT) AS digit_pieces,
        |  CAST(len(list_filter(p, x -> regexp_matches(x, '^ ?[^\s\p{L}\p{N}]+$')))
        |    AS BIGINT) AS punct_pieces,
        |  CAST(len(p) * 1000000 // len(string_split(text, ' ')) AS BIGINT)
        |    AS fertility_ppm
        |FROM (SELECT doc_id, text,
        |        regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')
        |          AS p
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // Quality scoring: stopword ratio, type-token ratio, mean token
    // length, and a keep/drop flag (rule shared with the live gate —
    // qualityTokStop/qualityKeepExpr exist exactly once).
    QueryDef("text_quality",
      (s, d) => {
        val (nTok, nStop) = qualityTokStop(col("text"))
        docs(s, d).select(col("doc_id"),
            nTok.as("n_tokens"),
            nStop.as("n_stop"),
            length(col("text")).cast(LongType).as("n_chars_m"))
          .withColumn("stop_ratio",
            round(col("n_stop").cast(DoubleType) / col("n_tokens"), 6))
          .withColumn("ttr_len",
            round((col("n_chars_m") - col("n_tokens") + 1).cast(DoubleType)
              / col("n_tokens"), 6))
          .withColumn("keep",
            qualityKeepExpr(col("n_tokens"), col("stop_ratio")))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_tokens, n_stop, n_chars_m,
        |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
        |  round(CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / n_tokens, 6) AS ttr_len,
        |  (n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5) AS keep
        |FROM (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(len(list_filter(string_split(text, ' '),
        |          x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS BIGINT) AS n_stop,
        |        CAST(length(text) AS BIGINT) AS n_chars_m
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic: marker-token votes with a fixed-priority
    // argmax tiebreak.
    QueryDef("text_lang_id",
      (s, d) => {
        val w = split(col("text"), " ")
        def score(markers: String*) =
          size(filter(w, x => x.isin(markers: _*))).cast(LongType)
        docs(s, d).select(col("doc_id"),
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
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, en_score, es_score, fr_score, de_score,
        |  CASE
        |    WHEN en_score >= es_score AND en_score >= fr_score
        |         AND en_score >= de_score AND en_score > 0 THEN 'en'
        |    WHEN es_score >= fr_score AND es_score >= de_score
        |         AND es_score > 0 THEN 'es'
        |    WHEN fr_score >= de_score AND fr_score > 0 THEN 'fr'
        |    WHEN de_score > 0 THEN 'de'
        |    ELSE 'unknown' END AS predicted
        |FROM (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the','and','a','of'))) AS BIGINT) AS en_score,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('el','la','de','que'))) AS BIGINT) AS es_score,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('le','les','et','un'))) AS BIGINT) AS fr_score,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('der','und','die','das'))) AS BIGINT) AS de_score
        |FROM documents) ORDER BY doc_id""".stripMargin)),

    // Character-level Shannon entropy per document — the standard
    // gibberish/spam signal (low entropy = repeated filler, high =
    // random noise; Gopher-style quality rules threshold on it).
    // Integer-exact cross-engine: each distinct character's
    // ln(dlen/c) freezes to fixed-point micros, multiplies by its
    // exact count, and the per-doc sum of those integers is
    // order-invariant; only the final bits conversion divides floats.
    // Scale shape: one explode + two hash aggregations, all map-side
    // combinable; per-doc distinct-char fanout is bounded by the
    // alphabet, so the shuffle carries O(docs × alphabet) rows.
    QueryDef("text_entropy",
      (s, d) => {
        val counts = docs(s, d)
          .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
          .where(length(col("ch")) === 1)
          .groupBy("doc_id", "ch")
          .agg(count(lit(1)).cast(LongType).as("c"))
        val dl = counts.groupBy("doc_id").agg(
          sum("c").cast(LongType).as("dlen"),
          count(lit(1)).cast(LongType).as("n_distinct"))
        counts.join(dl, "doc_id")
          .withColumn("tm", expr(
            "CAST(floor(ln(CAST(dlen AS DOUBLE) / c) * 1000000 + 0.5) AS BIGINT) * c"))
          .groupBy("doc_id", "dlen", "n_distinct")
          .agg(sum("tm").cast(LongType).as("tot_micros"))
          .withColumn("entropy_bits", round(
            col("tot_micros").cast(DoubleType) / col("dlen") / 1000000.0
              / math.log(2.0), 6))
          .select("doc_id", "dlen", "n_distinct", "entropy_bits")
          .orderBy("doc_id")
      },
      Some("""WITH counts AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |        FROM documents)
        |  WHERE length(ch) = 1 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dlen,
        |  CAST(count(*) AS BIGINT) AS n_distinct FROM counts GROUP BY 1),
        |terms AS (
        |  SELECT doc_id, dlen, n_distinct,
        |    CAST(floor(ln(CAST(dlen AS DOUBLE) / c) * 1000000 + 0.5) AS BIGINT)
        |      * c AS tm
        |  FROM counts JOIN dl USING (doc_id))
        |SELECT doc_id, dlen, n_distinct,
        |  round(CAST(sum(tm) AS DOUBLE) / dlen / 1000000.0 / ln(2), 6)
        |    AS entropy_bits
        |FROM terms GROUP BY doc_id, dlen, n_distinct
        |ORDER BY doc_id""".stripMargin)),

    // N-gram Jaccard near-dup pairs (exact, shingle-join candidates).
    QueryDef("dedup_ngram_jaccard",
      (s, d) => jaccardPairs(shingles(docsAug(s, d)))
        .where(col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $DocsAugCte, $ShinglesCte, $ShingleCountsCte
        |$JaccardSelect
        |WHERE round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // The char-5-gram fallback given teeth: near-dup pairs over a
    // SPACE-FREE corpus (docsSpaceless — every doc one giant token,
    // the shape a CJK/Thai crawl hands the whitespace tokenizer). The
    // word-3-gram path would return ZERO rows here; the fallback
    // finds every planted near-dup pair, and the DuckDB oracle
    // re-derives the same pairs through the shared ShinglesCte —
    // including multi-byte codepoint slicing parity. Candidates go
    // through the SAME minhash-LSH + capped-bucket chain as
    // dedup_minhash_lsh, NOT an all-pairs shingle join: char 5-grams
    // are low-entropy (at sf0.1 the hottest gram sits in 573 of 715
    // docs, sum(df^2) ~ 16M), so exact all-pairs is quadratic in
    // document frequency — measured 9.8 s vs ~3 s for the LSH chain
    // at sf0.1, and only the LSH shape survives 100 TB.
    QueryDef("dedup_charngram",
      (s, d) => {
        // checkpointed (unlike dedup_minhash_lsh, where recompute
        // wins): char shingles are ~6x the rows of word 3-grams per
        // doc and feed three consumers (signature + both jaccard
        // sides) — measured 40 -> 35 cpu-s at sf0.01, and the LSH
        // chain overall is 14.3 -> 5.0 s vs all-pairs at sf0.1
        val sh = shingles(docsSpaceless(s, d)).localCheckpoint()
        val bands = minhashBands(sh)
        val cands = cappedCandidates(bands, BandBucketCap)
        jaccardFor(cands, sh)
          .where(col("jaccard") >= 0.6)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $SpacelessCte, $ShinglesCte, $ShingleCountsCte,
        |$MinhashVerifiedCtes
        |SELECT doc_a, doc_b, jaccard FROM verified
        |WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin)),

    // Same EXACT result through prefix filtering — the heavy-tail
    // scale path beside the baseline above (the ann_bruteforce /
    // ann_ivf split applied to exact text dedup). Costs two more
    // passes over the shingle table (document frequencies + per-doc
    // canonical ranking), which only pays off when boilerplate
    // shingles would otherwise explode df² candidate pairs — the
    // oracle is the SAME brute-force SQL, so the zero-false-negative
    // guarantee of the prefix bound is hash-verified, not assumed.
    QueryDef("dedup_ngram_prefix",
      (s, d) => prefixFilteredJaccard(shingles(docsAug(s, d)), 0.6)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $DocsAugCte, $ShinglesCte, $ShingleCountsCte
        |$JaccardSelect
        |WHERE round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // MinHash + LSH banding: 16 seeded-md5 min-hashes, 4 bands x 4 rows;
    // bucket-join candidates, then exact-Jaccard verification >= 0.5.
    // One-pass signature: the 16 minima are 16 aggregate COLUMNS of a
    // single groupBy (map-side partial aggregation collapses the
    // shingle rows before any shuffle — at 100 TB the shuffle carries
    // one 16-hash row per doc, not 16x shingle rows).
    QueryDef("dedup_minhash_lsh",
      (s, d) => {
        // NOT cached: A/B at sf0.1 (probe in c4420b2) shows the
        // recomputed, fully-pipelined shingle stream beating .cache()
        // by ~25% cold — materializing shingles breaks whole-stage
        // codegen and costs more than the recompute
        val sh = shingles(docsAug(s, d))
        val bands = minhashBands(sh)
        val cands = cappedCandidates(bands, BandBucketCap)
        jaccardFor(cands, sh)
          .where(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $DocsAugCte, $ShinglesCte, $ShingleCountsCte,
        |$MinhashVerifiedCtes
        |SELECT doc_a, doc_b, jaccard FROM verified
        |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    // SimHash 32-bit fingerprint from shingle md5 hex-digit high bits.
    // One-pass: 32 vote counters as aggregate columns (map-side partial
    // agg; no per-bit row explosion).
    QueryDef("dedup_simhash",
      (s, d) => {
        // bit j = high bit (value 8) of hex digit j of md5(sh). Four
        // conv() calls over 8-hex-char chunks put 8 nibbles in each
        // Long; vote j masks its nibble's high bit — fewer expressions
        // than 32 substring+isin branches, so single-shot codegen
        // compiles less code (A/B probe in c4420b2: 0.39 s vs 0.43 s)
        val sh = shingles(docsAug(s, d)).withColumn("h", md5s(col("sh")))
        val chunks = (0 until 4).map(c =>
          conv(substring(col("h"), 1 + 8 * c, 8), 16, 10).cast(LongType).as(s"c$c"))
        val withC = sh.select(Seq(col("doc_id")) ++ chunks: _*)
        val voteAggs = (1 to 32).map { j =>
          val c = (j - 1) / 8   // which 8-hex chunk
          val pos = (j - 1) % 8 // nibble within the chunk, MSB first
          sum(when(col(s"c$c").bitwiseAND(lit(8L << (4 * (7 - pos)))) =!= 0L, 1L)
            .otherwise(-1L)).as(s"b$j")
        }
        withC.groupBy("doc_id").agg(voteAggs.head, voteAggs.tail: _*)
          .select(col("doc_id"),
            (1 to 32).map(j =>
              when(col(s"b$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
              .reduce(_ + _).cast(LongType).as("simhash"))
          .orderBy("doc_id")
      },
      Some {
        val votes = (1 to 32).map(j =>
          s"sum(CASE WHEN substr(md5(sh),$j,1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j")
          .mkString(", ")
        val recombine = (1 to 32).map(j =>
          s"(CASE WHEN b$j > 0 THEN ${1L << (j - 1)} ELSE 0 END)").mkString(" + ")
        s"""WITH $DocsAugCte, $ShinglesCte,
        |sums AS (SELECT doc_id, $votes FROM shingles GROUP BY doc_id)
        |SELECT doc_id, CAST($recombine AS BIGINT) AS simhash
        |FROM sums ORDER BY doc_id""".stripMargin
      }),

    // Garbage-robustness decode: a 100 TB corpus is never all valid
    // bytes, so this runs the REAL ImageHeaderDecoder over a MIX of
    // valid PNG/GIF headers, truncated PNGs, and non-image garbage —
    // the `ok=false` rows must flow through as typed metadata (never
    // an exception killing the task). Complements mm2 (all-valid
    // parse round-trip): here the oracle checks the decoder's
    // REJECTION behavior arithmetically per corruption class.
    QueryDef("mm1_binary_meta",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
        val blobs = ids.map { id =>
          val w = (32 + (id * 7) % 64).toInt
          val h = (32 + (id * 13) % 64).toInt
          val bytes = (id % 4) match {
            case 0 => graft.extras.Multimodal.ImageBytes.png(w, h)
            case 1 => graft.extras.Multimodal.ImageBytes.gif(w, h)
            case 2 => graft.extras.Multimodal.ImageBytes.png(w, h).take(10)
            case _ => s"garbage-$id".getBytes("UTF-8")
          }
          (id, bytes)
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeMeta(blobs, "blob", "event_id")
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
        |  CAST(CASE event_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 13 WHEN 2 THEN 10
        |    ELSE 8 + length(CAST(event_id AS VARCHAR)) END AS BIGINT) AS byte_len,
        |  CASE WHEN event_id % 4 = 0 THEN 'png' WHEN event_id % 4 = 1 THEN 'gif'
        |    ELSE 'unknown' END AS format,
        |  CAST(CASE WHEN event_id % 4 <= 1 THEN 32 + (event_id * 7) % 64
        |    ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN event_id % 4 <= 1 THEN 32 + (event_id * 13) % 64
        |    ELSE 0 END AS INT) AS height,
        |  event_id % 4 <= 1 AS ok
        |FROM events ORDER BY event_id""".stripMargin)),

    // REAL image-header decode end-to-end: the Spark side builds valid
    // PNG/JPEG/GIF header bytes with dimensions derived from event_id,
    // then graft.extras.Multimodal.ImageHeaderDecoder parses format and
    // width/height back OUT OF THE BYTES (mapPartitions, one decoder
    // per partition). The oracle recomputes the dimensions
    // arithmetically — a parser bug (endianness, offset, marker walk)
    // hash-mismatches immediately.
    QueryDef("mm2_image_dims",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
        val blobs = ids.map { id =>
          val w = (32 + (id * 7) % 64).toInt
          val h = (32 + (id * 13) % 64).toInt
          val bytes = (id % 3) match {
            case 0 => graft.extras.Multimodal.ImageBytes.png(w, h)
            case 1 => graft.extras.Multimodal.ImageBytes.jpeg(w, h)
            case _ => graft.extras.Multimodal.ImageBytes.gif(w, h)
          }
          (id, bytes)
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeMeta(blobs, "blob", "event_id")
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
        |  CAST(CASE event_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 19 ELSE 13 END
        |    AS BIGINT) AS byte_len,
        |  CASE event_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'gif' END
        |    AS format,
        |  CAST(32 + (event_id * 7) % 64 AS INT) AS width,
        |  CAST(32 + (event_id * 13) % 64 AS INT) AS height,
        |  TRUE AS ok
        |FROM events ORDER BY event_id""".stripMargin)),

    // FULL-PIXEL decode on real bytes — mm2 parses headers; this
    // decodes EVERY pixel of complete uncompressed 24-bit BMPs (the
    // one mainstream format needing no codec library) with the real
    // BmpPixelDecoder: 4-byte row padding, bottom-up row order, BGR
    // channel order. The fixture images carry a fixed arithmetic
    // pixel pattern, so the oracle recomputes all channel sums, the
    // 4-bin luma histogram, AND the (0,0) corner probe — the value
    // that is wrong if row order/padding is mishandled, which
    // order-invariant sums can't catch — from (w, h, id) alone.
    // Varying width across 5..8 exercises every padding class
    // (1, 0, 3, 2 pad bytes). Scale shape: blobs stream through
    // mapPartitions (one decoder per partition); only 12-column
    // stats rows come back — the decode never shuffles pixels.
    QueryDef("mm5_bmp_pixels",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 200)
        val blobs = ids.map { id =>
          val w = (5 + id % 4).toInt
          val h = (4 + id % 5).toInt
          (id, graft.extras.Multimodal.ImageBytes.bmp(w, h, id))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeBmpPixels(blobs, "blob", "event_id")
          .orderBy("event_id")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 5 + event_id % 4 AS w, 4 + event_id % 5 AS h
        |  FROM events WHERE event_id < 200),
        |px AS (
        |  SELECT id, w, h, x, y,
        |    (5 * x + 17 * y + 3 * id) % 256 AS r,
        |    (11 * x + 3 * y + 2 * id) % 256 AS g,
        |    (7 * x + 13 * y + id) % 256 AS b
        |  FROM ids, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)),
        |agg AS (
        |  SELECT id, w, h,
        |    CAST(sum(r) AS BIGINT) AS sum_r,
        |    CAST(sum(g) AS BIGINT) AS sum_g,
        |    CAST(sum(b) AS BIGINT) AS sum_b,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma0,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma1,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma2,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma3
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT id AS event_id,
        |  CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS byte_len,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  sum_r, sum_g, sum_b, luma0, luma1, luma2, luma3,
        |  CAST((3 * id) % 256 AS INT) AS corner_r,
        |  TRUE AS ok
        |FROM agg ORDER BY event_id""".stripMargin)),

    // FULL-PIXEL decode of a COMPRESSED format — mm5 proves the pixel
    // path on uncompressed BMP; this proves it through a real codec:
    // complete PNGs (JDK ImageIO writer) carrying the same arithmetic
    // pixel pattern, decoded back by ImageIoPixelDecoder (JDK ImageIO
    // reader) into exact channel sums, the 4-bin luma histogram, and
    // the (0,0) corner probe. PNG is lossless, so the oracle
    // recomputes every stat from (w, h, id) alone; the compressed
    // byte length is encoder-dependent and deliberately NOT in the
    // output. Scale shape identical to mm5: blobs stream through
    // mapPartitions, only 11-column stats rows come back.
    compressedPixelsQuery("mm7_png_pixels",
      graft.extras.Multimodal.ImageBytes.pngFull _),

    // GIF sibling of mm7 — completes the ImageIO format matrix (PNG
    // lossless-compressed, GIF palette-indexed, BMP uncompressed, all
    // decoded to identical stats): the fixtures carry the same pixel
    // pattern behind an EXACT ≤72-color palette, so GIF encoding is
    // lossless by construction (see ImageBytes.gifFull) and the
    // oracle reuses mm7's arithmetic recomputation unchanged.
    compressedPixelsQuery("mm8_gif_pixels",
      graft.extras.Multimodal.ImageBytes.gifFull _),

    // REAL audio-header decode end-to-end: valid 16-bit PCM WAV
    // headers with rate/channels/sample-count derived from event_id,
    // parsed back OUT OF THE BYTES by Multimodal.AudioHeaderDecoder's
    // RIFF chunk walk (mapPartitions, per-partition decoder). The
    // oracle recomputes everything arithmetically — an endianness,
    // chunk-alignment, or block-align bug hash-mismatches. Duration is
    // exact integer math in both engines (sample counts are chosen so
    // n_samples * 1000 is divisible-safe via floor).
    QueryDef("mm3_wav_meta",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
        val blobs = ids.map { id =>
          val rate = (8000 + (id % 5) * 4000).toInt
          val ch = (1 + id % 2).toInt
          val n = 1000 + id % 1000
          (id, graft.extras.Multimodal.AudioBytes.wav(rate, ch, n))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeAudioMeta(blobs, "blob", "event_id")
          .withColumn("duration_ms",
            floor(col("n_samples") * 1000L / col("sample_rate")).cast(LongType))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
        |  CAST(8000 + (event_id % 5) * 4000 AS INT) AS sample_rate,
        |  CAST(1 + event_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(1000 + event_id % 1000 AS BIGINT) AS n_samples,
        |  TRUE AS ok,
        |  CAST(floor((1000 + event_id % 1000) * 1000
        |    / (8000 + (event_id % 5) * 4000)) AS BIGINT) AS duration_ms
        |FROM events ORDER BY event_id""".stripMargin)),

    // FULL-SAMPLE audio decode on real bytes — mm3 parses WAV headers;
    // this decodes EVERY 16-bit PCM sample of complete WAVs with the
    // real WavPcmDecoder (RIFF walk with an interposed LIST chunk,
    // then per-sample little-endian decode). The fixture clips carry a
    // fixed arithmetic sample pattern over the FLAT INTERLEAVED
    // stream, so the oracle recomputes energy, peak, and the
    // channel-0 zero-crossing count — the stat that is wrong if
    // interleaving or sample order is mishandled, which
    // order-invariant sums can't catch — from (rate, ch, frames, id)
    // alone. Varying channels 1..2 exercises de-interleaving. Scale
    // shape: blobs stream through mapPartitions (one decoder per
    // partition); only 10-column stats rows come back — samples never
    // shuffle.
    QueryDef("mm6_wav_pcm",
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
        graft.extras.Multimodal.decodeWavPcm(blobs, "blob", "event_id")
          .orderBy("event_id")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 8000 + (event_id % 5) * 4000 AS rate,
        |    1 + event_id % 2 AS ch, 200 + event_id % 100 AS frames
        |  FROM events WHERE event_id < 300),
        |smp AS (
        |  SELECT id, ch, j, ((7 * j + 3 * id) % 4096) - 2048 AS v
        |  FROM ids, unnest(range(0, frames * ch)) t(j)),
        |ch0 AS (
        |  SELECT id, CAST(count(*) FILTER (
        |      WHERE prev IS NOT NULL AND (prev < 0) <> (v < 0)) AS BIGINT) AS zc
        |  FROM (SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY j) AS prev
        |        FROM smp WHERE j % ch = 0)
        |  GROUP BY id),
        |agg AS (
        |  SELECT id, CAST(sum(v) AS BIGINT) AS sum_all,
        |    CAST(sum(v * v) AS BIGINT) AS sumsq_all,
        |    CAST(max(abs(v)) AS INT) AS peak_abs
        |  FROM smp GROUP BY id)
        |SELECT id AS event_id,
        |  CAST(56 + frames * ch * 2 AS BIGINT) AS byte_len,
        |  CAST(rate AS INT) AS sample_rate, CAST(ch AS INT) AS channels,
        |  CAST(frames AS BIGINT) AS n_frames,
        |  sum_all, sumsq_all, peak_abs, zc AS zc_ch0, TRUE AS ok
        |FROM ids JOIN agg USING (id) JOIN ch0 USING (id)
        |ORDER BY event_id""".stripMargin)),

    // AIFF sibling of mm6 — the OTHER mainstream uncompressed audio
    // container: IFF big-endian chunks (vs RIFF little-endian) and
    // the sample rate as an 80-bit extended float in COMM (vs WAV's
    // plain integer) — the two byte-level details a decoder gets
    // wrong silently. The clips carry the same flat-interleaved
    // sample pattern as mm6, decoded by the REAL AiffPcmDecoder
    // (big-endian 16-bit samples this time), so the oracle reuses
    // mm6's sample arithmetic with only the container overhead
    // (54 bytes vs 56) changed. A rate parsed through the extended-
    // float mantissa math wrong by even 1 Hz hash-mismatches.
    QueryDef("mm10_aiff_pcm",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 300)
        val blobs = ids.map { id =>
          val rate = (8000 + (id % 5) * 4000).toInt
          val ch = (1 + id % 2).toInt
          val frames = 200 + id % 100
          (id, graft.extras.Multimodal.AudioBytes2.aiff(rate, ch, frames, id))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeAiffPcm(blobs, "blob", "event_id")
          .orderBy("event_id")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 8000 + (event_id % 5) * 4000 AS rate,
        |    1 + event_id % 2 AS ch, 200 + event_id % 100 AS frames
        |  FROM events WHERE event_id < 300),
        |smp AS (
        |  SELECT id, ch, j, ((7 * j + 3 * id) % 4096) - 2048 AS v
        |  FROM ids, unnest(range(0, frames * ch)) t(j)),
        |ch0 AS (
        |  SELECT id, CAST(count(*) FILTER (
        |      WHERE prev IS NOT NULL AND (prev < 0) <> (v < 0)) AS BIGINT) AS zc
        |  FROM (SELECT id, v, lag(v) OVER (PARTITION BY id ORDER BY j) AS prev
        |        FROM smp WHERE j % ch = 0)
        |  GROUP BY id),
        |agg AS (
        |  SELECT id, CAST(sum(v) AS BIGINT) AS sum_all,
        |    CAST(sum(v * v) AS BIGINT) AS sumsq_all,
        |    CAST(max(abs(v)) AS INT) AS peak_abs
        |  FROM smp GROUP BY id)
        |SELECT id AS event_id,
        |  CAST(54 + frames * ch * 2 AS BIGINT) AS byte_len,
        |  CAST(rate AS INT) AS sample_rate, CAST(ch AS INT) AS channels,
        |  CAST(frames AS BIGINT) AS n_frames,
        |  sum_all, sumsq_all, peak_abs, zc AS zc_ch0, TRUE AS ok
        |FROM ids JOIN agg USING (id) JOIN ch0 USING (id)
        |ORDER BY event_id""".stripMargin)),

    // REAL video-container decode end-to-end: minimal valid MP4s
    // (ftyp + moov(mvhd, trak(tkhd))) with timescale/duration/dims
    // derived from event_id, parsed back OUT OF THE BYTES by the MP4
    // box walker. Completes the image/audio/video multimodal triple;
    // the oracle recomputes arithmetically — a box-size, fixed-point,
    // or version-offset bug hash-mismatches.
    QueryDef("mm4_mp4_meta",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
        val blobs = ids.map { id =>
          val dur = (1 + id % 100) * 60 // movie-timescale units
          val w = (320 + (id % 8) * 80).toInt
          val h = (240 + (id % 8) * 60).toInt
          (id, graft.extras.Multimodal.VideoBytes.mp4(600L, dur, w, h))
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeVideoMeta(blobs, "blob", "event_id")
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST((1 + event_id % 100) * 60 * 1000 / 600 AS BIGINT) AS duration_ms,
        |  CAST(320 + (event_id % 8) * 80 AS INT) AS width,
        |  CAST(240 + (event_id % 8) * 60 AS INT) AS height,
        |  TRUE AS ok
        |FROM events ORDER BY event_id""".stripMargin)),

    // REAL video FRAME decode — mm4 parses container headers; this
    // samples and pixel-decodes actual frames. Uncompressed AVI
    // ('DIB ' codec, raw bottom-up BGR '00db' chunks) is the one
    // mainstream video form needing no codec library, so the
    // AviFrameDecoder's RIFF walk + every-2nd-frame sampling + the
    // per-frame channel sums / 4-bin luma histogram / (0,0) corner
    // probe are all honest byte work. Each frame's pixel pattern is
    // shifted by the frame index, so a frame-indexing or sampling bug
    // hash-mismatches; every 8th input is garbage bytes and must
    // surface as an ok=false marker row (frame_idx = -1), never an
    // exception. Scale shape: unsampled frames cost one chunk-header
    // skip (no pixel reads); only stats rows shuffle.
    QueryDef("mm9_avi_frames",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 120)
        val blobs = ids.map { id =>
          if (id % 8 == 7) (id, s"garbage-$id".getBytes("UTF-8"))
          else {
            val w = (5 + id % 4).toInt
            val h = (4 + id % 5).toInt
            val nf = (3 + id % 4).toInt
            (id, graft.extras.Multimodal.VideoBytes2.aviDib(w, h, nf, id))
          }
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeAviFrames(blobs, "blob", "event_id",
          sampleEvery = 2)
          .orderBy("event_id", "frame_idx")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 5 + event_id % 4 AS w, 4 + event_id % 5 AS h,
        |    3 + event_id % 4 AS nf
        |  FROM events WHERE event_id < 120),
        |frames AS (
        |  SELECT id, w, h, nf, f
        |  FROM ids, unnest(range(0, nf)) tf(f)
        |  WHERE id % 8 <> 7 AND f % 2 = 0),
        |px AS (
        |  SELECT id, w, h, nf, f, x, y,
        |    (5 * x + 17 * y + 3 * id + 23 * f) % 256 AS r,
        |    (11 * x + 3 * y + 2 * id + 29 * f) % 256 AS g,
        |    (7 * x + 13 * y + id + 31 * f) % 256 AS b
        |  FROM frames, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)),
        |agg AS (
        |  SELECT id, w, h, nf, f,
        |    CAST(sum(r) AS BIGINT) AS sum_r,
        |    CAST(sum(g) AS BIGINT) AS sum_g,
        |    CAST(sum(b) AS BIGINT) AS sum_b,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma0,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma1,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma2,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma3
        |  FROM px GROUP BY 1, 2, 3, 4, 5)
        |SELECT id AS event_id,
        |  CAST(224 + nf * (8 + ((w * 3 + 3) // 4) * 4 * h) AS BIGINT) AS byte_len,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nf AS INT) AS n_frames, CAST(f AS INT) AS frame_idx,
        |  sum_r, sum_g, sum_b, luma0, luma1, luma2, luma3,
        |  CAST((3 * id + 23 * f) % 256 AS INT) AS corner_r, TRUE AS ok
        |FROM agg
        |UNION ALL
        |SELECT id AS event_id,
        |  CAST(8 + length(CAST(id AS VARCHAR)) AS BIGINT) AS byte_len,
        |  0 AS width, 0 AS height, 0 AS n_frames, -1 AS frame_idx,
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), 0 AS corner_r, FALSE AS ok
        |FROM ids WHERE id % 8 = 7
        |ORDER BY event_id, frame_idx""".stripMargin)),

    // COMPRESSED video frame decode, pure JVM — the last multimodal
    // stub retired: MJPEG-in-AVI, where every `00dc` movi chunk is a
    // standalone JPEG decoded by the JDK's own ImageIO reader.
    // JPEG is lossy, so the oracle pins what survives lossy decode
    // tolerance-free: container dims, frame count, sampled frame
    // indices, the JPEG's own decoded dims, and a 40-wide mean-luma
    // bucket (solid-tone fixture frames decode within ±2 levels, far
    // inside the bucket). Every 8th input is garbage and must surface
    // as an ok=false marker row, never an exception. Scale shape:
    // same as mm9 — unsampled frames cost one chunk-header skip (no
    // JPEG decode), only stats rows shuffle.
    QueryDef("mm18_mjpeg_frames",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 120)
        val blobs = ids.map { id =>
          if (id % 8 == 7) (id, s"garbage-$id".getBytes("UTF-8"))
          else {
            val w = (16 + (id % 3) * 8).toInt
            val h = (16 + (id % 2) * 8).toInt
            val nf = (3 + id % 4).toInt
            (id, graft.extras.Multimodal.VideoBytes2.aviMjpeg(w, h, nf, id))
          }
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeMjpegFrames(blobs, "blob", "event_id",
          sampleEvery = 2)
          .orderBy("event_id", "frame_idx")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 16 + (event_id % 3) * 8 AS w,
        |    16 + (event_id % 2) * 8 AS h, 3 + event_id % 4 AS nf
        |  FROM events WHERE event_id < 120),
        |frames AS (
        |  SELECT id, w, h, nf, f
        |  FROM ids, unnest(range(0, nf)) tf(f)
        |  WHERE id % 8 <> 7 AND f % 2 = 0)
        |SELECT id AS event_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nf AS INT) AS n_frames, CAST(f AS INT) AS frame_idx,
        |  CAST(w AS INT) AS frame_w, CAST(h AS INT) AS frame_h,
        |  CAST(1 + (id + f) % 5 AS INT) AS luma_bucket, TRUE AS ok
        |FROM frames
        |UNION ALL
        |SELECT id AS event_id, 0, 0, 0, -1, 0, 0, 0, FALSE
        |FROM ids WHERE id % 8 = 7
        |ORDER BY event_id, frame_idx""".stripMargin)),

    // INTER-FRAME video decode, pure JVM — the codec class DIB/MJPEG
    // cannot represent: MS-RLE8 (BI_RLE8), whose delta/EOL/EOB
    // opcodes leave pixels showing the PREDECESSOR frame through a
    // persistent canvas. The fixture's frame 0 is an absolute-mode
    // keyframe; every later frame repaints one row with an encoded
    // run + a delta escape (skipping two pixels that CARRY) + count-1
    // runs, so a sampled frame's stats depend on unsampled earlier
    // frames — a decoder without real frame-to-frame state
    // hash-mismatches. The oracle reconstructs the canvas in closed
    // form (last-repaint time per pixel) and palette-expands with the
    // same integer arithmetic. Every 8th input is garbage -> ok=false
    // marker row. Scale shape: one mapPartitions pass, canvas is
    // w*h bytes per blob, only stats rows shuffle.
    QueryDef("mm19_rle_frames",
      (s, d) => {
        import s.implicits._
        val ids = Records.events(s, d)
          .select(col("event_id").cast(LongType)).as[Long]
          .filter(_ < 120)
        val blobs = ids.map { id =>
          if (id % 8 == 7) (id, s"garbage-$id".getBytes("UTF-8"))
          else {
            val w = (6 + id % 3).toInt
            val h = (4 + id % 3).toInt
            val nf = (3 + id % 4).toInt
            (id, graft.extras.Multimodal.VideoBytes2.aviRle8(w, h, nf, id))
          }
        }.toDF("event_id", "blob")
        graft.extras.Multimodal.decodeRle8Frames(blobs, "blob", "event_id",
          sampleEvery = 2)
          .orderBy("event_id", "frame_idx")
      },
      Some("""WITH ids AS (
        |  SELECT event_id AS id, 6 + event_id % 3 AS w, 4 + event_id % 3 AS h,
        |    3 + event_id % 4 AS nf
        |  FROM events WHERE event_id < 120),
        |frames AS (
        |  SELECT id, w, h, nf, f
        |  FROM ids, unnest(range(0, nf)) tf(f)
        |  WHERE id % 8 <> 7 AND f % 2 = 0),
        |px AS (
        |  SELECT id, w, h, nf, f, x, yf,
        |    CASE WHEN f = 0 OR x IN (2, 3) THEN (3*x + 7*yf + id) % 256
        |         WHEN f - ((((f - yf) % h) + h) % h) >= 1 THEN
        |           CASE WHEN x < 2
        |                THEN (13*(f - ((((f - yf) % h) + h) % h)) + id) % 256
        |                ELSE (5*x + 11*(f - ((((f - yf) % h) + h) % h)) + id) % 256
        |           END
        |         ELSE (3*x + 7*yf + id) % 256
        |    END AS pi
        |  FROM frames, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(yf)),
        |rgb AS (
        |  SELECT id, w, h, nf, f, x, yf,
        |    (7*pi + 3) % 256 AS r, (5*pi + 11) % 256 AS g,
        |    (3*pi + 17) % 256 AS b
        |  FROM px),
        |agg AS (
        |  SELECT id, w, h, nf, f,
        |    CAST(sum(r) AS BIGINT) AS sum_r,
        |    CAST(sum(g) AS BIGINT) AS sum_g,
        |    CAST(sum(b) AS BIGINT) AS sum_b,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma0,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma1,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma2,
        |    CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 64 = 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS luma3
        |  FROM rgb GROUP BY 1, 2, 3, 4, 5),
        |corner AS (
        |  SELECT id, f, r AS corner_r FROM rgb WHERE x = 0 AND yf = h - 1)
        |SELECT a.id AS event_id,
        |  CAST(a.w AS INT) AS width, CAST(a.h AS INT) AS height,
        |  CAST(a.nf AS INT) AS n_frames, CAST(a.f AS INT) AS frame_idx,
        |  a.sum_r, a.sum_g, a.sum_b, a.luma0, a.luma1, a.luma2, a.luma3,
        |  CAST(c.corner_r AS INT) AS corner_r, TRUE AS ok
        |FROM agg a JOIN corner c ON a.id = c.id AND a.f = c.f
        |UNION ALL
        |SELECT id AS event_id, 0, 0, 0, -1,
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), 0, FALSE
        |FROM ids WHERE id % 8 = 7
        |ORDER BY event_id, frame_idx""".stripMargin))
  )
}
