package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline corpus operators beyond per-doc scoring:
  * near-duplicate CLUSTERING (connected components over verified
  * jaccard pairs), deterministic stratified sampling, sequence packing
  * to a fixed token budget, and PII redaction.
  *
  * All randomness is md5-derived so Spark and the DuckDB oracle agree
  * bit-for-bit; all shapes are shuffle-bounded (see each op's note on
  * what it costs at 100 TB).
  */
object PipelineOps {
  import TextOps.{docs, docsRaw, docsAug, shingles, minhashBands,
    cappedCandidates, jaccardFor, md5s, BandBucketCap,
    DocsAugCte, ShinglesCte, ShingleCountsCte, MinhashVerifiedCtes}

  /** Connected components by iterative min-label propagation, over
    * EDGE-INCIDENT vertices only — a vertex with no edge is its own
    * component and needs no propagation, so it never enters the loop:
    * in a dedup graph this is the difference between iterating over
    * every doc in the corpus and iterating over the (tiny)
    * duplicate-involved subset. Callers that need singleton rows
    * reattach them with one broadcast-able outer join
    * (see connectedComponents).
    *
    * Each round combines the neighbor-min step with POINTER JUMPING
    * (rep'(x) = min over {rep(x), rep(y) for y~x, rep(rep(x))}): the
    * shortcut through rep(rep(x)) halves the remaining label-chain
    * depth every round, so convergence is O(log n) rounds even for
    * adversarial chain-shaped components — the same guarantee
    * alternating large-star/small-star gives (Kiveris et al.,
    * "Connected Components in MapReduce") with one extra
    * tiny-table join per round. Near-dup graphs are clique-ish (a
    * duplicated doc and its copies all pair with each other), so the
    * loop still converges in 2-3 rounds in the common case.
    */
  private[graft] def ccIncident(edges: DataFrame): DataFrame = {
    // Both directions in ONE pass over edges (explode, not
    // union-of-two-selects: a union's branches each recompute the
    // upstream edge pipeline — for LSH-verified pairs that is the
    // whole minhash chain, twice).
    //
    // localCheckpoint, NOT cache, throughout: it materializes to
    // executor block storage and TRUNCATES lineage, so (a) the
    // expensive edge pipeline runs exactly once, (b) each round's
    // plan is a join over stored blocks rather than a
    // rounds-deep recursive plan, and (c) there is no unpersist
    // bookkeeping — Dataset.unpersist(cache) cascade-invalidates
    // every dependent cached round (CacheManager re-caches
    // dependents lazily, clearing their data), which silently
    // re-runs the whole edge pipeline on the next action. The
    // blocks are freed by the ContextCleaner when the round DFs go
    // out of scope. Same pattern as GraphFrames' iterative CC.
    val bi = edges.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(col("a")).localCheckpoint()
    // Round 0 folded algebraically (r22, VERDICT r21 #6): labels start
    // as the identity, so the first neighbor-min is just
    // rep0(x) = least(x, min_{y~x} y) — ONE aggregate over the
    // a-partitioned bi (zero extra exchange), no labels0 table, no
    // join. The identity table the generic round would have joined
    // against never materializes (its checkpoint and distinct are
    // gone), and the domain is identical: distinct a's of bi. The
    // round-0 convergence scan is also skipped — any edge makes its
    // larger endpoint adopt a smaller rep, so round 0 "converges" only
    // when bi is empty, and the generic round below detects that case
    // one (cheap, empty) iteration later.
    val half0 = bi.groupBy(col("a").as("doc_id")).agg(min("b").as("nrep"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nrep")).as("rep"),
        col("doc_id").as("prev"))
    val next0 = half0.join(
        half0.select(col("doc_id").as("rep"), col("rep").as("rrep")),
        Seq("rep"))
      .select(col("doc_id"), least(col("rep"), col("rrep")).as("rep"))
      .localCheckpoint()
    var labels = next0
    var converged = false
    var rounds = 1
    val maxRounds = 64
    while (!converged && rounds < maxRounds) {
      // neighbor minimum: rep'(x) = min(rep(x), min_{y~x} rep(y));
      // inner joins are safe throughout — every label row is
      // edge-incident and every rep IS an incident doc_id (labels
      // start as the identity and only ever take values from other
      // labels).
      val viaNbr = bi.join(labels.select(col("doc_id").as("b"),
          col("rep").as("nrep")), "b")
        .groupBy(col("a").as("doc_id")).agg(min("nrep").as("nrep"))
      // carry the pre-round label (`prev`) through the half step so the
      // changed flag needs no fourth join back onto `labels`
      val half = labels.join(viaNbr, Seq("doc_id"))
        .select(col("doc_id"), least(col("rep"), col("nrep")).as("rep"),
          col("rep").as("prev"))
      // pointer jump: follow the rep's own rep one hop — this is what
      // turns O(diameter) propagation into O(log n)
      val next = half.join(
          half.select(col("doc_id").as("rep"), col("rep").as("rrep")),
          Seq("rep"))
        .select(col("doc_id"), least(col("rep"), col("rrep")).as("rep"),
          (least(col("rep"), col("rrep")) < col("prev")).as("changed"))
        .localCheckpoint()
      // The `changed` flag rides along in the checkpointed round
      // result, so convergence is a scan of stored blocks, not an
      // extra action.
      converged = next.where(col("changed")).isEmpty
      labels = next.select("doc_id", "rep")
      rounds += 1
    }
    // Invariant guard, not an expected path: with pointer jumping the
    // chain depth halves every round, so 64 rounds covers any
    // realizable component. Returning partially-propagated labels
    // would silently report one component as several — fail loudly.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds")
    labels
  }

  /** Connected components over `nodes`: incident-core propagation plus
    * singletons self-labeled via one outer join (the incident label
    * set is small relative to the corpus, so the join broadcasts).
    */
  private[queries] def connectedComponents(nodes: DataFrame,
                                           edges: DataFrame): DataFrame =
    nodes.join(ccIncident(edges), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))

  /** LSH-verified near-dup pairs as (a, b) edges — the edge source
    * shared by dedup_cluster_cc and dedup_keep_best.
    */
  private[graft] def nearDupEdges(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(docsAug(s, d))
    jaccardFor(cappedCandidates(minhashBands(sh), BandBucketCap), sh)
      .where(col("jaccard") >= 0.5)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
  }

  /** Two-level exclusive prefix sum of n_tokens per language in
    * doc_id order: local windows over (lang, doc_id DIV 4096) buckets
    * plus broadcast cross-bucket base offsets — arithmetically
    * identical to one Window.partitionBy(lang) pass but no partition
    * is ever language-sized. Input needs (doc_id, lang, n_tokens);
    * adds `start_tok`. Shared by pack_sequences and e2e_data_recipe.
    */
  private[queries] def withStartTok(toks0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = toks0.withColumn("bucket", (col("doc_id") / 4096L).cast(LongType))
    val wLocal = Window.partitionBy("lang", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBase = Window.partitionBy("lang").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = toks.groupBy("lang", "bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
      .withColumn("base", coalesce(sum("bucket_tokens").over(wBase), lit(0L)))
      .select("lang", "bucket", "base")
    toks
      .withColumn("local_prefix", coalesce(sum("n_tokens").over(wLocal), lit(0L)))
      .join(broadcast(bases), Seq("lang", "bucket"))
      .withColumn("start_tok", col("base") + col("local_prefix"))
      .drop("bucket", "base", "local_prefix")
  }

  // ---- BPE-ish subword tokenizer ------------------------------------------

  /** Fixed 256-merge subword vocabulary — the shipped tokenizer
    * artifact every real pipeline carries (a trained merge table is a
    * static file, not something re-learned per query): 102 bigrams +
    * 90 trigrams + 64 quadgrams of common English character n-grams.
    * Tokenization is greedy longest-match (4 -> 3 -> 2 -> single
    * char), WordPiece style, as one bounded fold expression mirrored
    * verbatim in DuckDB.
    */
  private val BpeBi = Seq(
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti", "es",
    "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to", "nt", "ng",
    "se", "ha", "as", "ou", "io", "le", "ve", "co", "me", "de", "hi", "ri",
    "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch", "ll", "be", "ma", "si",
    "om", "ur", "ca", "el", "ta", "la", "ns", "di", "fo", "ho", "pe", "ec",
    "pr", "no", "ct", "us", "ac", "ot", "il", "tr", "ly", "nc", "et", "ut",
    "ss", "so", "rs", "un", "lo", "wa", "ge", "ie", "wh", "ee", "wi", "em",
    "ad", "ol", "rt", "po", "we", "na", "ul", "ni", "ts", "mo", "ow", "pa",
    "im", "mi", "ai", "sh", "ir", "su")
  private val BpeTri = Seq(
    "the", "and", "ing", "ion", "tio", "ent", "ati", "for", "her", "ter",
    "hat", "tha", "ere", "ate", "his", "con", "res", "ver", "all", "ons",
    "nce", "men", "ith", "ted", "ers", "pro", "thi", "wit", "are", "ess",
    "not", "ive", "was", "ect", "rea", "com", "eve", "per", "int", "est",
    "sta", "cti", "ica", "ist", "ear", "ain", "one", "our", "iti", "rat",
    "ell", "ant", "str", "tur", "ble", "der", "ous", "rou", "ght", "min",
    "ort", "ran", "orm", "ine", "you", "pre", "age", "tem", "tin", "man",
    "som", "oth", "ses", "ind", "eme", "ill", "rec", "tab", "que", "sor",
    "col", "row", "bat", "win", "dow", "cus", "ust", "tch", "rge", "eam")
  private val BpeQuad = Seq(
    "tion", "atio", "that", "ther", "with", "ment", "ions", "this", "here",
    "from", "ould", "ting", "hich", "whic", "ctio", "ence", "have", "othe",
    "ight", "sion", "ever", "ical", "they", "inte", "ough", "ance", "were",
    "tive", "over", "ding", "pres", "nter", "comp", "able", "heir", "thei",
    "ally", "ated", "ring", "ture", "cont", "ents", "sort", "merg", "uery",
    "wind", "indo", "ndow", "tabl", "filt", "ilte", "ream", "trea", "atch",
    "umns", "olum", "lumn", "ards", "cust", "usto", "stom", "omer", "quer",
    "rder")
  require(BpeBi.size + BpeTri.size + BpeQuad.size == 256 &&
    (BpeBi ++ BpeTri ++ BpeQuad).distinct.size == 256,
    "BPE vocab must be exactly 256 distinct merges")

  private def bpeIn(xs: Seq[String]): String =
    xs.map("'" + _ + "'").mkString(", ")

  /** Longest-match step length at position `pos` of word `w` —
    * identical SQL in both engines. */
  private def bpeStep(w: String, pos: String): String =
    s"""CASE WHEN substr($w, $pos, 4) IN (${bpeIn(BpeQuad)}) THEN 4
        WHEN substr($w, $pos, 3) IN (${bpeIn(BpeTri)}) THEN 3
        WHEN substr($w, $pos, 2) IN (${bpeIn(BpeBi)}) THEN 2
        ELSE 1 END"""

  /** Spark: subword count of column `w` via a bounded fold (every
    * corpus word is <= 32 chars; each step consumes >= 1 char). */
  private def bpeCountSpark: String =
    s"""aggregate(sequence(1, 32),
        named_struct('pos', 1, 'cnt', CAST(0 AS INT)),
        (st, i) -> IF(st.pos > length(w), st,
          named_struct('pos', st.pos + ${bpeStep("w", "st.pos")},
                       'cnt', st.cnt + 1)),
        st -> st.cnt)"""

  /** DuckDB mirror: list_reduce has no explicit init, so the init
    * state [pos=1, cnt=0] is prepended to 32 dummy elements. */
  private def bpeCountDuck: String =
    s"""list_reduce(
        list_concat([[CAST(1 AS BIGINT), CAST(0 AS BIGINT)]],
          list_transform(range(1, 33),
            x -> [CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
        (acc, v) -> CASE WHEN acc[1] > length(w) THEN acc
          ELSE [acc[1] + ${bpeStep("w", "acc[1]")}, acc[2] + 1] END)[2]"""

  /** Scala replica of the greedy matcher, for spec cross-validation
    * of the SQL fold (PipelineOpsSpec). */
  private[graft] def bpeTokenize(word: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      val rest = word.length - pos
      val m =
        if (rest >= 4 && BpeQuad.contains(word.substring(pos, pos + 4))) 4
        else if (rest >= 3 && BpeTri.contains(word.substring(pos, pos + 3))) 3
        else if (rest >= 2 && BpeBi.contains(word.substring(pos, pos + 2))) 2
        else 1
      out += word.substring(pos, pos + m)
      pos += m
    }
    out.toSeq
  }

  // ---- hashed-bigram quality model (training artifacts) --------------------

  /** The text_quality_model training pipeline, factored so the batch
    * query and the streaming gate (e2e_stream_quality_gate) train the
    * SAME model: returns (grams, totals, weights) where grams =
    * (doc_id, label, is_train, h) hashed-bigram rows over the
    * spam-twin corpus (localCheckpoint'd — three consumers), totals =
    * 1-row (npos, nneg), weights = (h, w_micros) smoothed NB
    * log-odds in fixed-point micros.
    */
  private[graft] val QualitySpamTail = "click here buy now free winner " +
    "subscribe today limited offer unsubscribe instantly"

  private[graft] def qualityTrainArtifacts(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    // union branches from the raw scan, ONE fan-out after
    val base = docsRaw(s, d).select(col("doc_id"), col("text"))
    val corpus = QueryDef.fanOut(base.withColumn("label", lit(1))
      .unionByName(base
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" " + QualitySpamTail)).as("text"))
        .withColumn("label", lit(0))))
    val grams = corpus
      .withColumn("is_train", (col("doc_id") % 3000000L) % 2 === 0)
      .select(col("doc_id"), col("label"), col("is_train"),
        split(col("text"), " ").as("w"))
      // Spark's sequence(1, 0) DESCENDS to [1, 0] and element_at(w, 0)
      // throws — a 1-token doc would crash the batch plan (the streaming
      // quality gate already guards this). Filter, don't when(): a doc
      // with no bigrams contributes no features either way.
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), col("label"), col("is_train"), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("bg"))
      .withColumn("h", conv(substring(md5s(col("bg")), 1, 8), 16, 10)
        .cast(LongType) % 65536L)
      // three consumers (totals, weights, scoring): materialize the
      // tokenize+hash work once instead of re-deriving it per job
      .localCheckpoint()
    val train = grams.where(col("is_train"))
    val totals = train.agg(
      sum(when(col("label") === 1, 1L).otherwise(0L)).cast(LongType).as("npos"),
      sum(when(col("label") === 0, 1L).otherwise(0L)).cast(LongType).as("nneg"))
    val weights = train.groupBy("h").agg(
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("cpos"),
        sum(when(col("label") === 0, 1L).otherwise(0L)).as("cneg"))
      .crossJoin(broadcast(totals))
      .withColumn("w_micros", expr(
        "CAST(floor((ln((cpos + 1.0) / (npos + 65536.0)) - " +
          "ln((cneg + 1.0) / (nneg + 65536.0))) * 1000000 + 0.5) AS BIGINT)"))
      .select("h", "w_micros")
    (grams, totals, weights)
  }

  // ---- distributed BPE merge learning --------------------------------------

  /** BPE merge-table LEARNING (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016) as a
    * pure declarative plan — the training half of the tokenizer whose
    * inference half is the fixed 256-merge table above. `rounds`
    * iterations of: count adjacent symbol pairs weighted by word
    * frequency -> take the most frequent pair (count DESC, pair ASC
    * tiebreak) -> merge every leftmost-greedy occurrence in the
    * segmentation. The merge fold needs no "just merged" flag:
    * after a merge the last accumulator element becomes l||r, which
    * can never equal l again (r is nonempty), so overlapping
    * occurrences ("aaaa" under (a,a)) collapse pairwise-left exactly
    * like the reference algorithm — BpeLearnSpec pins this against a
    * sequential in-memory learner.
    *
    * Scale shape: the ONLY corpus-sized work is the one groupBy(tok)
    * that builds the word-frequency table (map-side combined, one
    * shuffle); every round after that runs on the BOUNDED vocab table
    * (distinct words), the per-round argmax is orderBy+limit(1) =
    * TakeOrdered (partial top-1 per partition, 1-row driver merge,
    * never a global sort), and the chosen pair re-enters the plan as
    * a 1-row broadcast. Each round's segmentation is
    * localCheckpoint'd so the fold expressions don't nest across
    * rounds.
    */
  private[graft] def bpeLearnPlan(words: DataFrame, rounds: Int): DataFrame = {
    val s = words.sparkSession
    var seg = words.select(col("w"), col("freq"), expr(
      "transform(sequence(1, length(w)), i -> substr(w, i, 1))").as("syms"))
      .localCheckpoint()
    // Each round's argmax is ONE row — collect it (TakeOrdered: partial
    // top-1 per partition, 1-row driver merge) and re-enter it as a
    // literal instead of a 1-row broadcast join; the merge table is
    // accumulated driver-side, so the final action never replays the
    // per-round pair-count subtrees (the former union-of-limit(1)s
    // recomputed all `rounds` argmaxes at the final orderBy).
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    import scala.util.control.Breaks.{break, breakable}
    breakable { for (k <- 1 to rounds) {
      val pc = seg.where(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
          .as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").cast(LongType).as("cnt"))
      // headOption (VERDICT r21 #8): a degenerate corpus can run out
      // of adjacent pairs before `rounds` — the pre-r21 plan silently
      // emitted fewer rows there; preserve that instead of throwing
      val top = pc.orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .collect().headOption.getOrElse(break())
      val (l, r, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      out += ((k.toLong, l, r, l + r, cnt))
      if (k < rounds)
        seg = seg.withColumn("l", lit(l)).withColumn("r", lit(r))
          .select(col("w"), col("freq"), expr(
            """aggregate(slice(syms, 2, size(syms) - 1),
               array(element_at(syms, 1)),
               (acc, x) -> CASE WHEN element_at(acc, -1) = l AND x = r
                 THEN concat(slice(acc, 1, size(acc) - 1), array(concat(l, r)))
                 ELSE concat(acc, array(x)) END)""").as("syms"))
          .localCheckpoint()
    } }
    import s.implicits._
    out.toSeq.toDF("round", "l", "r", "merged", "cnt")
      .select("round", "l", "r", "merged", "cnt").orderBy("round")
  }

  /** DuckDB mirror of bpeLearnPlan over the `documents` table:
    * the same rounds unrolled as static CTEs (the merges stay
    * data-dependent — each round's segmentation fold captures the
    * previous round's 1-row argmax CTE).
    */
  private def bpeLearnDuck(rounds: Int): String = {
    def pcCte(prev: String): String =
      s"""SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM $prev, unnest(range(1, len(syms))) t(i)
         |  GROUP BY 1, 2""".stripMargin
    def segCte(prev: String, m: String): String =
      s"""SELECT w, freq,
         |    list_reduce(list_transform(syms, x -> [x]),
         |      (acc, v) -> CASE WHEN acc[len(acc)] = $m.l AND v[1] = $m.r
         |        THEN list_concat(acc[1:len(acc)-1], [$m.l || $m.r])
         |        ELSE list_concat(acc, v) END) AS syms
         |  FROM $prev, $m""".stripMargin
    val ctes = scala.collection.mutable.ArrayBuffer(
      """words AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY tok)""".stripMargin,
      """seg0 AS (
        |  SELECT w, freq,
        |    list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
        |  FROM words)""".stripMargin)
    for (k <- 1 to rounds) {
      ctes += s"pc$k AS (${pcCte(s"seg${k - 1}")})"
      ctes += s"m$k AS (SELECT l, r, cnt FROM pc$k ORDER BY cnt DESC, l, r LIMIT 1)"
      if (k < rounds) ctes += s"seg$k AS (${segCte(s"seg${k - 1}", s"m$k")})"
    }
    val union = (1 to rounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS round, l, r, l || r AS merged, cnt FROM m$k")
      .mkString(" UNION ALL ")
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT round, l, r, merged, cnt FROM ($union) ORDER BY round"
  }

  // ---- Unigram-LM tokenizer (SentencePiece-style) -------------------------

  /** Unigram-LM tokenizer training (Kudo, "Subword Regularization",
    * ACL 2018 — the SentencePiece unigram model): seed a substring
    * vocabulary from the corpus, Viterbi-segment every word against
    * it, re-estimate piece frequencies from the segmentations (one
    * EM round), prune to the keep-budget. This is the OTHER tokenizer
    * family beside BPE (bpe_learn_merges): BPE grows a vocab
    * bottom-up by merging; unigram starts from a large seed and
    * prunes top-down against a per-word segmentation objective.
    *
    * The reference objective maximizes Σ log p(piece) — a float sum
    * whose `ln` differs in the last ulp across engines. The
    * cross-engine-exact surrogate here is the all-integer lexicographic
    * objective (fewest pieces, then largest summed piece frequency,
    * then lexicographically-smallest piece sequence): same shape
    * (prefers long, frequent pieces), every comparison exact in both
    * engines, so the DuckDB oracle replays training bit-for-bit.
    *
    * Scale shape: the ONLY corpus-sized work is the word-frequency
    * groupBy (one map-side-combined shuffle) and the final doc join in
    * the fertility query; everything else — substring seeding, the
    * per-word Viterbi DP, the EM re-count — runs on the DISTINCT-word
    * table, which Heaps' law keeps sublinear in the corpus. The DP is
    * a single Catalyst `aggregate` lambda over ≤ [[UniMaxWordLen]]
    * positions with ≤ [[UniMaxPieceLen]] incoming edges each (edges
    * pre-resolved by ONE broadcast join against the ≤ 300-piece
    * vocab), carrying the argmin segmentation in the DP state — no
    * backtrace pass, no window, no shuffle.
    */
  private val UniMaxWordLen = 12
  private val UniMaxPieceLen = 6
  private val UniSeedV = 256
  private val UniKeepV = 192

  /** Distinct words + frequencies, capped at [[UniMaxWordLen]] chars
    * (production shards longer words; the cap bounds the DP and is
    * applied identically in the oracle and the fertility join). */
  private def uniWords(s: SparkSession, d: String): DataFrame =
    // raw scan: one light split+explode into a map-side-combined
    // groupBy — the fan-out exchange regressed this (r21 A/B), the
    // heavy unigram work runs downstream on the distinct-word table
    docsRaw(s, d).select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "" && length(col("w")) <= UniMaxWordLen)
      .groupBy("w").agg(count(lit(1)).cast(LongType).as("freq"))

  /** All candidate (start-1, end, substring) edges of `w` up to
    * [[UniMaxPieceLen]] chars — DP position j = chars consumed. */
  private val uniEdgesExpr: String =
    s"""flatten(transform(sequence(1, length(w)), st ->
          transform(sequence(st, least(length(w), st + ${UniMaxPieceLen - 1})), en ->
            named_struct('j', st - 1, 'i', en,
              'piece', substr(w, st, en - st + 1)))))"""

  /** Viterbi-segment each distinct word against `vocab` (columns
    * piece, f): returns (w, freq, pieces). The DP state at position i
    * is the best named_struct('n', pieces, 'negf', -Σf, 'ps', seq) —
    * array_min's lexicographic struct order IS the objective, and the
    * winning state carries its own segmentation. Coverage: callers
    * guarantee every single char is in `vocab`, so no position has an
    * empty candidate set. */
  private[graft] def uniSegment(words: DataFrame, vocab: DataFrame): DataFrame =
    words.select(col("w"), col("freq"), explode(expr(uniEdgesExpr)).as("e"))
      .select(col("w"), col("freq"), col("e.j").as("j"), col("e.i").as("i"),
        col("e.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"), col("f"))), "piece")
      .groupBy("w", "freq")
      .agg(collect_list(struct(col("i"), col("j"), col("f"), col("piece")))
        .as("edges"))
      .withColumn("pieces", expr(
        """element_at(
             aggregate(sequence(1, length(w)),
               array(named_struct('n', CAST(0 AS BIGINT), 'negf', CAST(0 AS BIGINT),
                                  'ps', CAST(array() AS ARRAY<STRING>))),
               (acc, pos) -> concat(acc, array(
                 array_min(transform(filter(edges, e -> e.i = pos),
                   e -> named_struct(
                     'n', element_at(acc, e.j + 1).n + CAST(1 AS BIGINT),
                     'negf', element_at(acc, e.j + 1).negf - e.f,
                     'ps', concat(element_at(acc, e.j + 1).ps, array(e.piece)))))))),
             length(w) + 1).ps"""))
      .select("w", "freq", "pieces")

  /** Seed vocab (top-[[UniSeedV]] substrings by weighted occurrence
    * count, plus every single char for coverage), the round-1
    * segmentation, and EM-recounted frequencies. Returns
    * (piece, freq0, freq1) with freq1 = 0 for unused seeds. */
  private def uniTrained(s: SparkSession, d: String): DataFrame =
    uniTrainFromWords(uniWords(s, d).localCheckpoint())

  /** Training core over an explicit (w, freq) table — separated so
    * UnigramLearnSpec can pin it against a sequential reference
    * implementation on fixture vocabularies (the BpeLearnSpec
    * pattern). */
  private[graft] def uniTrainFromWords(words: DataFrame): DataFrame = {
    val pieces = words
      .select(col("freq"), explode(expr(uniEdgesExpr)).as("e"))
      .groupBy(col("e.piece").as("piece"))
      .agg(sum("freq").cast(LongType).as("freq0"))
    val top = pieces.orderBy(col("freq0").desc, col("piece")).limit(UniSeedV)
    val singles = pieces.where(length(col("piece")) === 1)
      .join(top.select("piece"), Seq("piece"), "left_anti")
    val vocab0 = top.unionByName(singles).localCheckpoint()
    val seg1 = uniSegment(words, vocab0.select(col("piece"), col("freq0").as("f")))
    val freq1 = seg1.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").cast(LongType).as("freq1"))
    vocab0.join(freq1, Seq("piece"), "left")
      .withColumn("freq1", coalesce(col("freq1"), lit(0L)))
  }

  /** Shared DuckDB CTE chain mirroring uniWords/uniEdges/uniTrained;
    * `uniSegDuck` emits one segmentation pass against a vocab CTE.
    *
    * The DP is deliberately RELATIONAL — [[UniMaxWordLen]] unrolled
    * position steps, each a join (frontier x in-vocab edges ending at
    * this position) + window argmin — instead of the obvious
    * `list_reduce` fold: DuckDB 1.0's list_reduce misbinds captured /
    * accumulated list elements indexed inside the lambda body, and
    * does so NONDETERMINISTICALLY at vectorized batch sizes (the same
    * CTE chain returned different segmentations across evaluations in
    * one process). The frontier carries only the last
    * [[UniMaxPieceLen]] positions plus completed words, so each step's
    * working set stays O(distinct words). */
  private def uniSegDuck(vocab: String, fcol: String, out: String): String = {
    val steps = (1 to UniMaxWordLen).flatMap { k =>
      Seq(
        s"""dp${k}_$out AS (
           |  SELECT w, freq, pos, n, negf, ps FROM (
           |    SELECT d.w, d.freq, CAST($k AS BIGINT) AS pos,
           |      d.n + 1 AS n, d.negf - e.f AS negf, list_append(d.ps, e.piece) AS ps,
           |      row_number() OVER (PARTITION BY d.w
           |        ORDER BY d.n + 1, d.negf - e.f, list_append(d.ps, e.piece)) AS rn
           |    FROM dpu${k - 1}_$out d
           |    JOIN wedges_$out e ON e.w = d.w AND e.i = $k AND e.j = d.pos)
           |  WHERE rn = 1)""".stripMargin,
        s"""dpu${k}_$out AS MATERIALIZED (
           |  SELECT * FROM dpu${k - 1}_$out
           |  WHERE pos > $k - $UniMaxPieceLen OR pos = length(w)
           |  UNION ALL SELECT * FROM dp${k}_$out)""".stripMargin)
    }
    (Seq(
      s"""wedges_$out AS MATERIALIZED (
         |  SELECT u.w, u.freq, t.e.i AS i, t.e.j AS j, v.$fcol AS f, t.e.piece AS piece
         |  FROM uedges u, unnest(u.es) AS t(e)
         |  JOIN $vocab v ON v.piece = t.e.piece)""".stripMargin,
      s"""dpu0_$out AS (
         |  SELECT w, freq, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
         |         CAST(0 AS BIGINT) AS negf, CAST([] AS VARCHAR[]) AS ps FROM uwords)""".stripMargin) ++
      steps :+
      s"""$out AS (
         |  SELECT w, freq, ps AS pieces FROM dpu${UniMaxWordLen}_$out
         |  WHERE pos = length(w))""".stripMargin).mkString(",\n")
  }

  private val uniTrainedDuck: String =
    s"""uwords AS MATERIALIZED (
       |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE tok <> '' AND length(tok) <= $UniMaxWordLen GROUP BY tok),
       |uedges AS MATERIALIZED (
       |  SELECT w, freq,
       |    flatten(list_transform(range(1, length(w) + 1), st ->
       |      list_transform(range(st, least(length(w), st + ${UniMaxPieceLen - 1}) + 1), en ->
       |        {'j': st - 1, 'i': en, 'piece': substr(w, CAST(st AS INTEGER), CAST(en - st + 1 AS INTEGER))}))) AS es
       |  FROM uwords),
       |upieces AS (
       |  SELECT t.e.piece AS piece, CAST(sum(u.freq) AS BIGINT) AS freq0
       |  FROM uedges u, unnest(u.es) AS t(e) GROUP BY 1),
       |utop AS (SELECT piece, freq0 FROM upieces ORDER BY freq0 DESC, piece LIMIT $UniSeedV),
       |uvocab0 AS MATERIALIZED (
       |  SELECT piece, freq0 FROM utop
       |  UNION ALL
       |  SELECT piece, freq0 FROM upieces
       |  WHERE length(piece) = 1 AND piece NOT IN (SELECT piece FROM utop)),
       |${uniSegDuck("uvocab0", "freq0", "useg1")},
       |uem AS (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS freq1
       |  FROM (SELECT freq, unnest(pieces) AS piece FROM useg1) GROUP BY piece),
       |uwithf AS (
       |  SELECT v.piece, v.freq0, CAST(COALESCE(e.freq1, 0) AS BIGINT) AS freq1
       |  FROM uvocab0 v LEFT JOIN uem e ON v.piece = e.piece),
       |ukeep AS (SELECT piece FROM uwithf ORDER BY freq1 DESC, piece LIMIT $UniKeepV)""".stripMargin

  /** k md5-slice bit positions of `textCol` in an m-bit Bloom filter —
    * ONE definition shared by the batch filter (dedup_bloom) and the
    * live frontier probe (EngineDemos e2e_stream_bloom_probe), so the
    * two tiers can never hash apart. */
  private[graft] def bloomPositions(textCol: org.apache.spark.sql.Column,
                                    k: Int = 4, m: Long = 2048L)
      : org.apache.spark.sql.Column =
    array((0 until k).map(i =>
      conv(substring(TextOps.md5s(textCol), 1 + 8 * i, 8), 16, 10)
        .cast(LongType) % m): _*)

  def defs: Seq[QueryDef] = Seq(

    // Tokenizer TRAINING: learn the corpus' first 6 BPE merges (see
    // bpeLearnPlan for the algorithm and the scale argument).
    QueryDef("bpe_learn_merges",
      (s, d) => {
        // raw scan: same light explode->map-side-combined groupBy as
        // uniWords; the BPE rounds run on the bounded word table
        val words = docsRaw(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "")
          .groupBy(col("tok").as("w"))
          .agg(count(lit(1)).cast(LongType).as("freq"))
        bpeLearnPlan(words, 6)
      },
      Some(bpeLearnDuck(6))),

    // Tokenizer TRAINING, unigram-LM family (see uniTrained): seed ->
    // Viterbi-segment -> EM re-count -> prune. Output is the seed
    // vocab with both frequency generations and the prune verdict —
    // a piece with freq1 = 0 was seeded but never chosen by any
    // word's optimal segmentation (exactly what unigram pruning
    // exists to remove).
    QueryDef("tok_unigram_train",
      (s, d) => {
        val withF = uniTrained(s, d).localCheckpoint()
        val keep = withF.orderBy(col("freq1").desc, col("piece")).limit(UniKeepV)
          .select(col("piece"), lit(true).as("k"))
        withF.join(broadcast(keep), Seq("piece"), "left")
          .withColumn("kept", coalesce(col("k"), length(col("piece")) === 1))
          .select("piece", "freq0", "freq1", "kept")
          .orderBy(col("freq1").desc, col("piece"))
      },
      Some(s"""WITH $uniTrainedDuck
        |SELECT piece, freq0, freq1,
        |  (piece IN (SELECT piece FROM ukeep) OR length(piece) = 1) AS kept
        |FROM uwithf ORDER BY freq1 DESC, piece""".stripMargin)),

    // Tokenizer APPLICATION at corpus scale: segment every document
    // with the PRUNED unigram vocab (weights = the EM counts) and
    // report per-doc fertility (pieces per word, ppm-exact). The
    // per-word DP runs once per DISTINCT word; docs join against that
    // table — the whole corpus is never segmented twice. Fertility is
    // THE tokenizer-quality number a data pipeline tracks (lower =
    // fewer pieces per word = cheaper training tokens).
    QueryDef("tok_unigram_fertility",
      (s, d) => {
        val words = uniWords(s, d)
        val withF = uniTrained(s, d).localCheckpoint()
        val keep = withF.orderBy(col("freq1").desc, col("piece")).limit(UniKeepV)
          .select(col("piece"), lit(true).as("k"))
        val kept = withF.join(broadcast(keep), Seq("piece"), "left")
          .where(coalesce(col("k"), length(col("piece")) === 1))
          .select(col("piece"), col("freq1").as("f"))
        val perWord = uniSegment(words, kept)
          .select(col("w").as("tok"), size(col("pieces")).cast(LongType).as("np"))
        docsRaw(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "" && length(col("tok")) <= UniMaxWordLen)
          .join(perWord, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast(LongType).as("n_words"),
            sum("np").cast(LongType).as("n_pieces"))
          .withColumn("fertility_ppm", expr("n_pieces * 1000000 div n_words"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $uniTrainedDuck,
        |ukept AS (
        |  SELECT piece, freq1 FROM uwithf
        |  WHERE piece IN (SELECT piece FROM ukeep) OR length(piece) = 1),
        |${uniSegDuck("ukept", "freq1", "useg2")}
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(s.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(s.np) * 1000000 // count(*) AS BIGINT) AS fertility_ppm
        |FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) dw
        |JOIN (SELECT w, CAST(len(pieces) AS BIGINT) AS np FROM useg2) s ON s.w = dw.tok
        |WHERE dw.tok <> '' AND length(dw.tok) <= $UniMaxWordLen
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Near-duplicate clusters: minhash-LSH candidate pairs verified at
    // jaccard >= 0.5 become edges (the SAME bucketed pipeline as
    // dedup_minhash_lsh — never the O(Σ df²) all-pairs baseline);
    // every doc then gets its component's min doc_id as cluster
    // representative. This is the op a real pipeline runs AFTER pair
    // finding — "keep one doc per duplicate cluster" needs the
    // transitive closure, not the pair list (A~B, B~C must collapse
    // A,C into one cluster even when jaccard(A,C) fell under the
    // threshold, or LSH never surfaced the A-C pair). The oracle
    // recomputes the closure with a recursive CTE over the shared
    // verified-pairs CTE chain, so a propagation bug (lost edge
    // direction, premature convergence) hash-mismatches.
    QueryDef("dedup_cluster_cc",
      (s, d) => {
        val edges = nearDupEdges(s, d)
        // Every member of a >=2 cluster touches an edge, so the
        // incident-only label set IS the output domain — singletons
        // are never reattached only to be filtered back out (an
        // all-nodes `sized` table has one row per singleton component,
        // corpus-sized, and the size join degenerates to a full
        // sort-merge join instead of a broadcast).
        val labels = ccIncident(edges)
        // size via aggregate + join-back, never collect_list: a
        // boilerplate-heavy corpus can have million-doc components,
        // and a member ARRAY row would be that component in one task
        val sized = labels.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
          .where(col("cluster_size") >= 2)
        labels.join(sized, "rep")
          .select(col("doc_id"),
            col("rep").cast(LongType).as("cluster_rep"),
            col("cluster_size").cast(LongType).as("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $DocsAugCte, $ShinglesCte, $ShingleCountsCte,
        |$MinhashVerifiedCtes,
        |bi AS (
        |  SELECT doc_a AS a, doc_b AS b FROM verified WHERE jaccard >= 0.5
        |  UNION
        |  SELECT doc_b, doc_a FROM verified WHERE jaccard >= 0.5),
        |reach(doc, r) AS (
        |  SELECT doc_id, doc_id FROM docs_aug
        |  UNION
        |  SELECT bi.b, reach.r FROM reach JOIN bi ON bi.a = reach.doc),
        |labels AS (SELECT doc, min(r) AS rep FROM reach GROUP BY doc),
        |sized AS (SELECT rep, CAST(count(*) AS BIGINT) AS cluster_size
        |          FROM labels GROUP BY rep)
        |SELECT l.doc AS doc_id, CAST(l.rep AS BIGINT) AS cluster_rep,
        |       s.cluster_size
        |FROM labels l JOIN sized s ON s.rep = l.rep
        |WHERE s.cluster_size >= 2
        |ORDER BY doc_id""".stripMargin)),

    // Canonical-document selection — the step a real pipeline runs
    // AFTER clustering: inside every near-dup cluster keep exactly one
    // member (highest quality score, smallest doc_id on ties) and emit
    // the keep/drop verdict per member — the drop list is what
    // actually gets filtered before training, and "keep the BEST, not
    // the first-seen" is why this is not just dedup_cluster_cc with a
    // min(). Quality is the same integer-exact stopword-density
    // score_milli curriculum_quality_order uses (mirrored in SQL).
    // Scale shape: clusters/labels cover only edge-incident docs (the
    // duplicate-involved subset), the per-cluster argmax is a
    // map-side-combinable min(struct(1000-score, doc_id)) — never a
    // window over the corpus — and the winner table (<= #clusters
    // rows) broadcasts back onto the members.
    QueryDef("dedup_keep_best",
      (s, d) => {
        val edges = nearDupEdges(s, d)
        val labels = ccIncident(edges)
        val sized = labels.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
          .where(col("cluster_size") >= 2)
        val members = labels.join(sized, "rep")
        val scored = docsAug(s, d).select(col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("n_toks"),
            size(filter(split(col("text"), " "),
              x => x.isin("the", "a", "and", "of", "to")))
              .cast(LongType).as("stop_cnt"))
          .withColumn("score_milli",
            expr("CAST(stop_cnt * 1000 DIV n_toks AS BIGINT)"))
          .select("doc_id", "score_milli")
        // two consumers (the per-cluster argmax and the join-back) —
        // materialize once instead of re-running the docsAug scoring
        // scan and the members join per consumer
        val withScore = members.join(scored, "doc_id").localCheckpoint()
        // argmax(score, tiebreak min doc_id) as an aggregate: the
        // struct orders by (1000 - score) ASC then doc_id ASC, so its
        // min is the highest-scoring, lowest-id member
        val best = withScore.groupBy("rep").agg(
          min(struct((lit(1000L) - col("score_milli")).as("inv"),
            col("doc_id").as("kept"))).as("b"))
          .select(col("rep"), col("b.kept").as("kept_doc"))
        withScore.join(broadcast(best), "rep")
          .select(col("doc_id"),
            col("rep").cast(LongType).as("cluster_rep"),
            col("cluster_size").cast(LongType).as("cluster_size"),
            col("score_milli"),
            (col("doc_id") === col("kept_doc")).as("keep"),
            col("kept_doc").cast(LongType).as("kept_doc"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $DocsAugCte, $ShinglesCte, $ShingleCountsCte,
        |$MinhashVerifiedCtes,
        |bi AS (
        |  SELECT doc_a AS a, doc_b AS b FROM verified WHERE jaccard >= 0.5
        |  UNION
        |  SELECT doc_b, doc_a FROM verified WHERE jaccard >= 0.5),
        |reach(doc, r) AS (
        |  SELECT doc_id, doc_id FROM docs_aug
        |  UNION
        |  SELECT bi.b, reach.r FROM reach JOIN bi ON bi.a = reach.doc),
        |labels AS (SELECT doc, min(r) AS rep FROM reach GROUP BY doc),
        |sized AS (SELECT rep, CAST(count(*) AS BIGINT) AS cluster_size
        |          FROM labels GROUP BY rep HAVING count(*) >= 2),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a', 'and', 'of', 'to'))) * 1000
        |      // len(string_split(text, ' ')) AS BIGINT) AS score_milli
        |  FROM docs_aug),
        |members AS (
        |  SELECT l.doc AS doc_id, l.rep, s.cluster_size, sc.score_milli
        |  FROM labels l JOIN sized s USING (rep)
        |  JOIN scored sc ON sc.doc_id = l.doc),
        |best AS (
        |  SELECT rep, doc_id AS kept_doc FROM members
        |  QUALIFY row_number() OVER (PARTITION BY rep
        |    ORDER BY score_milli DESC, doc_id) = 1)
        |SELECT m.doc_id, CAST(m.rep AS BIGINT) AS cluster_rep,
        |  m.cluster_size, m.score_milli,
        |  m.doc_id = b.kept_doc AS keep,
        |  CAST(b.kept_doc AS BIGINT) AS kept_doc
        |FROM members m JOIN best b USING (rep)
        |ORDER BY doc_id""".stripMargin)),

    // Incremental-corpus dedup via an EXPLICIT Bloom filter: the
    // already-ingested corpus (doc_id % 10 != 0) is summarized as the
    // distinct set of k=4 bit positions (positions = four 8-hex-char
    // slices of md5(text) mod m) and each incoming doc is flagged a
    // probable-duplicate iff ALL its positions are set. This is the
    // continuous-ingestion shape exact dedup can't take at 100 TB:
    // the base corpus never re-shuffles — it is folded once into a
    // filter of m bits (here a <=m-row position table, the relational
    // form of the same bitmap) that BROADCASTS to every executor, so
    // probing N incoming docs is one narrow map-side pass. The
    // incoming batch is the %10 holdout PLUS a re-ingest of every
    // base doc with doc_id % 97 == 0 (a re-crawl under a fresh id —
    // the case the filter exists for), so bloom_hit=1/exact_dup=1
    // rows are guaranteed, and m=2048 deliberately undersizes the
    // n*k/ln2 ≈ 2600 50%-fill rule so the false-positive rate is
    // visibly nonzero — the quantity a real pipeline sizes m against.
    // Exact membership is computed alongside to expose it. All
    // hashing is md5-derived so both engines agree bit-for-bit;
    // PipelineOpsSpec pins the no-false-negative guarantee.
    QueryDef("dedup_bloom",
      (s, d) => {
        def hashed(df: DataFrame) = df.select(
          col("doc_id"), col("text"),
          bloomPositions(col("text")).as("pos"))
        // raw scan: both sides are narrow md5 passes — the per-branch
        // fan-out exchanges cost more than the hash work they spread
        val dd = docsRaw(s, d)
        val base = hashed(dd.where(col("doc_id") % 10 =!= 0))
        val incoming = hashed(dd.where(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(dd.where(col("doc_id") % 10 =!= 0 &&
              col("doc_id") % 97 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))))
        // the "bitmap": distinct set positions of the base corpus
        val bits = base.select(explode(col("pos")).as("p")).distinct()
          .withColumn("hit", lit(1L))
        val bloom = incoming.select(col("doc_id"), explode(col("pos")).as("p"))
          .join(broadcast(bits), Seq("p"), "left")
          .groupBy("doc_id")
          .agg(min(coalesce(col("hit"), lit(0L))).as("bloom_hit"))
        // exact membership via the 16-byte md5 key, un-hinted: never
        // ships raw corpus text — at this SF Spark still broadcasts the
        // hash table; at 100 TB it degrades gracefully to a shuffled
        // join on a fixed-width key instead of a corpus-sized broadcast.
        val exact = incoming.select(col("doc_id"), md5s(col("text")).as("hh"))
          .join(base.select(md5s(col("text")).as("hh")).distinct()
              .withColumn("exact_dup", lit(1L)),
            Seq("hh"), "left")
          .select(col("doc_id"),
            coalesce(col("exact_dup"), lit(0L)).as("exact_dup"))
        bloom.join(exact, "doc_id")
          .select(col("doc_id"), col("bloom_hit"), col("exact_dup"),
            when(col("bloom_hit") === 1L && col("exact_dup") === 0L, 1L)
              .otherwise(0L).as("false_pos"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
        |  SELECT doc_id, text,
        |    [CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT % 2048 AS BIGINT),
        |     CAST(('0x' || substr(md5(text), 9, 8))::UBIGINT % 2048 AS BIGINT),
        |     CAST(('0x' || substr(md5(text), 17, 8))::UBIGINT % 2048 AS BIGINT),
        |     CAST(('0x' || substr(md5(text), 25, 8))::UBIGINT % 2048 AS BIGINT)]
        |      AS pos
        |  FROM documents),
        |base AS (SELECT * FROM h WHERE doc_id % 10 <> 0),
        |inc AS (SELECT * FROM h WHERE doc_id % 10 = 0
        |        UNION ALL
        |        SELECT doc_id + 1000000, text, pos FROM base
        |        WHERE doc_id % 97 = 0),
        |bits AS (SELECT DISTINCT unnest(pos) AS p FROM base),
        |probe AS (SELECT doc_id, unnest(pos) AS p FROM inc),
        |bloom AS (
        |  SELECT pr.doc_id,
        |    min(CASE WHEN b.p IS NULL THEN 0 ELSE 1 END) AS bloom_hit
        |  FROM probe pr LEFT JOIN bits b ON b.p = pr.p GROUP BY pr.doc_id),
        |flag AS (
        |  SELECT i.doc_id, bl.bloom_hit,
        |    CASE WHEN i.text IN (SELECT text FROM base) THEN 1 ELSE 0 END
        |      AS exact_dup
        |  FROM inc i JOIN bloom bl ON bl.doc_id = i.doc_id)
        |SELECT doc_id, CAST(bloom_hit AS BIGINT) AS bloom_hit,
        |  CAST(exact_dup AS BIGINT) AS exact_dup,
        |  CAST(CASE WHEN bloom_hit = 1 AND exact_dup = 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS false_pos
        |FROM flag ORDER BY doc_id""".stripMargin)),

    // Deterministic stratified sampling: per-language rates (~10% en,
    // 50% everything else — the usual "downsample the dominant
    // language" move) decided by the first 4 hex chars of
    // md5(doc_id) compared LEXICOGRAPHICALLY against a hex threshold
    // ('199a' = 6554/65536 ≈ 10%, '8000' = 32768/65536 = 50%), so the
    // sample is reproducible, join-free, and embarrassingly parallel:
    // one narrow projection + filter, no shuffle, at any scale. A
    // hash threshold (not rand()) also makes resampling stable under
    // re-partitioning and task retries, and hex-string comparison
    // needs no hex-to-int conversion in either engine (lowercase hex
    // orders identically to its numeric value in ASCII).
    QueryDef("sample_stratified",
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("lang"),
          substring(md5s(col("doc_id").cast(StringType)), 1, 4).as("bucket"))
        .where(col("bucket") <
          when(col("lang") === "en", lit("199a")).otherwise(lit("8000")))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |  < (CASE WHEN lang = 'en' THEN '199a' ELSE '8000' END)
        |ORDER BY doc_id""".stripMargin)),

    // Exact-k per-stratum PRIORITY sampling — the eval-set builder
    // ("exactly k docs per language") that rate-based stratified
    // sampling can't give: each doc's priority is md5(doc_id), the
    // sample is the bottom-k priorities per stratum, so membership is
    // a pure function of the corpus (stable across runs, partitions,
    // retries; a doc added later only displaces the current rank-k
    // member, never reshuffles the rest). The at-scale composition is
    // built in: a hash-RATE prefilter (the sample_stratified form)
    // cuts each stratum to ~rate*|stratum| BEFORE the exact ranking
    // window, so the per-stratum window — the only skew-sensitive
    // stage with few large strata — sees a bounded survivor set
    // instead of the stratum. (The predicate is over a COMPUTED md5
    // column, so it cannot enter parquet PushedFilters; it evaluates
    // scan-side before the exchange, which is what bounds the
    // shuffle — the scan itself prunes to (doc_id, lang), verified
    // with the plan printer in c4420b2.) The prefilter is
    // part of the spec (both engines apply it identically), so the
    // result stays bit-deterministic even in the pathological case
    // where a tiny stratum has fewer than k survivors.
    QueryDef("sample_priority_k",
      (s, d) => {
        val k = 10
        val pri = substring(md5s(col("doc_id").cast(StringType)), 1, 8)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("priority"), col("doc_id"))
        docs(s, d)
          .select(col("doc_id"), col("lang"), pri.as("priority"))
          .where(col("priority") < "8000") // rate prefilter (scan-side)
          .withColumn("rank", row_number().over(w).cast(LongType))
          .where(col("rank") <= k)
          .orderBy("lang", "rank")
      },
      Some("""SELECT doc_id, lang,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS priority,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |    AS BIGINT) AS rank
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '8000'
        |QUALIFY rank <= 10
        |ORDER BY lang, rank""".stripMargin)),

    // Deterministic train/val/test split (98/1/1 by md5 bucket over
    // 4 hex chars, 65536 buckets): the assignment is a pure function
    // of doc_id, so it is stable across runs, re-partitions, task
    // retries, and INCREMENTAL corpus growth — a doc added next month
    // lands in the same split it would have landed in today, which is
    // the property that keeps eval sets uncontaminated as the corpus
    // evolves. Join-free narrow projection; summary output so the
    // oracle checks both the assignment rule and the realized sizes.
    QueryDef("sample_split",
      (s, d) => {
        val bucket = substring(md5s(col("doc_id").cast(StringType)), 1, 4)
        docs(s, d)
          .select(col("doc_id"),
            when(bucket < "028f", "val")        // 0x028f = 655 ≈ 1%
              .when(bucket < "051e", "test")    // next 655 ≈ 1%
              .otherwise("train").as("split"))
          .groupBy("split")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            min("doc_id").cast(LongType).as("first_doc"),
            max("doc_id").cast(LongType).as("last_doc"))
          .orderBy("split")
      },
      Some("""SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM (SELECT doc_id,
        |        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '028f'
        |             THEN 'val'
        |             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '051e'
        |             THEN 'test'
        |             ELSE 'train' END AS split
        |      FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin)),

    // Sequence packing (concat-and-chunk): docs are laid end-to-end
    // per language in doc_id order and cut into 2048-token packs; each
    // doc is assigned the pack where it STARTS (prefix-sum / budget).
    // This is the deterministic packing used to build fixed-length
    // training batches, as opposed to greedy first-fit whose
    // sequential state can't parallelize.
    //
    // The prefix sum is TWO-LEVEL so no partition is ever
    // corpus-language-sized: docs bucket by doc_id DIV 4096, the
    // running sum windows over (lang, bucket) — bounded partitions —
    // and the cross-bucket base offsets come from an exclusive prefix
    // over the per-bucket totals, a table with one row per bucket
    // that joins back broadcast. start_tok = bucket base + local
    // prefix is IDENTICAL to the single-window formulation (the
    // oracle runs that one), but survives a language with a billion
    // documents, where Window.partitionBy(lang) alone would funnel
    // them into one task.
    QueryDef("pack_sequences",
      (s, d) => withStartTok(docs(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast(LongType).as("n_tokens")))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          (col("start_tok") / 2048L).cast(LongType).as("pack_id"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_tokens,
        |  CAST(floor(start_tok / 2048) AS BIGINT) AS pack_id
        |FROM (SELECT doc_id, lang, n_tokens,
        |        COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS start_tok
        |      FROM (SELECT doc_id, lang,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |            FROM documents))
        |ORDER BY doc_id""".stripMargin)),

    // Span packing — what training actually runs: whole-doc pack
    // assignment (pack_sequences above) wastes up to ctx_len-1 tokens
    // per pack, so real packing SPLITS a document across pack
    // boundaries. Each doc occupies the half-open token interval
    // [start_tok, start_tok + n_tokens) of its language's stream and
    // emits one row per 2048-token pack it overlaps, with the
    // DOC-RELATIVE token span [tok_start, tok_end) that lands in that
    // pack — span arithmetic is exact integers, and adjacent rows of
    // one doc tile it with no gap or overlap. Same two-level prefix
    // sum (withStartTok) as pack_sequences: the explode adds
    // (n_tokens/2048 + 1) rows per doc, never a partition-sized
    // blowup, and no window ever spans a whole language.
    QueryDef("pack_sequences_split",
      (s, d) => withStartTok(docs(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast(LongType).as("n_tokens")))
        .withColumn("p0", (col("start_tok") / 2048L).cast(LongType))
        .withColumn("p1",
          ((col("start_tok") + col("n_tokens") - 1L) / 2048L).cast(LongType))
        .withColumn("pack_id", explode(sequence(col("p0"), col("p1"))))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"),
          greatest(col("pack_id") * 2048L - col("start_tok"), lit(0L))
            .as("tok_start"),
          least((col("pack_id") + 1L) * 2048L - col("start_tok"), col("n_tokens"))
            .as("tok_end"))
        .orderBy("doc_id", "pack_id"),
      Some("""SELECT doc_id, lang, n_tokens, pack_id,
        |  CAST(GREATEST(pack_id * 2048 - start_tok, 0) AS BIGINT) AS tok_start,
        |  CAST(LEAST((pack_id + 1) * 2048 - start_tok, n_tokens) AS BIGINT)
        |    AS tok_end
        |FROM (SELECT doc_id, lang, n_tokens, start_tok,
        |        unnest(generate_series(CAST(start_tok // 2048 AS BIGINT),
        |          CAST((start_tok + n_tokens - 1) // 2048 AS BIGINT))) AS pack_id
        |      FROM (SELECT doc_id, lang, n_tokens,
        |              CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
        |                ORDER BY doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |                AS BIGINT) AS start_tok
        |            FROM (SELECT doc_id, lang,
        |                    CAST(len(string_split(text, ' ')) AS BIGINT)
        |                      AS n_tokens
        |                  FROM documents)))
        |ORDER BY doc_id, pack_id""".stripMargin)),

    // Tokenizer-faithful packing: pack_sequences* budgets WHITESPACE
    // tokens, but a trainer consumes TOKENIZER tokens — whitespace
    // counts under-fill every context window by the subword expansion
    // factor (~2.5x on this corpus). Same split-span packing as
    // pack_sequences_split, but budgeted on the greedy longest-match
    // subword counts from the fixed 256-merge vocab above, so
    // (pack_id, tok_start, tok_end) are exact offsets in TOKENIZER
    // units — directly usable as a training manifest. Scale shape:
    // tokenization runs once per DISTINCT word (the vocab table, tiny
    // vs the corpus) and broadcasts back; the corpus side is one
    // narrow explode + per-doc sum, then the shared bounded-window
    // two-level prefix sum. The per-word fold is a pure expression —
    // whole-stage-codegen'd, no UDF.
    QueryDef("pack_sequences_bpe",
      (s, d) => {
        val words = docs(s, d).select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        val wl = words.select("w").distinct()
          .withColumn("n_sub", expr(bpeCountSpark).cast(LongType))
        val perDoc = words.join(broadcast(wl), "w")
          .groupBy("doc_id", "lang")
          .agg(sum("n_sub").cast(LongType).as("n_tokens"))
        withStartTok(perDoc)
          // an all-empty-word doc has n_tokens = 0 (possible under
          // SUBWORD counting, unlike the whitespace variants): it
          // must emit NO pack rows. Without the guard the two
          // engines disagree — Spark's cast(Long) truncates
          // (start_tok - 1)/2048 toward zero while DuckDB's //
          // floors, so Spark would emit a phantom (or descending-
          // sequence) pack. Filtered AFTER the prefix-sum window so
          // start_tok still accounts for every doc.
          .where(col("n_tokens") > 0L)
          .withColumn("p0", (col("start_tok") / 2048L).cast(LongType))
          .withColumn("p1",
            ((col("start_tok") + col("n_tokens") - 1L) / 2048L).cast(LongType))
          .withColumn("pack_id", explode(sequence(col("p0"), col("p1"))))
          .select(col("doc_id"), col("lang"),
            col("n_tokens").as("n_bpe_tokens"), col("pack_id"),
            greatest(col("pack_id") * 2048L - col("start_tok"), lit(0L))
              .as("tok_start"),
            least((col("pack_id") + 1L) * 2048L - col("start_tok"),
              col("n_tokens")).as("tok_end"))
          .orderBy("doc_id", "pack_id")
      },
      Some(s"""WITH words AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wl AS (SELECT DISTINCT w FROM words),
        |bpe AS (SELECT w, CAST($bpeCountDuck AS BIGINT) AS n_sub FROM wl),
        |per_doc AS (
        |  SELECT doc_id, lang, CAST(sum(n_sub) AS BIGINT) AS n_tokens
        |  FROM words JOIN bpe USING (w) GROUP BY 1, 2),
        |pref AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_tok
        |  FROM per_doc)
        |SELECT doc_id, lang, n_tokens AS n_bpe_tokens, pack_id,
        |  CAST(GREATEST(pack_id * 2048 - start_tok, 0) AS BIGINT) AS tok_start,
        |  CAST(LEAST((pack_id + 1) * 2048 - start_tok, n_tokens) AS BIGINT)
        |    AS tok_end
        |FROM (SELECT *, unnest(generate_series(CAST(start_tok // 2048 AS BIGINT),
        |    CAST((start_tok + n_tokens - 1) // 2048 AS BIGINT))) AS pack_id
        |  FROM pref WHERE n_tokens > 0)
        |ORDER BY doc_id, pack_id""".stripMargin)),

    // End-to-end training-data recipe as ONE declarative plan:
    // quality filter -> exact dedup (keep lowest doc_id per content
    // hash) -> deterministic stratified sample -> sequence packing ->
    // per-pack manifest. This is the composition story: every stage
    // is the same narrow projection / single-shuffle shape as its
    // standalone operator, and Catalyst pipelines them — the quality
    // filter and hash run in the scan stage, dedup is one groupBy
    // with a broadcast keep-join, sampling is a filter, and packing
    // is the shared two-level prefix sum (withStartTok) whose window
    // partitions stay bounded no matter how large one language grows.
    QueryDef("e2e_data_recipe",
      (s, d) => {
        val w = split(col("text"), " ")
        val scored = docs(s, d).select(col("doc_id"), col("lang"), col("text"),
            size(w).cast(LongType).as("n_tokens"),
            size(filter(w, x => x.isin("the", "a", "and", "of", "to")))
              .cast(LongType).as("n_stop"))
          .where(col("n_tokens") >= 20 &&
            col("n_stop").cast(DoubleType) / col("n_tokens") < 0.5)
        val fp = scored.withColumn("fp", md5s(col("text")))
        val keep = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val deduped = fp.join(keep, Seq("fp", "doc_id"))
        val sampled = deduped
          .withColumn("bucket",
            substring(md5s(col("doc_id").cast(StringType)), 1, 4))
          .where(col("bucket") <
            when(col("lang") === "en", lit("199a")).otherwise(lit("8000")))
        withStartTok(sampled.select("doc_id", "lang", "n_tokens"))
          .withColumn("pack_id", (col("start_tok") / 2048L).cast(LongType))
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum("n_tokens").cast(LongType).as("tokens"),
            min("doc_id").cast(LongType).as("first_doc"),
            max("doc_id").cast(LongType).as("last_doc"))
          .orderBy("lang", "pack_id")
      },
      Some("""WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |q AS (SELECT * FROM scored
        |      WHERE n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5),
        |fp AS (SELECT doc_id, lang, n_tokens, md5(text) AS f FROM q),
        |keep AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
        |deduped AS (SELECT fp.* FROM fp JOIN keep
        |            ON fp.f = keep.f AND fp.doc_id = keep.doc_id),
        |sampled AS (
        |  SELECT * FROM deduped
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |    < (CASE WHEN lang = 'en' THEN '199a' ELSE '8000' END)),
        |packed AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(floor(COALESCE(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) / 2048) AS BIGINT) AS pack_id
        |  FROM sampled)
        |SELECT lang, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin)),

    // Corpus mixture reweighting: per-source token mass and the
    // sampling weight that equalizes the mixture (weight =
    // target-share / actual-share with a uniform target) — the knob a
    // training-data pipeline turns to hit a data recipe. One narrow
    // aggregation by source; the weights are a handful of rows joined
    // back or broadcast into the sampler at any scale.
    QueryDef("corpus_mix_weights",
      (s, d) => {
        val perSrc = docs(s, d)
          .select(col("source"),
            size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum("n_tokens").cast(LongType).as("tokens"))
        val total = perSrc.agg(sum("tokens").cast(LongType).as("total_tokens"),
          count(lit(1)).cast(LongType).as("n_sources"))
        perSrc.crossJoin(broadcast(total))
          .select(col("source"), col("n_docs"), col("tokens"),
            round(col("tokens").cast(DoubleType) / col("total_tokens"), 6)
              .as("actual_share"),
            round((col("total_tokens").cast(DoubleType) / col("n_sources"))
              / col("tokens"), 6).as("weight"))
          .orderBy("source")
      },
      Some("""WITH per_src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
        |               CAST(count(*) AS BIGINT) AS n_sources FROM per_src)
        |SELECT source, n_docs, tokens,
        |  round(CAST(tokens AS DOUBLE) / total_tokens, 6) AS actual_share,
        |  round((CAST(total_tokens AS DOUBLE) / n_sources) / tokens, 6) AS weight
        |FROM per_src, tot ORDER BY source""".stripMargin)),

    // Boilerplate detection: the 20 word-3-grams present in the most
    // DISTINCT documents (shingles are already doc-distinct, so
    // count(*) per shingle IS document frequency). High-df n-grams are
    // template/boilerplate text; pipelines strip or down-weight them —
    // and a degenerate one is exactly what blows up naive pair-joins
    // (see BandBucketCap). One groupBy; top-k via deterministic
    // (df DESC, sh) ordering.
    QueryDef("text_top_ngrams",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // top-k via orderBy+limit = TakeOrderedAndProject (distributed
        // partial top-k per partition, then a k-row merge on the
        // driver) — NOT a global row_number window, which would funnel
        // the whole df table through one partition. The rank window
        // runs over the 20 survivors only.
        val top = shingles(docs(s, d).select("doc_id", "text"))
          .groupBy("sh").agg(count(lit(1)).cast(LongType).as("df"))
          .orderBy(col("df").desc, col("sh")).limit(20)
        val w = Window.orderBy(col("df").desc, col("sh"))
        top.withColumn("rank", row_number().over(w).cast(LongType))
          .orderBy("rank")
      },
      Some(s"""WITH sh0 AS (
        |  ${TextOps.shinglesSqlOver("documents")}),
        |sh_df AS (
        |  SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh0 GROUP BY sh)
        |SELECT sh, df,
        |  CAST(row_number() OVER (ORDER BY df DESC, sh) AS BIGINT) AS rank
        |FROM sh_df QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),

    // Token-rarity score: each doc's mean document frequency over its
    // DISTINCT tokens — low mean-df = rare vocabulary (jargon, other
    // languages, noise), high mean-df = common prose; pipelines use it
    // beside stopword ratios to window quality cuts. All-integer
    // counts with one final division, so the score is bit-identical
    // cross-engine (no log/exp, whose libm rounding differs). Two
    // aggregations: token df over the corpus, then a doc-level mean
    // after a (token -> df) join that shuffles one row per distinct
    // token occurrence.
    QueryDef("text_rarity",
      (s, d) => {
        // materialized once: both the df aggregate and the join input
        // read it, and Catalyst does not dedupe the shared
        // scan+tokenize+explode subtree (same reasoning as
        // prefixFilteredJaccard's shingle checkpoint)
        val toks = docs(s, d)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .localCheckpoint()
        val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
        toks.join(dfreq, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast(LongType).as("n_distinct"),
            sum("df").cast(LongType).as("df_sum"))
          .withColumn("mean_df",
            round(col("df_sum").cast(DoubleType) / col("n_distinct"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |          FROM toks GROUP BY tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(df) AS BIGINT) AS df_sum,
        |  round(CAST(sum(df) AS DOUBLE) / count(*), 6) AS mean_df
        |FROM toks JOIN dfreq USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // PII redaction: the corpus is deterministically salted with
    // emails (doc_id%7=0) and phone numbers (doc_id%11=0), then both
    // are regex-redacted and counted. Patterns stay in the
    // POSIX-compatible intersection of Java and RE2-ish dialects
    // (character classes + bounded repetition only) so both engines
    // match identically. Narrow projection, no shuffle, codegen'd
    // regexp — scales like any scan-side scrubber; at 100 TB this is
    // exactly the shape you want (no UDF, pushes through
    // whole-stage codegen).
    QueryDef("text_pii_redact",
      (s, d) => {
        val emailRe = "[a-z0-9.]+@[a-z0-9.]+"
        val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
        val salted = docs(s, d).select(col("doc_id"), col("lang"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id").cast(StringType),
                lit("@example.com")))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" call 555-010-"),
                lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
              .otherwise(lit(""))).as("text"))
        salted.select(col("doc_id"),
            regexp_count(col("text"), lit(emailRe)).cast(LongType).as("n_emails"),
            regexp_count(col("text"), lit(phoneRe)).cast(LongType).as("n_phones"),
            md5s(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("redacted_fp"))
          .orderBy("doc_id")
      },
      Some("""WITH salted AS (
        |  SELECT doc_id,
        |    text ||
        |    (CASE WHEN doc_id % 7 = 0
        |          THEN ' contact user' || doc_id || '@example.com' ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0
        |          THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |          ELSE '' END) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT)
        |    AS n_phones,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_fp
        |FROM salted ORDER BY doc_id""".stripMargin)),

    // Eval-set decontamination — the training-data hygiene step every
    // serious pipeline runs: flag corpus documents sharing a long
    // n-gram (8 tokens here) with a held-out benchmark, because a
    // contaminated doc inflates eval scores. The eval side is SMALL
    // BY NATURE (a benchmark, not a corpus), so its distinct grams
    // broadcast and the corpus side streams through a map-side hash
    // join — zero shuffle on the 100 TB side; the only aggregation
    // shuffles one row per CONTAMINATED doc, not per doc. Eval here =
    // every 13th base doc, so docsAug's near-duplicate copies provide
    // known contamination with pre-verifiable hits.
    QueryDef("text_decontaminate",
      (s, d) => {
        def grams8(df: DataFrame): DataFrame = {
          val w = col("w")
          df.select(col("doc_id"), split(col("text"), " ").as("w"))
            .select(col("doc_id"),
              explode(array_distinct(
                when(size(w) >= 8,
                  transform(sequence(lit(1), size(w) - 7),
                    i => concat_ws(" ",
                      (0 until 8).map(o => element_at(w, i + o)): _*)))
                  .otherwise(array(concat_ws(" ", w))))).as("g"))
        }
        val evalGrams = grams8(docs(s, d).where(col("doc_id") % 13 === 0))
          .select(col("g"), col("doc_id").as("eval_id"))
        val corpus = grams8(docsAug(s, d))
          .where(!(col("doc_id") % 13 === 0 && col("doc_id") < 1000000))
        corpus.join(broadcast(evalGrams), "g")
          .groupBy("doc_id")
          .agg(countDistinct("g").cast(LongType).as("n_shared_grams"),
            countDistinct("eval_id").cast(LongType).as("n_eval_docs"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $DocsAugCte,
        |g8 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) >= 8
        |      THEN list_transform(range(1, len(w) - 6),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
        |          || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
        |          || ' ' || w[i+7])
        |      ELSE [array_to_string(w, ' ')] END)) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs_aug)),
        |eval_g AS (
        |  SELECT g, doc_id AS eval_id FROM g8
        |  WHERE doc_id % 13 = 0 AND doc_id < 1000000)
        |SELECT c.doc_id,
        |  CAST(count(DISTINCT c.g) AS BIGINT) AS n_shared_grams,
        |  CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
        |FROM g8 c JOIN eval_g e ON c.g = e.g
        |WHERE NOT (c.doc_id % 13 = 0 AND c.doc_id < 1000000)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)),

    // Gopher-style repetition signals: duplicate-2-gram fraction and
    // most-frequent-2-gram fraction per doc — the quality rules that
    // catch boilerplate and degenerate generation loops. Computed
    // entirely with per-row array expressions (no explode, no
    // shuffle): the top-gram count is an O(distinct x n) per-row fold,
    // bounded by document length — the narrow scan-side shape that
    // survives 100 TB, versus an explode + groupBy that shuffles one
    // row per 2-gram of the corpus.
    QueryDef("text_repetition",
      (s, d) => {
        val w = col("w")
        val g = col("g")
        docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"),
            when(size(w) >= 2,
              transform(sequence(lit(1), size(w) - 1),
                i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
              .otherwise(array(concat_ws(" ", w))).as("g"))
          .select(col("doc_id"),
            round(lit(1.0) -
              size(array_distinct(g)).cast(DoubleType) / size(g), 6)
              .as("dup_2gram_frac"),
            round(array_max(transform(array_distinct(g),
                x => size(filter(g, y => y === x)))).cast(DoubleType) / size(g), 6)
              .as("top_2gram_frac"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
        |    AS dup_2gram_frac,
        |  round(CAST(list_max(list_transform(list_distinct(g),
        |      x -> len(list_filter(g, y -> y = x)))) AS DOUBLE) / len(g), 6)
        |    AS top_2gram_frac
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |      ELSE [array_to_string(w, ' ')] END AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
        |ORDER BY doc_id""".stripMargin)),

    // Model-based quality filter — fastText-style hashed-bigram linear
    // classifier INFERENCE as a pure plan, trained inside the same
    // plan from a deterministic labeled split (no external model
    // file). Fixtures: every doc gets a spam-degraded twin (+3M id)
    // with a 12-token spam tail — the labeled quality strata.
    // Features: token bigrams hashed to 2^16 buckets by md5 (the
    // hashing trick — the weight table is bounded at ANY corpus
    // size). Training: multinomial-NB log-odds with add-1 smoothing
    // over the even base ids, frozen to fixed-point micros (the
    // text_perplexity idiom) so the weights are integers both engines
    // agree on bit-for-bit. Inference: each held-out doc (odd base
    // ids) scores as one exact BIGINT dot product; keep =
    // sigmoid(score) > 1/2, which is score > 0 since sigmoid is
    // monotone — the decision needs no cross-engine exp(). Scale
    // shape: the weight table is <= 65536 rows regardless of corpus
    // size (broadcasts forever), training is one groupBy(h) with
    // map-side combine, scoring one narrow per-doc aggregation.
    // QualityModelSpec shows the learned scores separate the strata
    // PERFECTLY on held-out docs while text_quality's stop_ratio
    // cannot (the spam tail barely moves it).
    QueryDef("text_quality_model",
      (s, d) => {
        val (grams, totals, weights) = qualityTrainArtifacts(s, d)
        grams.where(!col("is_train"))
          .join(weights, Seq("h"), "left")
          .crossJoin(broadcast(totals))
          // unseen bucket = the same smoothed log-odds at count 0
          .withColumn("wm", coalesce(col("w_micros"), expr(
            "CAST(floor((ln(1.0 / (npos + 65536.0)) - " +
              "ln(1.0 / (nneg + 65536.0))) * 1000000 + 0.5) AS BIGINT)")))
          .groupBy("doc_id", "label").agg(
            count(lit(1)).cast(LongType).as("n_bigrams"),
            sum(col("wm")).cast(LongType).as("score_micros"))
          .withColumn("keep", col("score_micros") > 0L)
          .select("doc_id", "label", "n_bigrams", "score_micros", "keep")
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text, 1 AS label FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    text || ' click here buy now free winner subscribe today limited offer unsubscribe instantly',
        |    0
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, label, (doc_id % 3000000) % 2 = 0 AS is_train,
        |    string_split(text, ' ') AS w
        |  FROM corpus),
        |grams AS (
        |  SELECT doc_id, label, is_train,
        |    CAST(('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 8))::UBIGINT
        |      % 65536 AS BIGINT) AS h
        |  FROM sp, unnest(range(1, len(w))) t(i)),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
        |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nneg
        |  FROM grams WHERE is_train),
        |wt AS (
        |  SELECT h,
        |    CAST(floor((ln((sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) + 1.0)
        |          / (npos + 65536.0)) -
        |        ln((sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) + 1.0)
        |          / (nneg + 65536.0))) * 1000000 + 0.5) AS BIGINT) AS w_micros
        |  FROM grams, tot WHERE is_train GROUP BY h, npos, nneg),
        |sc AS (
        |  SELECT g.doc_id, g.label,
        |    CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(COALESCE(w.w_micros,
        |      CAST(floor((ln(1.0 / (t.npos + 65536.0)) -
        |        ln(1.0 / (t.nneg + 65536.0))) * 1000000 + 0.5) AS BIGINT)))
        |      AS BIGINT) AS score_micros
        |  FROM grams g LEFT JOIN wt w USING (h), tot t
        |  WHERE NOT g.is_train GROUP BY 1, 2)
        |SELECT doc_id, label, n_bigrams, score_micros, score_micros > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // Classifier EVALUATION for the quality model — the step a real
    // curation pipeline runs before trusting any threshold: rank the
    // HELD-OUT split (is_train = false; the model never saw it) by
    // score, cut into ntile(10) deciles (both engines implement the
    // SQL-standard earlier-buckets-larger rule; the (score, doc_id)
    // order is total, so the split is deterministic), and emit the
    // cumulative threshold-sweep curve: selecting deciles 1..d gives
    // precision_ppm = cum_pos*1e6 div cum_docs, recall_ppm =
    // cum_pos*1e6 div total_pos, and F1 via its integer-exact form
    // 2*TP div (2TP+FP+FN) = 2*cum_pos*1e6 div (cum_docs+total_pos) —
    // no floating point anywhere, so the oracle (which replays
    // training, scoring, and the sweep from scratch in SQL) matches
    // bit-for-bit. Scale shape: the corpus-sized work (tokenize,
    // hash, score) is the same distributed plan as
    // text_quality_model, and the GLOBAL RANKING never collapses to
    // one partition — an unpartitioned ntile window would move the
    // whole eval split (half the doubled corpus, NOT small) through
    // a single task, so the decile assignment instead rides Spark's
    // distributed range-partitioned sort + zipWithIndex (per-
    // partition sizes → driver-side prefix offsets → local index
    // assignment), replicating SQL ntile's earlier-buckets-larger
    // rule arithmetically. 10 rows come out.
    QueryDef("quality_model_eval",
      (s, d) => {
        import s.implicits._
        val (grams, totals, weights) = qualityTrainArtifacts(s, d)
        val scored = grams.where(!col("is_train"))
          .join(weights, Seq("h"), "left")
          .crossJoin(broadcast(totals))
          .withColumn("wm", coalesce(col("w_micros"), expr(
            "CAST(floor((ln(1.0 / (npos + 65536.0)) - " +
              "ln(1.0 / (nneg + 65536.0))) * 1000000 + 0.5) AS BIGINT)")))
          .groupBy("doc_id", "label").agg(
            sum(col("wm")).cast(LongType).as("score_micros"))
          .select(col("doc_id").cast(LongType), col("label").cast(LongType),
            col("score_micros"))
          .as[(Long, Long, Long)]
          // one execution of the corpus-scale scoring subtree: the
          // count() below, orderBy's range-sampling pass, AND
          // zipWithIndex's per-partition count job each re-ran the
          // join+groupBy above (measured 3x the plan's cpu-s) — they
          // now read this materialized 3-long-per-row split instead.
          // A value-keyed histogram decile (curriculum_quality_order's
          // trick) is NOT usable here: score_micros is an unbounded
          // weight sum, so its histogram is corpus-sized, while the
          // oracle's ntile(10) needs exact positions anyway.
          .localCheckpoint()
        val n = scored.count()
        // SQL ntile(10): first (n mod 10) buckets take ceil(n/10) rows
        val ceilSz = (n + 9) / 10
        val floorSz = n / 10
        val rem = n % 10
        val byDecile = scored
          .orderBy(col("score_micros").desc, col("doc_id"))
          .rdd.zipWithIndex
          .map { case ((_, label, _), idx) =>
            val d = if (idx < rem * ceilSz) idx / ceilSz
                    else rem + (idx - rem * ceilSz) / floorSz
            (d + 1, label)
          }
          .toDF("decile", "label")
          .groupBy("decile").agg(
            count(lit(1)).cast(LongType).as("n_docs"),
            sum(col("label")).cast(LongType).as("n_pos"))
        val cumW = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byDecile
          .withColumn("cum_docs", sum(col("n_docs")).over(cumW).cast(LongType))
          .withColumn("cum_pos", sum(col("n_pos")).over(cumW).cast(LongType))
          // total_pos falls out of the 10-row decile table — never
          // re-execute the corpus-scale scoring plan for one number
          .crossJoin(broadcast(
            byDecile.agg(sum(col("n_pos")).cast(LongType).as("total_pos"))))
          .select(col("decile").cast(LongType).as("decile"),
            col("n_docs"), col("n_pos"),
            col("cum_docs"), col("cum_pos"),
            expr("cum_pos * 1000000 div cum_docs").as("precision_ppm"),
            expr("cum_pos * 1000000 div total_pos").as("recall_ppm"),
            expr("2 * cum_pos * 1000000 div (cum_docs + total_pos)")
              .as("f1_ppm"))
          .orderBy("decile")
      },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text, 1 AS label FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    text || ' click here buy now free winner subscribe today limited offer unsubscribe instantly',
        |    0
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, label, (doc_id % 3000000) % 2 = 0 AS is_train,
        |    string_split(text, ' ') AS w
        |  FROM corpus),
        |grams AS (
        |  SELECT doc_id, label, is_train,
        |    CAST(('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 8))::UBIGINT
        |      % 65536 AS BIGINT) AS h
        |  FROM sp, unnest(range(1, len(w))) t(i)),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
        |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nneg
        |  FROM grams WHERE is_train),
        |wt AS (
        |  SELECT h,
        |    CAST(floor((ln((sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) + 1.0)
        |          / (npos + 65536.0)) -
        |        ln((sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) + 1.0)
        |          / (nneg + 65536.0))) * 1000000 + 0.5) AS BIGINT) AS w_micros
        |  FROM grams, tot WHERE is_train GROUP BY h, npos, nneg),
        |sc AS (
        |  SELECT g.doc_id, g.label,
        |    CAST(sum(COALESCE(w.w_micros,
        |      CAST(floor((ln(1.0 / (t.npos + 65536.0)) -
        |        ln(1.0 / (t.nneg + 65536.0))) * 1000000 + 0.5) AS BIGINT)))
        |      AS BIGINT) AS score_micros
        |  FROM grams g LEFT JOIN wt w USING (h), tot t
        |  WHERE NOT g.is_train GROUP BY 1, 2),
        |rk AS (
        |  SELECT label, score_micros,
        |    ntile(10) OVER (ORDER BY score_micros DESC, doc_id) AS decile
        |  FROM sc),
        |db AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(label) AS BIGINT) AS n_pos
        |  FROM rk GROUP BY 1),
        |cum AS (
        |  SELECT decile, n_docs, n_pos,
        |    CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
        |    CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
        |  FROM db),
        |tp AS (SELECT CAST(sum(label) AS BIGINT) AS total_pos FROM rk)
        |SELECT decile, n_docs, n_pos, cum_docs, cum_pos,
        |  CAST(cum_pos * 1000000 // cum_docs AS BIGINT) AS precision_ppm,
        |  CAST(cum_pos * 1000000 // total_pos AS BIGINT) AS recall_ppm,
        |  CAST(2 * cum_pos * 1000000 // (cum_docs + total_pos) AS BIGINT)
        |    AS f1_ppm
        |FROM cum, tp ORDER BY decile""".stripMargin)),

    // DSIR-style importance resampling (Xie et al., "Data Selection
    // for Language Models via Importance Resampling", NeurIPS 2023):
    // score every doc in a raw pool by how much more likely its
    // hashed-feature bag is under a small TARGET domain sample's
    // unigram distribution than under the raw pool's own, then keep
    // the docs the target prefers. Unlike text_quality_model this
    // uses NO labels on the raw pool — only the two corpora.
    // Fixtures: raw pool = every base doc plus an SEO-boilerplate
    // twin (+3M id, 10-marker ad tail); target sample = the clean
    // text of base ids % 7 == 0 (a curated 1/7 slice). Features =
    // word unigrams hashed to 2^14 buckets (the hashing trick — the
    // weight table is bounded at ANY corpus size). Per-bucket weight
    // = ln p_tgt(h) - ln p_raw(h) under add-lambda smoothing with
    // lambda = 0.01: add-ONE would put 16384 pseudo-tokens against a
    // few-thousand-token target sample and drown the real signal
    // (every weight goes negative); lambda = 0.01 keeps pseudo-mass
    // under 5% of either corpus. Weights freeze to fixed-point
    // micros so each doc's score is an exact BIGINT sum both engines
    // agree on bit-for-bit; keep = score > 0. The ad-tail twins
    // score ~ -80 per tail (their markers have target mass 0) while
    // clean docs score positive (raw is diluted by the spam mass the
    // target lacks) — DsirSpec pins the separation. Scale shape: two
    // bounded groupBy(h) passes with map-side combine into a
    // <= 16384-row broadcast weight table; scoring explodes tokens
    // but partial-aggregates back to one row per doc BEFORE the
    // shuffle. Nothing grows with corpus size except the narrow
    // scans.
    QueryDef("dsir_select",
      (s, d) => {
        val ads = "cheap deals discount coupon promo sale advertisement " +
          "sponsored affiliate clickbait"
        val base = docs(s, d).select(col("doc_id"), col("text"))
        val raw = base.unionByName(base.select(
          (col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" " + ads)).as("text")))
        def hashToks(df: DataFrame): DataFrame = df
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", conv(substring(md5s(col("tok")), 1, 8), 16, 10)
            .cast(LongType) % 16384L)
        // raw tokens feed the raw distribution AND the scoring pass
        val rawToks = hashToks(raw).localCheckpoint()
        val tgtToks = hashToks(base.where(col("doc_id") % 7 === 0))
        val totals = rawToks.agg(count(lit(1)).cast(LongType).as("nraw"))
          .crossJoin(tgtToks.agg(count(lit(1)).cast(LongType).as("ntgt")))
        val weights = rawToks.groupBy("h")
          .agg(count(lit(1)).as("craw"))
          .join(tgtToks.groupBy("h").agg(count(lit(1)).as("ctgt")),
            Seq("h"), "left")
          .na.fill(0L, Seq("ctgt"))
          .crossJoin(broadcast(totals))
          .withColumn("w_micros", expr(
            "CAST(floor((ln((ctgt + 0.01) / (ntgt + 163.84)) - " +
              "ln((craw + 0.01) / (nraw + 163.84))) * 1000000 + 0.5) AS BIGINT)"))
          .select("h", "w_micros")
        rawToks.join(broadcast(weights), "h")
          .groupBy("doc_id").agg(
            count(lit(1)).cast(LongType).as("n_tokens"),
            sum("w_micros").cast(LongType).as("score_micros"))
          .withColumn("keep", col("score_micros") > 0L)
          .select("doc_id", "n_tokens", "score_micros", "keep")
          .orderBy("doc_id")
      },
      Some("""WITH raw AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    text || ' cheap deals discount coupon promo sale advertisement sponsored affiliate clickbait'
        |  FROM documents),
        |raw_toks AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 16384 AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM raw)),
        |tgt_toks AS (
        |  SELECT CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 16384 AS BIGINT) AS h
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE doc_id % 7 = 0)),
        |tot AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM raw_toks) AS nraw,
        |         (SELECT CAST(count(*) AS BIGINT) FROM tgt_toks) AS ntgt),
        |wt AS (
        |  SELECT r.h,
        |    CAST(floor((ln((COALESCE(t.ctgt, 0) + 0.01) / (ntgt + 163.84)) -
        |        ln((r.craw + 0.01) / (nraw + 163.84))) * 1000000 + 0.5)
        |      AS BIGINT) AS w_micros
        |  FROM (SELECT h, CAST(count(*) AS BIGINT) AS craw
        |        FROM raw_toks GROUP BY h) r
        |  LEFT JOIN (SELECT h, CAST(count(*) AS BIGINT) AS ctgt
        |             FROM tgt_toks GROUP BY h) t USING (h), tot)
        |SELECT rt.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(w.w_micros) AS BIGINT) AS score_micros,
        |  CAST(sum(w.w_micros) AS BIGINT) > 0 AS keep
        |FROM raw_toks rt JOIN wt w USING (h)
        |GROUP BY rt.doc_id ORDER BY rt.doc_id""".stripMargin)),

    // Temperature-based corpus resampling (the multilingual-mixing
    // rule of XLM-R / mBERT: sample sources with probability
    // proportional to p^alpha, alpha = 0.3, so low-resource sources
    // are boosted relative to their raw share). Realized by
    // SUBSAMPLING only — upsampling duplicates data — so rates scale
    // until the most-boosted (smallest) source keeps everything:
    // rate_i = (p_i^alpha / p_i) / max_j(p_j^alpha / p_j)
    //        = exp(-0.7 ln p_i) / max_j exp(-0.7 ln p_j).
    // Since max_j boost is attained at the smallest source, the rate
    // collapses to (tokens_min / tokens_i)^0.7 — total_tokens cancels.
    // That form is computed as ONE pow over a double division of two
    // exact integers: BIGINT->DOUBLE is exact (< 2^53) and IEEE
    // division is correctly rounded, so both engines feed pow the
    // bit-identical input. Residual cross-engine exposure is the
    // single pow call (Java Math.pow is within 1 ulp, not correctly
    // rounded) — documented like the other ln-based queries, but
    // strictly smaller than the old exp(-0.7*ln p)/max form (two
    // transcendentals per source plus a division of two
    // error-carrying doubles). Rates freeze to micros; each doc
    // keeps iff its md5 bucket (uniform in [0, 1e6)) clears its
    // source's rate — the same deterministic, retry-stable sampling
    // as sample_stratified. Shares are exact integer divisions
    // (micros `div`), so the result hash-matches bit-for-bit.
    // Scale shape: the rate table
    // is one row per SOURCE (bounded, broadcasts forever); the
    // doc-level pass is scan -> broadcast join -> filter ->
    // groupBy(source) with map-side combine. No corpus-sized
    // shuffle anywhere; at 100 TB this is one pass over the scan.
    QueryDef("corpus_mix_temperature",
      (s, d) => {
        val perDoc = docs(s, d)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
        // srcTok and kept are one row per SOURCE — localCheckpoint
        // the tiny tables (never corpus-sized perDoc) so the four
        // broadcast-subquery jobs downstream don't each re-run the
        // corpus scan chain above them
        val srcTok = perDoc.groupBy("source")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum("n_tokens").cast(LongType).as("tokens"))
          .localCheckpoint()
        val tot = srcTok.agg(sum("tokens").cast(LongType).as("total_tokens"))
        val mn = srcTok.agg(min("tokens").cast(LongType).as("min_tokens"))
        val rates = srcTok.crossJoin(broadcast(tot)).crossJoin(broadcast(mn))
          .withColumn("rate_micros", expr(
            "CAST(floor(pow(CAST(min_tokens AS DOUBLE) / " +
              "CAST(tokens AS DOUBLE), 0.7) * 1000000 + 0.5) AS BIGINT)"))
          .select("source", "n_docs", "tokens", "total_tokens", "rate_micros")
        val kept = perDoc
          .withColumn("bucket",
            conv(substring(md5s(col("doc_id").cast(StringType)), 1, 8), 16, 10)
              .cast(LongType) % 1000000L)
          .join(broadcast(rates), "source")
          .groupBy("source", "n_docs", "tokens", "total_tokens", "rate_micros")
          .agg(
            sum(when(col("bucket") < col("rate_micros"), 1L).otherwise(0L))
              .cast(LongType).as("kept_docs"),
            sum(when(col("bucket") < col("rate_micros"), col("n_tokens"))
              .otherwise(0L)).cast(LongType).as("kept_tokens"))
          .localCheckpoint()
        val totKept = kept.agg(sum("kept_tokens").cast(LongType).as("total_kept"))
        kept.crossJoin(broadcast(totKept))
          .select(col("source"), col("n_docs"), col("tokens"), col("rate_micros"),
            col("kept_docs"), col("kept_tokens"),
            expr("tokens * 1000000L div total_tokens").as("share_before_micros"),
            expr("kept_tokens * 1000000L div total_kept").as("share_after_micros"))
          .orderBy("source")
      },
      Some("""WITH per_doc AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |src_tok AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS tokens
        |  FROM per_doc GROUP BY source),
        |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens FROM src_tok),
        |mn AS (SELECT CAST(min(tokens) AS BIGINT) AS min_tokens FROM src_tok),
        |rates AS (
        |  SELECT source, n_docs, tokens, total_tokens,
        |    CAST(floor(pow(CAST(min_tokens AS DOUBLE) / CAST(tokens AS DOUBLE),
        |      0.7) * 1000000 + 0.5) AS BIGINT) AS rate_micros
        |  FROM src_tok, tot, mn),
        |kept AS (
        |  SELECT p.source, r.n_docs, r.tokens, r.total_tokens, r.rate_micros,
        |    CAST(sum(CASE WHEN
        |        CAST(('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |          % 1000000 AS BIGINT) < r.rate_micros
        |      THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |    CAST(sum(CASE WHEN
        |        CAST(('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8))::UBIGINT
        |          % 1000000 AS BIGINT) < r.rate_micros
        |      THEN p.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
        |  FROM per_doc p JOIN rates r USING (source)
        |  GROUP BY 1, 2, 3, 4, 5),
        |tk AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS total_kept FROM kept)
        |SELECT source, n_docs, tokens, rate_micros, kept_docs, kept_tokens,
        |  (tokens * 1000000) // total_tokens AS share_before_micros,
        |  (kept_tokens * 1000000) // total_kept AS share_after_micros
        |FROM kept, tk ORDER BY source""".stripMargin)),

    // Deterministic epoch shuffle into training shards — the step
    // between "curated corpus" and "what the dataloader reads": each
    // epoch permutes the corpus by md5(epoch, doc_id) (a new
    // independent order per epoch, reproducible under retries — the
    // same hash-not-rand rule as the sample_* family), assigns every
    // doc to one of 4 shards by a DIFFERENT hash bit-range (so shard
    // membership and intra-shard order are independent), and numbers
    // docs within (epoch, shard). Scale shape: ONE shuffle per epoch
    // on the shard key; the position window partitions by
    // (epoch, shard) — 100 TB divides into n_shards independent
    // sorts, each a fraction of the corpus, never a global order.
    // A real run writes partitionBy(epoch, shard) sorted-within —
    // this query emits the layout's first rows per shard so the
    // oracle pins permutation + assignment + numbering exactly.
    QueryDef("shuffle_epoch",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val epochs = s.range(0, 2).select(col("id").cast(IntegerType).as("epoch"))
        val keyed = docs(s, d).select(col("doc_id"))
          .crossJoin(broadcast(epochs))
          .withColumn("ek", md5s(concat(col("epoch").cast(StringType),
            lit(":"), col("doc_id").cast(StringType))))
          .withColumn("shard",
            (conv(substring(col("ek"), 9, 4), 16, 10).cast(LongType) % 4L)
              .cast(IntegerType))
        val w = Window.partitionBy("epoch", "shard")
          .orderBy(col("ek"), col("doc_id"))
        keyed
          .withColumn("pos", row_number().over(w).cast(LongType))
          .where(col("pos") <= 5)
          .select("epoch", "shard", "pos", "doc_id")
          .orderBy("epoch", "shard", "pos")
      },
      Some("""WITH keyed AS (
        |  SELECT e.epoch, d.doc_id,
        |    md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS ek
        |  FROM documents d, (SELECT unnest([0, 1]) AS epoch) e),
        |sharded AS (
        |  SELECT epoch, doc_id, ek,
        |    CAST(('0x' || substr(ek, 9, 4))::UBIGINT % 4 AS INT) AS shard
        |  FROM keyed)
        |SELECT epoch, shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, shard
        |    ORDER BY ek, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM sharded QUALIFY pos <= 5 ORDER BY epoch, shard, pos""".stripMargin)),

    // Single-pass column profiler over the events stream — the
    // ANALYZE-TABLE / data-governance op every warehouse runs before
    // trusting a feed: row count, null counts, distinct cardinality,
    // value ranges, and string lengths for every column, computed in
    // ONE aggregate over one scan (Catalyst expands the multi-
    // distinct into one Expand + shuffle; every non-distinct metric
    // map-side combines). Long-format output (column, metric, value)
    // so the metric set can grow without schema changes. Exact
    // distincts here because the oracle needs bit-equality; at
    // 100 TB you'd swap them for the mergeable HLL registers
    // sketch_hll_distinct/merge already prove out — the rest of the
    // profile is a pure one-pass aggregate at any scale. Timestamps
    // profile as epoch micros (ts arrives as nanos LONG; div 1000 =
    // DuckDB epoch_us), exact in DOUBLE below 2^53.
    QueryDef("stats_profile",
      (s, d) => {
        val ev = Records.events(s, d)
          .withColumn("ts_us", expr("ts div 1000"))
        val wide = ev.agg(
          count(lit(1)).cast(DoubleType).as("n_rows"),
          countDistinct("event_id").cast(DoubleType).as("event_id_distinct"),
          countDistinct("user_id").cast(DoubleType).as("user_id_distinct"),
          countDistinct("event_type").cast(DoubleType).as("event_type_distinct"),
          sum(when(col("value").isNull, 1L).otherwise(0L))
            .cast(DoubleType).as("value_nulls"),
          round(min("value"), 6).as("value_min"),
          round(max("value"), 6).as("value_max"),
          min("ts_us").cast(DoubleType).as("ts_min_us"),
          max("ts_us").cast(DoubleType).as("ts_max_us"),
          round(avg(length(col("props"))), 6).as("props_avg_len"),
          max(length(col("props"))).cast(DoubleType).as("props_max_len"))
        wide.select(expr(
          """stack(11,
             'event_id', 'distinct', event_id_distinct,
             'event_type', 'distinct', event_type_distinct,
             'props', 'avg_len', props_avg_len,
             'props', 'max_len', props_max_len,
             'table', 'n_rows', n_rows,
             'ts', 'max_us', ts_max_us,
             'ts', 'min_us', ts_min_us,
             'user_id', 'distinct', user_id_distinct,
             'value', 'max', value_max,
             'value', 'min', value_min,
             'value', 'nulls', value_nulls
             ) AS (col_name, metric, value)"""))
          .orderBy("col_name", "metric")
      },
      Some("""WITH ev AS (
        |  SELECT *, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        |wide AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_rows,
        |    CAST(count(DISTINCT event_id) AS DOUBLE) AS event_id_distinct,
        |    CAST(count(DISTINCT user_id) AS DOUBLE) AS user_id_distinct,
        |    CAST(count(DISTINCT event_type) AS DOUBLE) AS event_type_distinct,
        |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS value_nulls,
        |    round(min(value), 6) AS value_min,
        |    round(max(value), 6) AS value_max,
        |    CAST(min(ts_us) AS DOUBLE) AS ts_min_us,
        |    CAST(max(ts_us) AS DOUBLE) AS ts_max_us,
        |    round(avg(length(props)), 6) AS props_avg_len,
        |    CAST(max(length(props)) AS DOUBLE) AS props_max_len
        |  FROM ev)
        |SELECT col_name, metric, value FROM (
        |  SELECT 'event_id' AS col_name, 'distinct' AS metric,
        |    event_id_distinct AS value FROM wide
        |  UNION ALL SELECT 'event_type', 'distinct', event_type_distinct FROM wide
        |  UNION ALL SELECT 'props', 'avg_len', props_avg_len FROM wide
        |  UNION ALL SELECT 'props', 'max_len', props_max_len FROM wide
        |  UNION ALL SELECT 'table', 'n_rows', n_rows FROM wide
        |  UNION ALL SELECT 'ts', 'max_us', ts_max_us FROM wide
        |  UNION ALL SELECT 'ts', 'min_us', ts_min_us FROM wide
        |  UNION ALL SELECT 'user_id', 'distinct', user_id_distinct FROM wide
        |  UNION ALL SELECT 'value', 'max', value_max FROM wide
        |  UNION ALL SELECT 'value', 'min', value_min FROM wide
        |  UNION ALL SELECT 'value', 'nulls', value_nulls FROM wide)
        |ORDER BY col_name, metric""".stripMargin)),

    // RAG-style document chunking: fixed-size token windows with
    // overlap (size 64, stride 48 — the 25% overlap retrieval
    // ingestion defaults to so no answer span straddles a boundary
    // unseen), emitted as exact (chunk_id, tok_start, tok_end) spans
    // plus the chunk text. The complement of pack_sequences: packing
    // concatenates ACROSS docs to fill a training budget; chunking
    // splits WITHIN a doc for retrieval. Scale shape: pure per-row
    // array expressions — transform over a precomputed token array,
    // one explode, no shuffle at all; the scan parallelism IS the
    // operator's parallelism at any corpus size. Short docs yield
    // one whole-doc chunk; the final window is the tail remainder
    // (never padded, never dropped).
    QueryDef("chunk_documents",
      (s, d) => {
        val w = col("w")
        docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), size(w).as("n_tokens"), explode(expr(
            """transform(
                 sequence(0, greatest(0, CAST(ceil((size(w) - 64) / 48.0) AS INT))),
                 c -> named_struct(
                   'chunk_id', CAST(c AS BIGINT),
                   'tok_start', CAST(c * 48 AS BIGINT),
                   'tok_end', CAST(least(c * 48 + 64, size(w)) AS BIGINT),
                   'chunk_text', array_join(slice(w, c * 48 + 1,
                     least(64, size(w) - c * 48)), ' ')))"""))
            .as("c"))
          .select(col("doc_id"), col("n_tokens").cast(LongType).as("n_tokens"),
            col("c.chunk_id"), col("c.tok_start"), col("c.tok_end"),
            col("c.chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(c AS BIGINT) AS chunk_id,
        |  CAST(c * 48 AS BIGINT) AS tok_start,
        |  CAST(least(c * 48 + 64, len(w)) AS BIGINT) AS tok_end,
        |  array_to_string(w[c * 48 + 1 : least(c * 48 + 64, len(w))], ' ')
        |    AS chunk_text
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |  unnest(range(0,
        |    greatest(0, CAST(ceil((len(w) - 64) / 48.0) AS BIGINT)) + 1)) t(c)
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // Incremental NEAR-dup against a stored index — the minhash
    // complement of dedup_bloom's exact-membership filter, and the
    // shape a continuous crawl actually runs: the base corpus is
    // signed ONCE into a band-bucket index (4 band keys per doc — in
    // production a stored, bucket-partitioned table; never
    // re-signatured per batch), and each incoming doc probes only
    // the buckets its own 4 band keys hit. Probe cost is
    // batch-size x bucket-size, independent of corpus size; the
    // BandBucketCap drops degenerate boilerplate buckets on the
    // INDEX side (same mitigation as dedup_minhash_lsh). Candidates
    // verify by exact jaccard; >= 0.5 = near-dup. The incoming batch
    // mixes re-crawls under fresh ids (must hit at jaccard 1.0),
    // suffix revisions (high jaccard; a short doc CAN miss all 4
    // bands — honest LSH recall, identical in both engines), and
    // genuinely new docs under a disjoint vocabulary (must find 0
    // candidates).
    QueryDef("dedup_minhash_index",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // branches from the raw scan; the base side fans out once for
        // its shingle pass, the incoming union once after assembly
        val baseRaw = docsRaw(s, d).select(col("doc_id"), col("text"))
        val base = QueryDef.fanOut(baseRaw)
        val incoming = QueryDef.fanOut(baseRaw.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text"))
          .unionByName(baseRaw.where(col("doc_id") % 19 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"),
              concat(col("text"), lit(" updated revision suffix")).as("text")))
          .unionByName(baseRaw.where(col("doc_id") % 23 === 0)
            .select((col("doc_id") + 6000000L).as("doc_id"),
              concat_ws(" ", expr(
                "transform(split(text, ' '), x -> concat(x, '-x'))")).as("text"))))
        val baseSh = shingles(base).localCheckpoint()
        val incSh = shingles(incoming).localCheckpoint()
        val idx = minhashBands(baseSh)
        val idxCapped = idx.join(
          idx.groupBy("band", "band_key").agg(count(lit(1)).as("bsz"))
            .where(col("bsz") <= BandBucketCap)
            .select("band", "band_key"),
          Seq("band", "band_key"))
          .select(col("doc_id").as("base_id"), col("band"), col("band_key"))
        val cands = minhashBands(incSh)
          .join(idxCapped, Seq("band", "band_key"))
          .select(col("doc_id").as("doc_a"), col("base_id").as("doc_b"))
          .distinct()
          .localCheckpoint()
        val nCand = cands.groupBy("doc_a")
          .agg(count(lit(1)).cast(LongType).as("n_candidates"))
        val verified = jaccardFor(cands, baseSh.unionByName(incSh))
        val wBest = Window.partitionBy("doc_a")
          .orderBy(col("jaccard").desc, col("doc_b"))
        val best = verified
          .withColumn("rn", row_number().over(wBest))
          .where(col("rn") === 1)
          .select(col("doc_a"), col("doc_b").as("best_match"),
            col("jaccard").as("best_jaccard"))
        incoming.select(col("doc_id"))
          .join(nCand.withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left")
          .join(best.withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("doc_id") >= 6000000L, "new")
              .when(col("doc_id") >= 5000000L, "revision")
              .otherwise("recrawl").as("kind"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            col("best_match"),
            col("best_jaccard"),
            coalesce(col("best_jaccard") >= 0.5, lit(false)).as("is_dup"))
          .orderBy("doc_id")
      },
      Some {
        val minCols = (0 until 16)
          .map(i => s"min(substr(md5('${i / 4}:' || sh), ${1 + 8 * (i % 4)}, 8)) AS h$i")
          .mkString(", ")
        def bandRows(minh: String) = (0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, md5(h${4 * b} || '|' || h${4 * b + 1} || '|' " +
            s"|| h${4 * b + 2} || '|' || h${4 * b + 3}) AS band_key FROM $minh")
          .mkString("\n  UNION ALL\n  ")
        def shCte(src: String) = TextOps.shinglesSqlOver(src)
        s"""WITH inc AS (
        |  SELECT doc_id + 4000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 5000000, text || ' updated revision suffix'
        |  FROM documents WHERE doc_id % 19 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000000,
        |    array_to_string(list_transform(string_split(text, ' '), x -> x || '-x'), ' ')
        |  FROM documents WHERE doc_id % 23 = 0),
        |base_sh AS (${shCte("documents")}),
        |inc_sh AS (${shCte("inc")}),
        |all_sh AS (SELECT * FROM base_sh UNION ALL SELECT * FROM inc_sh),
        |base_minh AS (SELECT doc_id, $minCols FROM base_sh GROUP BY doc_id),
        |inc_minh AS (SELECT doc_id, $minCols FROM inc_sh GROUP BY doc_id),
        |base_bands AS (
        |  ${bandRows("base_minh")}),
        |inc_bands AS (
        |  ${bandRows("inc_minh")}),
        |idx_c AS (
        |  SELECT b.doc_id AS base_id, b.band, b.band_key FROM base_bands b
        |  JOIN (SELECT band, band_key FROM base_bands
        |        GROUP BY 1, 2 HAVING count(*) <= $BandBucketCap) s
        |    USING (band, band_key)),
        |cands AS (
        |  SELECT DISTINCT i.doc_id AS doc_a, x.base_id AS doc_b
        |  FROM inc_bands i JOIN idx_c x USING (band, band_key)),
        |counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
        |  FROM all_sh GROUP BY 1),
        |common AS (
        |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS common
        |  FROM cands c
        |  JOIN all_sh a ON a.doc_id = c.doc_a
        |  JOIN all_sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT m.doc_a, m.doc_b,
        |    round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) AS jaccard
        |  FROM common m
        |  JOIN counts na ON na.doc_id = m.doc_a
        |  JOIN counts nb ON nb.doc_id = m.doc_b),
        |ncand AS (SELECT doc_a, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM cands GROUP BY 1),
        |best AS (
        |  SELECT doc_a, doc_b, jaccard FROM verified
        |  QUALIFY row_number() OVER (PARTITION BY doc_a
        |    ORDER BY jaccard DESC, doc_b) = 1)
        |SELECT i.doc_id,
        |  CASE WHEN i.doc_id >= 6000000 THEN 'new'
        |       WHEN i.doc_id >= 5000000 THEN 'revision'
        |       ELSE 'recrawl' END AS kind,
        |  COALESCE(n.n_candidates, 0) AS n_candidates,
        |  b.doc_b AS best_match,
        |  b.jaccard AS best_jaccard,
        |  COALESCE(b.jaccard >= 0.5, FALSE) AS is_dup
        |FROM inc i
        |LEFT JOIN ncand n ON n.doc_a = i.doc_id
        |LEFT JOIN best b ON b.doc_a = i.doc_id
        |ORDER BY i.doc_id""".stripMargin
      })
  )
}
