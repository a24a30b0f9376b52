package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** Scale-hygiene regression gate over PHYSICAL PLANS, not results: the
  * correctness oracle can't see a plan regression (an accidental
  * cartesian product, a lost broadcast, an extra corpus-wide shuffle
  * produce the same rows, slower), so this spec pins each audited
  * query's hash-shuffle budget and bans CartesianProduct outright.
  * Budgets are the CURRENT plan's exchange counts at the fixture SF —
  * a failure means the plan changed, which is exactly when a human
  * should re-audit the query, not that the new plan is necessarily
  * wrong (update the budget after re-auditing).
  *
  * Broadcast counts are deliberately NOT pinned: un-hinted joins may
  * flip broadcast <-> SMJ with input statistics, and that adaptivity
  * is desired (dedup_near_edit's block self-join broadcasts at this
  * SF and merge-joins at scale).
  */
class PlanShapeSpec extends AnyFunSuite with LocalSpark {

  private def sfDir: String = graft.TestData.requireSf("sf0.001")

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  // (query, max hash-partitioning exchanges in the plan)
  private val budgets = Seq(
    "dedup_exact" -> 1,
    "dedup_url" -> 2,
    "dedup_minhash_lsh" -> 5,
    // shingle groupBy + pair agg + two count joins + final sort side
    "dedup_ngram_jaccard" -> 5,
    // 32 vote aggregates in ONE groupBy; no per-bit row explosion
    "dedup_simhash" -> 2,
    // df agg feeding TakeOrdered — never a global row_number window
    "text_top_ngrams" -> 2,
    // md5-bucket assignment + the per-split count summary
    "sample_split" -> 2,
    // shingle-group + pair agg + two count joins (one broadcasts at
    // this SF) + the final orderBy-side exchange
    "dedup_charngram" -> 5,
    "dedup_near_edit" -> 2,     // 0 when the block join broadcasts
    "dedup_containment" -> 4,
    "text_keyphrase_tfidf" -> 4,
    "text_bm25_topk" -> 6,
    "sample_quality_threshold" -> 3,
    "stats_drift" -> 7,
    "rank_fusion_rrf" -> 6,
    "ann_bruteforce_topk" -> 1,
    // two agg argmaxes + the tiny anchor⟕pos⟕neg join (all three
    // exchanges move <= 2 rows/anchor; the corpus join broadcasts)
    "mine_hard_negatives" -> 3,
    "text_boilerplate_lines" -> 6,
    // both top-k window arms shuffle on q_id, then every remaining
    // exchange (arm⋈arm, hits agg, anchor⟕hits) moves <= 10 rows/query
    "ann_matryoshka_recall" -> 6,
    "j3_asof_join" -> 1,        // the whole point: union + ONE shuffle
    "w3_funnel" -> 3,
    // the MG point: candidate distinct + candidate recount only —
    // never a full-vocabulary shuffle (the corpus join broadcasts)
    "sketch_topk_mg" -> 2,
    // char counts + per-doc lengths + final doc agg; the counts⋈dl
    // join broadcasts (O(docs) rows); alphabet bounds the fanout
    "text_entropy" -> 4,
    // model tables (ctx/cont aggs over the checkpointed bigram table)
    // feed broadcasts; the held-out stream shuffles once for its
    // per-doc agg — never on the corpus join
    "text_perplexity_kn" -> 3,
    // two gram-count groupBys + per-doc top window + the two stat
    // joins back onto base (doc-keyed; broadcastable at small SF)
    "text_gopher_repetition" -> 5,
    // perDoc agg + firstOcc groupBy + the two 10-row-broadcast
    // cumulative aggs (cps itself is checkpointed — its corpus agg
    // must never be planned twice)
    "stats_heaps_law" -> 6,
    "stats_dup_rate_by_source" -> 2,
    // cands + est signature join + candidate-restricted jaccard + the
    // final 17-bucket agg; sh/sig subtrees sit behind checkpoints
    "dedup_minhash_eval" -> 9,
    // per-query top-k window + vote agg; the corpus side broadcasts
    // against the 50-query probe, never shuffles on it
    "ann_knn_accuracy" -> 3,
    // train distinct + the gram-keyed anti join + two per-doc aggs —
    // gram-keyed shuffles only, never doc-pairwise
    "stats_ngram_novelty" -> 4,
    "text_lang_confusion" -> 4,
    // band-bucket agg + candidate distinct + final sort; the two
    // hash-lookup joins broadcast (hashes sit behind a checkpoint)
    "mm12_image_phash" -> 3,
    "mm13_audio_fingerprint" -> 3,
    "mm14_video_phash" -> 3,
    // CC labels sit behind per-round checkpoints; what remains is the
    // size agg + join-back + sort
    "dedup_phash_cluster" -> 3,
    // members⋈score joins + the per-cluster argmax agg + the final
    // sort side (CC labels sit behind checkpoints); more means the
    // argmax became a window or the score projection started
    // shuffling the corpus
    "dedup_keep_best" -> 4,
    // gram distinct (checkpointed) + gram-keyed pair join + the two
    // count aggs; source-count tables broadcast
    "stats_contamination_matrix" -> 4,
    // assignment behind a checkpoint; per-(np,q) windows, the
    // approx⋈brute semi join (both sides <= 10 rows/query/np at any
    // scale), and the 4-row curve agg
    "ann_recall_curve" -> 5,
    // explode x 6 lengths -> one agg; totals broadcast
    "stats_seqlen_coverage" -> 2,
    // decile via the bounded 1001-row histogram broadcast back onto
    // the corpus — the whole point is NO corpus-sized window/sort
    // before the final ordering
    "curriculum_quality_order" -> 3,
    // one mapPartitions dispatch + the final sort; a hash exchange
    // here would mean the router started shuffling blobs
    "mm15_modality_router" -> 0,
    "mm16_image_resize" -> 0,
    "mm17_audio_resample" -> 0,
    // MJPEG decode is one mapPartitions pass; a hash exchange would
    // mean compressed video blobs started shuffling
    "mm18_mjpeg_frames" -> 0,
    // RLE8 inter-frame decode: same single-pass shape — the canvas
    // lives inside the decoder, never in an exchange
    "mm19_rle_frames" -> 0,
    // pure per-row regex stats; any exchange means text started moving
    "text_token_count_regex" -> 0,
    "emb_quantize_error" -> 0,
    // bucketed prefix sum: (lang,bucket) window + bases agg + final agg
    "stats_pack_efficiency" -> 4,
    // line explode + poison unions feed ONE per-doc aggregate; a
    // second hash exchange would mean the line table started joining
    "text_c4_rules" -> 1,
    // (cluster, sub)-keyed cell self-join with the SemCellCap LSH
    // sub-bucketing, assignments behind a localCheckpoint: the
    // assignment⋈embedding attach, the cell-size agg, and the two
    // self-join sides shuffling on the blocking key. More means a
    // corpus-keyed shuffle crept in before blocking (or the Lloyd
    // subtree started replaying per join side again).
    "dedup_semantic_kmeans" -> 4,
    // gram-ownership agg + flagged join + removed-idx distinct + the
    // token anti-join + per-doc rewrite agg + final sort; more means
    // span removal started a pairwise or corpus-keyed shuffle
    "text_substring_remove" -> 3)
  // ann_pq_learned is not budgeted: its top-50 candidate table is an
  // eager localCheckpoint (feeds recall AND the final join), so the
  // final plan string is vacuous; its training chain is hash-agg
  // argmin + broadcast joins by construction (see the query comment)
  // ann_knn_accuracy / rank_ndcg_eval are not budgeted: their
  // brute-force probe subtree runs inside an eager localCheckpoint
  // (review-added to avoid double-planning), so the final plan
  // string is vacuous
  // emb_outlier_centroid is not budgeted: its per-vector scores run
  // inside an eager localCheckpoint() (like emb_pca_*), so the final
  // plan string is vacuous
  // rank_mmr_diversify and emb_pca_* are deliberately NOT budgeted:
  // like corpus_mix_temperature below, their heavy subplans run inside
  // eager localCheckpoint() jobs, so the final plan string is vacuous

  test("no audited query plans a CartesianProduct") {
    budgets.foreach { case (name, _) =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("hash-shuffle budgets hold (a new Exchange means re-audit the plan)") {
    budgets.foreach { case (name, budget) =>
      val n = hashExchanges(plan(name))
      assert(n <= budget,
        s"$name now plans $n hash exchanges (budget $budget) — " +
          "the plan changed, re-audit before raising the budget")
    }
  }

  test("sketch-only modes drop the exact companion from the plan " +
    "(the audit's global distinct never runs on the production path)") {
    // Each audit query's sketch-only mode must plan WITHOUT the exact
    // companion: the output alias of the exact branch is absent from
    // the physical plan string, and item-granularity aggregation is
    // gone after the sketch build. The audit-mode plan keeps them (the
    // contrast proves the assertion isn't vacuous).
    def p(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val d = sfDir

    val hllAudit = p(AnalyticsOps.hllMergeStats(spark, d, withExact = true))
    val hllSketch = p(AnalyticsOps.hllMergeStats(spark, d, withExact = false))
    assert(hllAudit.contains("exact_distinct"), "audit mode lost its audit")
    assert(!hllSketch.contains("exact_distinct"),
      "sketch-only hll_merge still plans the exact distinct")
    // the one item-keyed aggregation the audit needs (count(DISTINCT
    // item) for the UNION row) must be gone: no aggregate keys on item
    assert("""HashAggregate\(keys=\[[^\]]*\bitem#""".r
      .findFirstIn(hllSketch).isEmpty,
      "sketch-only hll_merge still aggregates at item granularity")

    val evalAudit = p(CorpusOps.minhashEvalStats(spark, d, withExact = true))
    val evalSketch = p(CorpusOps.minhashEvalStats(spark, d, withExact = false))
    assert(evalAudit.contains("jmicros"), "audit mode lost its audit")
    assert(!evalSketch.contains("jmicros"),
      "sketch-only minhash_eval still plans the exact-jaccard join")

    val qAudit = p(CorpusOps.embQuantizeStats(spark, d, withError = true))
    val qSketch = p(CorpusOps.embQuantizeStats(spark, d, withError = false))
    assert(qAudit.contains("mse_int8"), "audit mode lost its audit")
    assert(!qSketch.contains("mse_int8") && !qSketch.contains("mse_sign"),
      "error-free quantize mode still plans the MSE recompute")

    import org.apache.spark.sql.functions.col
    val items = TextOps.docs(spark, d)
      .select(col("text").as("item"))
    val deAudit = p(AnalyticsOps.hllEstimate(items, withExact = true))
    val deSketch = p(AnalyticsOps.hllEstimate(items, withExact = false))
    assert(deAudit.contains("exact_distinct") &&
      !deSketch.contains("exact_distinct"),
      "sketch-only hll_distinct still plans the exact distinct")
  }

  // corpus_mix_temperature is deliberately NOT budgeted: its
  // corpus-side groupBys run inside eager localCheckpoint() jobs
  // during query construction, so the final executedPlan string shows
  // 0 exchanges REGARDLESS of upstream shape — a budget there would
  // be a vacuous assertion, not a gate (review-caught). Queries whose
  // checkpointed subplans dominate need job-level auditing
  // (tools.QueryProfile's jobs/stages/tasks), not plan-string budgets.
  test("the final temperature plan consumes only broadcast dims") {
    val p = plan("corpus_mix_temperature")
    assert(p.contains("BroadcastExchange"),
      "rate table should broadcast")
  }

  test("as-of join plans exactly one shuffle and no join node") {
    val p = plan("j3_asof_join")
    assert(hashExchanges(p) == 1)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of should be the union+window form, not a join")
  }
}
