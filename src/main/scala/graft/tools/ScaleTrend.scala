package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Measure

/** Scale-trend audit: growth exponents across sf0.001 / 0.01 / 0.1.
  *
  * The single-sf bench can say "slower than last round" but not
  * "superlinear": a bucketed-dedup query whose candidate set grows
  * O(df²) looks fine at one scale and explodes at the next. This tool
  * runs queries at the three generated scales and fits the growth
  * exponent over each decade:
  *
  *   exponent = log10( cost(10·n) / cost(n) )
  *
  * so linear work → ~1.0, quadratic → ~2.0. Cost is the process-CPU
  * seconds of [[graft.Measure.run]] (min of `reps` passes), not wall: CPU barely moves under
  * external host load (the same corroboration BenchRegressionSpec
  * uses), which makes the exponent reproducible on a busy machine.
  * The LAST decade (0.01 → 0.1) is the verdict decade — at sf0.001
  * fixed overhead (job setup, codegen) dominates and exponents are
  * meaninglessly flat.
  *
  * Library surface (`measure`) is what ScaleTrendSpec gates on; the
  * `main` prints one JSON line per query plus a summary for ad-hoc
  * audits (`runMain graft.tools.ScaleTrend [query ...]`).
  */
object ScaleTrend {

  /** The audit set: every bucketed/blocked dedup query (the df²
    * failure class the audit exists to catch) plus the hottest
    * text/embedding pipelines from the bench tail.
    */
  val DedupBucketed: Seq[String] = Seq(
    "dedup_minhash_lsh",
    "dedup_minhash_index",
    "dedup_ngram_prefix",
    "dedup_simhash",
    "dedup_embedding_cosine",
    // cell self-join under the SemCellCap sub-bucketing — the exact
    // query class (one hot cell going quadratic) this audit catches
    "dedup_semantic_kmeans",
    "dedup_cluster_cc",
    // keep-best rides the same CC chain plus a per-cluster argmax —
    // a corpus-sized window here would show as an exponent jump
    "dedup_keep_best",
    // span REMOVAL: gram-keyed shuffles + per-doc rewrite only — a
    // pairwise doc comparison would jump the exponent immediately
    "text_substring_remove")

  val HotExtras: Seq[String] = Seq(
    "dedup_exact",
    "text_perplexity",
    "text_nfc_normalize",
    "ann_ivf_topk",
    "emb_pca_loadings",
    "text_token_count")

  /** Training fan-outs — the next most plausible superlinear class
    * after bucketed dedup (VERDICT r14 #5): Lloyd-round assignment
    * joins (corpus x centroids) and tokenizer-training passes whose
    * DP/EM tables must stay DISTINCT-word-sized (Heaps-sublinear),
    * never corpus-sized. A broken broadcast hint or a segmentation
    * accidentally applied per-document instead of per-distinct-word
    * shows up here as an exponent jump before it costs real money.
    */
  val TrainingFanout: Seq[String] = Seq(
    "ann_pq_learned",
    "ann_ivf_kmeans",
    "tok_unigram_train",
    "tok_unigram_fertility")

  final case class Trend(name: String, cpuSec: Seq[Double],
                         wallSec: Seq[Double]) {
    /** Exponent per decade: cpu(i+1)/cpu(i) in log10. */
    def exponents: Seq[Double] =
      cpuSec.sliding(2).map(p => math.log10(p(1) / p(0))).toSeq
    /** The verdict decade: largest-scale pair (overhead-light). */
    def lastExponent: Double = exponents.last
  }

  /** Run `names` at `sfDirs` (ascending scale, decade-spaced), `reps`
    * passes each, min process-CPU per (query, scale).
    */
  def measure(spark: SparkSession, names: Seq[String], sfDirs: Seq[String],
              reps: Int = 2): Seq[Trend] = {
    // warm once per scale so first-touch parquet footers aren't billed
    // to the first query of that scale
    sfDirs.foreach(d =>
      Measure.run(spark, "warm")(graft.SparkEntry.queries("q1_pricing_summary")(spark, d)))
    names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      def pass(d: String): Measure.Sample = Measure.run(spark, n)(fn(spark, d))
      // Per-QUERY warm-up at the two smallest scales before anything
      // is billed: process CPU counts the JIT compiler threads, and a
      // cold dedup pipeline burns multiples of its steady-state cost
      // on C2 compilation — measured cold, sf0.001 "costs" MORE CPU
      // than sf0.01 and every exponent is garbage. Two passes settle
      // codegen + JIT; the billed passes below then measure the
      // algorithm, not the compiler.
      (0 until 2).foreach(_ => pass(sfDirs.head))
      pass(sfDirs(math.min(1, sfDirs.size - 1)))
      val perScale = sfDirs.map { d =>
        val passes = Seq.fill(reps)(pass(d))
        (passes.map(_.cpuSec).min, passes.map(_.wallSec).min)
      }
      Trend(n, perScale.map(_._1), perScale.map(_._2))
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val root = sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")
    val names = if (args.nonEmpty) args.toSeq
                else DedupBucketed ++ HotExtras ++ TrainingFanout
    val spark = graft.GraftSession.local(32)
    val dirs = Seq(s"$root/sf0.001", s"$root/sf0.01", s"$root/sf0.1")
    val trends = measure(spark, names, dirs)
    trends.foreach { t =>
      println(f"""{"query":"${t.name}","cpu_sec":[${t.cpuSec.map(v => f"$v%.3f").mkString(",")}],"wall_sec":[${t.wallSec.map(v => f"$v%.3f").mkString(",")}],"exponents":[${t.exponents.map(v => f"$v%.3f").mkString(",")}],"last_exponent":${t.lastExponent}%.3f}""")
    }
    val worst = trends.maxBy(_.lastExponent)
    println(f"""{"metric":"scale_trend","n":${trends.size},"worst":"${worst.name}","worst_exponent":${worst.lastExponent}%.3f}""")
    spark.stop()
  }
}
