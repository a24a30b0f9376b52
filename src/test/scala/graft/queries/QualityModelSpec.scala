package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

/** text_quality_model guarantees the oracle hash-match can only
  * witness: the learned hashed-bigram classifier separates the
  * labeled quality strata PERFECTLY on held-out docs, with a real
  * margin, while text_quality's stop_ratio heuristic cannot separate
  * the same strata at any threshold — the reason a model-based filter
  * exists in every serious pipeline.
  */
class QualityModelSpec extends AnyFunSuite with LocalSpark {

  private def sfDir: String = {
    val d = graft.TestData.requireSf("sf0.001")
    d
  }

  test("held-out strata separate perfectly, with a margin") {
    val rows = graft.SparkEntry.queries("text_quality_model")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val (clean, degraded) = rows.partition(_.getAs[Int]("label") == 1)
    assert(clean.nonEmpty && degraded.nonEmpty)
    // held-out split only: every id's base parity is odd
    rows.foreach { r =>
      assert((r.getAs[Long]("doc_id") % 3000000L) % 2 == 1L,
        "training doc leaked into the scored output")
    }
    // perfect separation at threshold 0 (= sigmoid 1/2)
    clean.foreach { r =>
      assert(r.getAs[Long]("score_micros") > 0L && r.getAs[Boolean]("keep"),
        s"clean doc ${r.getAs[Long]("doc_id")} misclassified")
    }
    degraded.foreach { r =>
      assert(r.getAs[Long]("score_micros") < 0L && !r.getAs[Boolean]("keep"),
        s"degraded doc ${r.getAs[Long]("doc_id")} misclassified")
    }
    // and not by a hair: the spam-marker weights dominate
    val margin = clean.map(_.getAs[Long]("score_micros")).min -
      degraded.map(_.getAs[Long]("score_micros")).max
    assert(margin > 1000000L,
      s"separation margin $margin micros < 1.0 — model barely learned")
  }

  test("the stop-ratio heuristic cannot separate the same strata") {
    // text_quality's signal over the identical fixture corpus: the
    // 12-token spam tail contains no stopwords, so it only dilutes
    // stop_ratio slightly — across docs the two classes overlap, so
    // NO threshold classifies both strata correctly, while the model
    // above does at threshold 0.
    val spam = "click here buy now free winner subscribe today " +
      "limited offer unsubscribe instantly"
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val both = base.withColumn("label", lit(1))
      .unionByName(base.select(col("doc_id"),
          concat(col("text"), lit(" " + spam)).as("text"))
        .withColumn("label", lit(0)))
    val w = split(col("text"), " ")
    val ratios = both.select(col("label"),
        (size(filter(w, x => x.isin("the", "a", "and", "of", "to")))
          .cast("double") / size(w)).as("stop_ratio"))
      .collect()
    val cleanR = ratios.filter(_.getAs[Int]("label") == 1).map(_.getAs[Double]("stop_ratio"))
    val degR = ratios.filter(_.getAs[Int]("label") == 0).map(_.getAs[Double]("stop_ratio"))
    // overlap in BOTH directions: no threshold, whichever way you cut
    assert(cleanR.min < degR.max && degR.min < cleanR.max,
      "stop_ratio unexpectedly separates the strata — baseline claim invalid")
  }
}
