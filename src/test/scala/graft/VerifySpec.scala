package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Verify <sfDir> <outDir> [query ...]`: named queries dump only
  * themselves, next to the full oracle_sql.json. */
class VerifySpec extends AnyFunSuite with LocalSpark {

  override def afterAll(): Unit =
    try super.afterAll() finally graft.log.BackendHarness.cleanup()

  private def children(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("dump with names writes exactly those queries plus oracle_sql.json") {
    val sfDir = TestData.requireSf("sf0.001")
    val out = graft.log.BackendHarness.tempDir("graft-verify")
    Verify.dump(spark, sfDir, out.toString, Seq("q1_pricing_summary", "q3_top_orders"))
    assert(children(out) == Set("oracle_sql.json", "q1_pricing_summary", "q3_top_orders"))
    assert(spark.read.parquet(out.resolve("q1_pricing_summary").toString).count() > 0)
    val oracles = Files.readString(out.resolve("oracle_sql.json"))
    assert(SparkEntry.oracleSql.keys.forall(k => oracles.contains("\"" + k + "\"")))
  }
}
