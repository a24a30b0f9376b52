package graft.log

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The harness deletes what it hands out, so suites leave no temp
  * roots behind. */
class BackendHarnessSpec extends AnyFunSuite {

  test("cleanup removes every root handed out, posix and object harness") {
    val roots = for {
      h <- Seq(BackendHarness.PosixHarness, BackendHarness.ObjectHarness)
      i <- 0 until 2
    } yield {
      val root = h.freshRoot("graft-harness")
      // a published data file under a gen dir: deletion must recurse
      val gen0 = Paths.get(Layout.genDir(root, "b", s"s$i", 0L))
      h.fabricate(root, gen0, Seq(DirectParquet.Rec(0L, 1000L, Nil, "x".getBytes, 9L)))
      assert(h.dataExists(root, gen0))
      Paths.get(root)
    }
    BackendHarness.cleanup()
    assert(roots.forall(r => !Files.exists(r)), s"left behind: ${roots.filter(Files.exists(_))}")
  }
}
