package graft.log

import java.nio.file.{Files, Paths}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.model._

/** "N drivers on one bucket" — FOR REAL: two forked JVMs (plus this
  * one) share a single localhost HTTP object endpoint and contend on
  * the conditional put. Until this spec, multi-driver claims were
  * proven inside one JVM against an in-memory simulation; here the
  * processes share nothing but the endpoint, so server-side CAS
  * atomicity, request encoding, and list-after-write are load-bearing
  * (reference analog: the sim's HTTP object store host).
  */
class HttpCrossProcessSpec extends AnyFunSuite with BeforeAndAfterAll {

  // every worker is dead by then (each test kills and reaps its own),
  // so no process still writes under the roots this deletes
  override def afterAll(): Unit =
    try super.afterAll() finally BackendHarness.cleanup()

  private def forkWorker(endpoint: String, root: String, id: String,
                         mode: String, extra: String*): Process = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(java, "-cp", cp, "graft.log.HttpCasWorker",
      endpoint, root, id, mode) ++ extra
    new ProcessBuilder(cmd: _*).inheritIO().start()
  }

  /** Kill a worker that is still running (a failed wait or assertion)
    * and wait for it to exit. */
  private def reap(w: Process): Unit = {
    w.destroyForcibly()
    w.waitFor()
  }

  test("two foreign processes CAS-increment one counter and populate " +
    "one catalog with zero lost updates") {
    val (server, endpoint) = HttpObjectServer.start()
    try {
      val root = BackendHarness.tempDir("graft-xproot").toString
      val backend = HttpObjectBackend.install(root, endpoint)
      val cat = new Catalog(root)
      cat.createBasin("xp-basin", BasinConfig()).fold(e => fail(e), identity)

      val iters = 40
      val w1 = forkWorker(endpoint, root, "1", "cas", iters.toString)
      val w2 = forkWorker(endpoint, root, "2", "cas", iters.toString)
      try {
        assert(w1.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "w1 timed out")
        assert(w2.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "w2 timed out")
      } finally { reap(w1); reap(w2) }
      assert(w1.exitValue() == 0, s"w1 exit ${w1.exitValue()}")
      assert(w2.exitValue() == 0, s"w2 exit ${w2.exitValue()}")

      // counter: 2 * iters successful conditional increments, no lost
      // update — the atomic-compute-per-key claim, cross-process
      val (json, _) = backend.getMeta(s"$root/shared-counter.json",
        fresh = true).getOrElse(fail("counter object missing"))
      assert(json.split(':')(1).stripSuffix("}").trim.toInt == 2 * iters)

      // catalog: every stream from BOTH workers present (mutateDoc's
      // CAS-rebase loop interleaved across processes without dropping
      // a foreign write)
      val names = (1 to 2).flatMap(w => (0 until iters).map(i => s"w$w-s$i")).toSet
      val listed = cat.listStreams("xp-basin", "", "", 1000)
        .items.map(_.name).toSet
      assert(names.subsetOf(listed),
        s"lost catalog updates: missing ${(names -- listed).take(5)}")
    } finally server.stop(0)
  }

  test("killing a foreign writer mid-PUT never publishes a torn " +
    "object: every listed object parses whole") {
    val (server, endpoint) = HttpObjectServer.start()
    try {
      val root = BackendHarness.tempDir("graft-xpcrash").toString
      val backend = HttpObjectBackend.install(root, endpoint)
      val w = forkWorker(endpoint, root, "9", "putloop")
      val dir = Paths.get(s"$root/data/crash-stream")
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (backend.listData(dir).size < 5 &&
               System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(backend.listData(dir).size >= 5, "worker published nothing in 60s")
      } finally reap(w) // SIGKILL mid-flight, possibly mid-PUT
      val listed = backend.listData(dir)
      assert(listed.nonEmpty)
      // the atomicity claim: a listed object is ALWAYS whole — footer
      // parses, stats readable. A torn tail would return None.
      listed.foreach { p =>
        assert(FileIndex.tryStats(p.toString).nonEmpty,
          s"listed object $p is torn — atomic PUT violated")
      }
      // and nothing partial leaked into the key space as a .parquet
      val onDisk = Files.list(dir).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
      assert(onDisk.toSet == listed.toSet,
        "key-path files and listing disagree after a crash")
    } finally server.stop(0)
  }
}
