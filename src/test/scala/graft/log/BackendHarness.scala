package graft.log

import java.nio.file.{Files, Path}

/** Test-side view of a storage backend, so the commit-protocol suites
  * (RecoverySpec crash matrix, GenerationSpec flip protocol,
  * LinearizabilitySpec) run against BOTH adapters:
  *
  *  - `posix` — the filesystem semantics the store has always run on;
  *  - `object` — S3 semantics per the reference's own simulation
  *    (no rename, no locks, conditional put, list-after-write,
  *    atomic whole-object PUT — /root/reference/sim/src/s3.rs).
  *
  * The harness owns the backend-specific parts of CRASH FABRICATION:
  * a dead writer's leftover is a torn or whole FILE on POSIX, but on
  * an object store a PUT either completed (whole object, listed) or
  * never happened — torn objects do not exist, so the torn-write
  * fault degenerates to "nothing landed".
  */
sealed trait BackendHarness {
  def label: String
  /** Fresh root governed by this backend (registers it first); the
    * next [[BackendHarness.cleanup]] deletes it. */
  def freshRoot(prefix: String): String
  /** Re-materialize a dead writer's COMPLETED data put (crash sim). */
  def restoreDead(root: String, dir: Path, name: String, bytes: Array[Byte]): Unit
  /** Whether a kill mid-write can leave a torn, footerless data file
    * (POSIX yes; object stores never — PUT is atomic). */
  def supportsTorn: Boolean

  /** Data-file names visible to the PROTOCOL's listing under dir. */
  def listData(root: String, dir: Path): Set[String] =
    StorageBackend.forRoot(root).listData(dir).map(_.getFileName.toString).toSet

  /** Fabricate a whole published data file (e.g. a crashed
    * compaction's completed generation rewrite). */
  def fabricate(root: String, dir: Path, recs: Seq[DirectParquet.Rec]): Unit = {
    val f = java.nio.file.Paths.get(DirectParquet.writeBatch(
      BackendHarness.tempDir("graft-fab").toString, recs))
    StorageBackend.forRoot(root).putData(f, dir.resolve(f.getFileName))
  }

  /** Whether a prefix still holds any data object. */
  def dataExists(root: String, dir: Path): Boolean =
    StorageBackend.forRoot(root).dataExists(dir)
}

object BackendHarness {
  val all: Seq[BackendHarness] =
    Seq(PosixHarness, ObjectHarness, HttpHarness, FlakyHttpHarness)

  /** Every temp dir handed out since the last [[cleanup]]: roots of
    * all four harnesses (an object root's data and metadata mirrors
    * live under its local dir) and fabrication scratch dirs. */
  private val handedOut = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir that the next [[cleanup]] deletes. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    handedOut.add(dir)
    dir
  }

  /** Recursively delete every dir handed out so far. Suites call it
    * from `afterAll`; sbt runs the suites of the forked test JVM one
    * after another, so no other suite's roots are live. Best effort: a
    * dir whose walk fails (a file vanished under it) is left behind. */
  def cleanup(): Unit = {
    var dir = handedOut.poll()
    while (dir != null) {
      graft.TempDir.delete(dir)
      dir = handedOut.poll()
    }
  }

  /** One shared localhost object server per test JVM (keys are
    * canonical absolute paths, so a single server serves every root). */
  lazy val sharedHttpEndpoint: String = HttpObjectServer.start()._2

  /** One shared fault-injecting proxy in front of [[sharedHttpEndpoint]]
    * (seeded; every request identity faulted at most once, so bounded
    * client retries always make progress — see NetFaultProxy). */
  lazy val sharedFlakyEndpoint: String = {
    val (_, ep, controls) = NetFaultProxy.start(sharedHttpEndpoint, seed = 17L)
    controls.faultP = 0.20
    ep
  }

  object PosixHarness extends BackendHarness {
    val label = "posix"
    val supportsTorn = true
    def freshRoot(prefix: String): String = tempDir(prefix).toString
    def restoreDead(root: String, dir: Path, name: String,
                    bytes: Array[Byte]): Unit = {
      Files.createDirectories(dir)
      Files.write(dir.resolve(name), bytes)
      ()
    }
  }

  /** The object-semantics harnesses differ only in how a root's
    * backend is installed. */
  sealed class ObjectSemantics(val label: String, install: String => Any)
      extends BackendHarness {
    val supportsTorn = false
    def freshRoot(prefix: String): String = {
      val root = tempDir(prefix).toString
      install(root)
      root
    }
    def restoreDead(root: String, dir: Path, name: String,
                    bytes: Array[Byte]): Unit =
      StorageBackend.forRoot(root) match {
        case b: ObjectStoreBackend => b.putDataBytes(dir.resolve(name), bytes)
        case b: HttpObjectBackend => b.putDataBytes(dir.resolve(name), bytes)
      }
  }

  object ObjectHarness extends ObjectSemantics("object", ObjectStoreBackend.install)

  /** Real-endpoint variant: same S3 semantics as ObjectHarness but
    * every protocol operation is an actual HTTP round trip to
    * [[sharedHttpEndpoint]] — request/response boundaries, encoding,
    * and server-side CAS atomicity are all exercised for real (the
    * reference's object_store_http analog). Cross-PROCESS coverage on
    * the same server is HttpCrossProcessSpec. */
  object HttpHarness extends ObjectSemantics("http",
    HttpObjectBackend.install(_, sharedHttpEndpoint))

  /** HTTP adapter behind the seeded fault-injecting proxy: every
    * protocol call can be dropped, lose its response, be duplicated,
    * or delayed — the turmoil-network discipline (sim/src/net.rs)
    * applied to the one backend that talks a real wire. Suites
    * iterating `all` thus run the crash matrix and the
    * linearizability workloads under network faults too; the
    * at-most-once fault rule keeps them deterministic. */
  object FlakyHttpHarness extends ObjectSemantics("flaky-http",
    HttpObjectBackend.install(_, sharedFlakyEndpoint))
}
