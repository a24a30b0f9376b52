package graft.log

import java.nio.file.{Files, Paths}

/** Forked-JVM worker for HttpCrossProcessSpec — a FOREIGN PROCESS
  * driving the commit protocol against a shared HTTP object endpoint
  * (no Spark; the control plane and the manifest CAS are Spark-free).
  *
  * Modes:
  *  - `cas <iters>`: perform `iters` successful read-modify-write
  *    increments of `<root>/shared-counter.json` via the conditional
  *    put (rebase on every 412), then create `iters` streams through
  *    the Catalog's mutateDoc CAS loop. Exit 0 on success.
  *  - `putloop`: publish small parquet data objects under
  *    `<root>/data/crash-stream/` forever (the parent kills this
  *    process mid-flight to prove atomic-whole-object PUT: a listed
  *    object is never torn).
  */
object HttpCasWorker {
  def main(args: Array[String]): Unit = {
    val Array(endpoint, root, workerId, mode, rest @ _*) = args: @unchecked
    val backend = HttpObjectBackend.install(root, endpoint)
    mode match {
      case "cas" =>
        val iters = rest.head.toInt
        val key = s"$root/shared-counter.json"
        var done = 0
        while (done < iters) {
          val cur = backend.getMeta(key, fresh = true)
          val (n, tag) = cur match {
            case Some((json, etag)) =>
              (json.split(':')(1).stripSuffix("}").trim.toInt, Some(etag))
            case None => (0, None)
          }
          backend.casMeta(key, s"""{"n": ${n + 1}}""", tag) match {
            case Right(_) => done += 1
            case Left(_) => // lost the race: rebase and retry
          }
        }
        val cat = new Catalog(root)
        (0 until iters).foreach { i =>
          cat.createStream("xp-basin", s"w$workerId-s$i").fold(
            e => { System.err.println(s"createStream failed: $e"); sys.exit(2) },
            identity)
        }
        sys.exit(0)
      case "putloop" =>
        val dir = Paths.get(s"$root/data/crash-stream")
        // under the root, which the spec deletes once this worker is
        // killed: a SIGKILLed worker cannot clean up after itself
        val scratch = Files.createDirectories(Paths.get(root, s"xp-put-$workerId"))
        var i = 0
        while (true) {
          val recs = (0 until 64).map(j => DirectParquet.Rec(
            i * 64L + j, 1000L + j, Nil,
            Array.fill(512)(((i + j) & 0xff).toByte), 520L))
          val f = Paths.get(DirectParquet.writeBatch(scratch.toString, recs))
          backend.putData(f, dir.resolve(f.getFileName))
          i += 1
        }
    }
  }
}
