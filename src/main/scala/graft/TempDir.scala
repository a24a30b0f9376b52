package graft

import java.nio.file.{Files, Path}

/** Temp directories that do not outlive their use. */
object TempDir {

  /** Run `f` on a fresh `<tmpdir>/<prefix>*` directory and delete it
    * afterwards, also when `f` throws. Whatever `f` returns must not
    * read the directory lazily. */
  def using[T](prefix: String)(f: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally delete(dir)
  }

  /** A fresh directory deleted when the JVM exits: for a root that
    * later calls share. */
  def untilExit(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(dir)))
    dir
  }

  /** Recursive delete. Best effort: a walk that fails because a file
    * vanished under it leaves the rest behind. */
  def delete(dir: Path): Unit =
    if (Files.exists(dir))
      try {
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
}
