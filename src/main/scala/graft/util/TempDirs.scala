package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

/** Process-lifetime temp-directory registry: one shutdown hook deletes
  * every registered tree, so repeated Verify/Bench/test runs never
  * accumulate staged copies in /tmp. Deletion is best-effort — a
  * failure to delete one tree must not abort the others (or the JVM's
  * shutdown). */
object TempDirs {

  private val registered = new ConcurrentLinkedQueue[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    registered.forEach(dir => delete(Paths.get(dir)))))

  /** Create a fresh temp directory cleaned up at JVM exit. */
  def create(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    registered.add(p.toString)
    p
  }

  /** Register an existing directory for exit-time deletion. */
  def register(path: String): String = { registered.add(path); path }

  /** Delete the tree at `p` now, best-effort. */
  def delete(p: Path): Unit =
    try {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => { Files.deleteIfExists(f); () })
      finally w.close()
    } catch { case NonFatal(_) => }
}
