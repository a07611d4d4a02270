package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one memo for first-touch staging (lake tables, layout writes,
  * stream source copies, the Derby load): `build` runs once per
  * (applicationId, dir, what). Staged catalog tables live in the
  * SparkContext's catalog, so a stop()/getOrCreate() cycle re-stages.
  * The build runs under its key's own lock, not inside
  * `computeIfAbsent`: builds may stage other keys, concurrent first
  * callers wait for the one build, and a build that throws caches
  * nothing. */
object Staged {

  private final class Cell {
    @volatile var done = false
    var value: Any = _
  }

  private val cells = new ConcurrentHashMap[String, Cell]()

  def once[T](s: SparkSession, dir: String, what: String)(build: => T): T = {
    val cell = cells.computeIfAbsent(
      s"${s.sparkContext.applicationId}:$dir:$what", _ => new Cell)
    if (!cell.done) cell.synchronized {
      if (!cell.done) { cell.value = build; cell.done = true }
    }
    cell.value.asInstanceOf[T]
  }
}
