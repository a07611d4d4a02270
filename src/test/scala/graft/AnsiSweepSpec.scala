package graft

/** Mode-robustness sweep (the generalized Q11 lesson): every declared
  * query must answer IDENTICALLY under `spark.sql.ansi.enabled=true`
  * (Spark 4's default — the mode the whole correctness gate runs
  * under) and `=false` (the legacy mode many production clusters still
  * pin). The Q11 ADVICE finding was exactly this class: a BIGINT
  * cross-multiplication that is a loud ARITHMETIC_OVERFLOW under ANSI
  * silently WRAPS under legacy mode — a query whose answer depends on
  * the mode is carrying a latent overflow/cast, and the engine's fix
  * (DECIMAL(38,0) arithmetic) is visible precisely as mode-identical
  * results.
  *
  * Each side builds AND collects on its own session clone (ANSI
  * affects analysis-time cast resolution as well as runtime
  * arithmetic, so the mode must surround both). Divergences check
  * against a CLOSED exemption list — currently EMPTY: nothing in the
  * declared surface is allowed to depend on the mode. The streaming /
  * JDBC lifecycle family, the `lifecycle = true` defs, is excluded
  * (gated end-to-end in their own specs;
  * re-spinning checkpointed engines per mode re-tests the lifecycle,
  * not the arithmetic).
  */
class AnsiSweepSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("every declared query answers identically under ANSI and legacy mode") {
    val exemptions = Map[String, String]() // name -> reason; closed, two-sided
    val excluded = SparkEntry.nonRelationalLifecycle
    val diffs = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !excluded.contains(name)) {
      def rows(ansi: Boolean): Seq[String] = {
        val ss = org.apache.spark.sql.graft.SessionClone(spark)
        ss.conf.set("spark.sql.ansi.enabled", ansi.toString)
        fn(ss, sf).collect().toSeq.map(String.valueOf(_))
      }
      val legacy = try Right(rows(ansi = false)) catch {
        case scala.util.control.NonFatal(e) => Left(s"legacy-mode error: $e")
      }
      legacy match {
        case Left(err) => diffs += s"$name ($err)"
        case Right(l) =>
          val a = rows(ansi = true)
          if (a != l) {
            val firstDiff = a.zipAll(l, "<missing>", "<missing>")
              .find { case (x, y) => x != y }
            diffs += s"$name (ansi=${a.size} rows, legacy=${l.size} rows, first diff: $firstDiff)"
          }
      }
    }
    val names = diffs.map(_.takeWhile(_ != ' ')).toSet
    assert(names == exemptions.keySet,
      s"mode-dependent answers outside the closed exemption list:\n${diffs.mkString("\n")}")
  }
}
