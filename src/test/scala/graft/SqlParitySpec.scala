package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Replays the declared oracle SQL inside SPARK's own SQL planner and
  * checks it against the DataFrame plans — a third, independent gate on
  * top of the DuckDB oracle and the golden files.
  *
  * Why this matters for a library: `SparkEntry.oracleSql` is written as
  * portable ANSI SQL for the DuckDB gate, but a user of this engine
  * will paste exactly that kind of SQL at `spark.sql(...)`. Every
  * statement Spark can parse must produce the SAME rows as the
  * hand-tuned DataFrame plan it documents — a divergence means either
  * the declared SQL or the declared plan is lying about the semantics.
  * The handful of statements Spark genuinely cannot express
  * (recursive-CTE shapes outside Spark's UNION-ALL-linear subset — the
  * ASOF JOIN family replays since the injected parser grew the
  * grammar) are skipped against a CLOSED per-statement classification —
  * an unclassified skip or a stale entry both fail the suite, and the
  * floor pins how much of the surface must stay Spark-replayable so
  * silent erosion fails loudly.
  *
  * The `lifecycle = true` defs are excluded. The streaming ones spin
  * the real StreamExecution engine (checkpoints, RocksDB state) and are
  * gated end-to-end in streaming specs; replaying their batch oracle
  * SQL here would only re-test the batch planner at several seconds per
  * query. The other is the JDBC round-trip (q72, embedded Derby
  * lifecycle).
  */
class SqlParitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val excluded = SparkEntry.nonRelationalLifecycle

  /** Engine-neutral value form: numbers through exact BigDecimal
    * canonicalization (so INT 1996, BIGINT 1996, and DOUBLE 1996.0 all
    * read "1996" — the same tolerance the driver's DuckDB compare
    * applies), everything else via toString, nested rows/arrays
    * recursively. */
  private def norm(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double if d.isNaN => "NaN"
    case f: java.lang.Float if f.isNaN => "NaN"
    case n: java.lang.Number =>
      // fractional values compare at 12 significant digits: Spark SQL
      // types decimal literals as DecimalType (100.0 → DECIMAL(4,1)),
      // so avg/division chains run in DECIMAL arithmetic and differ
      // from the double plan in the last ulp (observed: q01 avg_disc
      // ...992509 vs ...9925096). That is a different compute path, not
      // a different answer — the oracle-checked exact surface (integer
      // cents, counts) still compares exactly below
      val bd = BigDecimal(n.toString)
      val c = if (bd.isWhole && bd.precision <= 18) bd
              else bd.round(new java.math.MathContext(12))
      c.underlying.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${norm(k)}:${norm(x)}" }.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    val sel = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    sel.collect().toSeq
      .map(r => cols.zip(r.toSeq.map(norm)).map { case (c, v) => s"$c=$v" }.mkString("|"))
      .sorted
  }

  test("every Spark-parseable oracle statement matches its DataFrame plan") {
    Tables.all.foreach { n =>
      Tables(spark, sf, n).createOrReplaceTempView(n)
    }
    // the oracle dialect is STANDARD-SQL string literals (DuckDB keeps
    // backslashes raw; regex escapes like \x{4e00}, \x0b, \b reach the
    // regex engine). Spark's default literal mode eats those
    // backslashes ('\b' → backspace, '\x' → 'x'), silently changing
    // pattern semantics — so the replay runs under Spark's own ANSI
    // literal mode, which is also what a DuckDB-dialect user would set
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try runParity()
    finally spark.conf.unset("spark.sql.parser.escapedStringLiterals")
  }

  private def runParity(): Unit = {
    var ran, skipped = 0
    val skippedNames = scala.collection.mutable.ListBuffer[String]()
    val skipErrors = scala.collection.mutable.Map[String, Throwable]()
    val failures = scala.collection.mutable.ListBuffer[String]()
    for ((name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)
         if !excluded.contains(name)) {
      // the skip path is for DuckDB-only SURFACE only: spark.sql()
      // parses and analyzes eagerly, so anything it throws means "Spark
      // can't express this statement". NonFatal (not just
      // AnalysisException) because analysis can surface non-Analysis
      // throwables for foreign signatures — e.g. DuckDB's 4-arg
      // regexp_replace(..., 'g') makes Spark cast the flag string to
      // its INT position argument inside checkInputDataTypes, which
      // under ANSI throws a cast error, not an AnalysisException.
      // canon() runs OUTSIDE the catch — a statement that analyzes but
      // fails at RUNTIME is an execution regression and must fail the
      // gate, not count as a skip (it hid behind the old whole-body
      // NonFatal before).
      val viaSql =
        try Right(spark.sql(sql))
        catch { case scala.util.control.NonFatal(e) => Left(e) } // DuckDB-only surface
      viaSql match {
        case Left(e) =>
          skipped += 1; skippedNames += name; skipErrors(name) = e
        case Right(df) =>
          val sqlRows = canon(df)
          ran += 1
          // the DataFrame side must build under Spark's DEFAULT literal
          // mode — its own embedded expr("... '\\\\b...' ...") strings
          // were authored for it, and literal interpretation happens at
          // PARSE time (the oracle plan above is already parsed, so
          // flipping the conf here cannot retroactively change it)
          val dfRows = {
            spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
            try canon(SparkEntry.queries(name)(spark, sf))
            finally spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
          }
          if (sqlRows != dfRows) {
            val firstDiff = sqlRows.zipAll(dfRows, "<missing>", "<missing>")
              .find { case (a, b) => a != b }
            failures += s"$name: sql=${sqlRows.size} rows, df=${dfRows.size} rows, first diff: $firstDiff"
          }
      }
    }
    info(s"replayed $ran oracle statements through spark.sql; $skipped DuckDB-only skipped")
    info(s"skipped: ${skippedNames.mkString(" ")}")
    assert(failures.isEmpty, failures.mkString("\n"))
    // CLOSED skip classification: after the round-7 portable-SQL sweep
    // (TVF injection, subscript dot products, argmax windows, decimal
    // Welch sums, array_slice/strftime/list_value shims, ASOF JOIN
    // grammar via the injected parser, ...) every remaining skip is
    // exactly ONE language feature Spark cannot express — recursive
    // CTEs beyond the UNION-ALL-linear subset. The equality is
    // two-sided on purpose: a NEW skip without a registered reason
    // fails loudly (gratuitously foreign oracle SQL or a lost compat
    // function), and a registered reason whose statement now REPLAYS
    // also fails (stale classification — delete the entry).
    // EXECUTABLE classification: each skip pins the Spark error
    // CONDITION the statement actually raises in THIS session (the
    // DuckDB-dialect function surface is registered, so the analyzer
    // reaches the recursion itself) — drift in either direction (a
    // statement that starts failing differently, or one that starts
    // parsing) fails the assert below.
    val skipConditions = Map(
      "q83_neardup_clusters" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
      "q87_semdedup_corpus" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
      "q129_pagerank_nations" -> "INVALID_RECURSIVE_REFERENCE.PLACE",
      "q173_bfs_distances" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE")
    for ((n, expected) <- skipConditions if skipErrors.contains(n)) {
      val cond = skipErrors(n) match {
        case st: org.apache.spark.SparkThrowable => String.valueOf(st.getCondition)
        case e => s"<not a SparkThrowable: ${e.getClass.getName}>"
      }
      assert(cond == expected,
        s"$n: skip no longer raises the pinned condition (got $cond, " +
          s"pinned $expected) — re-classify or un-skip")
    }
    val skipReasons = Map(
      // the ASOF JOIN family replays since the injected parser grew the
      // grammar (AsofSqlParser → AsofJoinResolution → native merge) —
      // q36/q93/q114/q206 now run verbatim and are gated above
      "q83_neardup_clusters" -> "recursive CTE with UNION-dedup recursion (Spark supports UNION ALL recursion only: UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE)",
      "q87_semdedup_corpus" -> "recursive CTE with UNION-dedup recursion (transitive-closure reach())",
      "q129_pagerank_nations" -> "recursive member aggregates + re-joins the recursion (INVALID_RECURSIVE_REFERENCE.PLACE)",
      "q173_bfs_distances" -> "recursive CTE with UNION-dedup recursion (BFS frontier)")
    assert(skippedNames.toSet == skipReasons.keySet,
      s"skip set drifted from the registered classification: " +
        s"unclassified=${(skippedNames.toSet -- skipReasons.keySet).toSeq.sorted.mkString(",")} " +
        s"stale=${(skipReasons.keySet -- skippedNames.toSet).toSeq.sorted.mkString(",")}")
    // erosion floor beneath the exact classification above (belt and
    // braces for a partial refactor of this block) — raised 185 → 189
    // in round 9 (189/193 then), and 189 → 215 in round 12 to lock in
    // the rounds-10-12 surface growth (215 replayed / 4 classified
    // skips at 236 declared)
    assert(ran >= 215, s"only $ran oracle statements still parse in Spark SQL")
  }

  /** The two recursion shapes behind every skip, demonstrated on
    * minimal statements so the classification is executable even where
    * a skipped oracle trips on an earlier, shallower error (q83/q87
    * fail at DuckDB-only routines before the analyzer reaches their
    * recursion): Spark 4's recursive CTEs are UNION-ALL-LINEAR only —
    * UNION-dedup recursion (the transitive-closure / BFS-frontier
    * device) and aggregating-or-rejoining the recursive reference are
    * both rejected, with these error classes. The day Spark lifts
    * either restriction, this test fails and the skips can be ported. */
  test("Spark 4 rejects the skipped recursion shapes with the pinned error classes") {
    def condition(sql: String): String =
      intercept[Throwable](spark.sql(sql)) match {
        case st: org.apache.spark.SparkThrowable => String.valueOf(st.getCondition)
        case e => s"<not a SparkThrowable: ${e.getClass.getName}>"
      }
    // UNION-dedup recursion: the q83/q87 reach() and q173 BFS shape —
    // dedup against ALL prior members is what guarantees termination on
    // a cyclic graph, so UNION ALL is not a faithful port
    assert(condition(
      """WITH RECURSIVE reach(n) AS (
        |  SELECT 1 AS n UNION SELECT n + 1 FROM reach WHERE n < 3)
        |SELECT * FROM reach""".stripMargin)
      == "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE")
    // aggregate over the recursive reference: the q129 PageRank
    // contribution-sum shape
    val aggCond = condition(
      """WITH RECURSIVE r(i, v) AS (
        |  SELECT 1 AS i, CAST(1.0 AS DOUBLE) AS v
        |  UNION ALL SELECT i + 1, CAST(sum(v) AS DOUBLE) FROM r WHERE i < 3 GROUP BY i)
        |SELECT * FROM r""".stripMargin)
    assert(aggCond.startsWith("INVALID_RECURSIVE_REFERENCE"), aggCond)
  }
}
