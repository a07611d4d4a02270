package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{Session, SparkEntry}

/** Dev CLI over declared queries, on graft.Session (the session Bench
  * times). Not part of the declared surface.
  *
  *   Dev time    <sfDir> <reps> [--conf=k=v ...] <query...>
  *     warm pass, then min over <reps> timed runs; each --conf sets a
  *     session conf first, for a single-query A/B without a Bench sweep
  *   Dev profile <sfDir> <query...>
  *     after a warm pass: planning time, then per-stage wall time, tasks,
  *     executor run/CPU/GC time, shuffle and input volumes from a
  *     SparkListener — the Spark UI's stage table (the UI is off)
  *   Dev explain <sfDir> [--exec] [--out=<dir> --suffix=<s>] <query...>
  *     the executed plan; --exec runs the query first, so the plan is
  *     AQE's final one (skew splits, exchange reuse); --out writes the
  *     formatted plan to <dir>/<query>_<s>.txt (committed plan evidence)
  *   Dev show    <sfDir> <query...>
  *     row count and the first 50 rows
  *   Dev census  <sfDir> [outPath]
  *     the physical-plan census, PLANS.md by default
  *
  * An unknown subcommand, flag or query name fails before any session
  * starts.
  */
object Dev {

  private val usage = "usage: Dev time|profile|explain|show|census <sfDir> ..."

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "time" :: sfDir :: reps :: rest =>
        val (confArgs, names) = rest.partition(_.startsWith("--conf="))
        val confs = confArgs.map { a =>
          a.stripPrefix("--conf=").split("=", 2) match {
            case Array(k, v) => k -> v
            case _ => throw new IllegalArgumentException(s"expected --conf=k=v, got $a")
          }
        }
        val n = reps.toInt
        checked(names)
        spark => {
          confs.foreach { case (k, v) => spark.conf.set(k, v) }
          time(spark, sfDir, n, names)
        }
      case "profile" :: sfDir :: names =>
        checked(names)
        profile(_, sfDir, names)
      case "explain" :: sfDir :: rest =>
        val (flags, names) = rest.partition(_.startsWith("--"))
        val opts = flags.map { f =>
          f.stripPrefix("--").split("=", 2) match {
            case Array("exec") => "exec" -> ""
            case Array(k @ ("out" | "suffix"), v) => k -> v
            case _ => throw new IllegalArgumentException(s"unknown explain flag: $f")
          }
        }.toMap
        require(opts.contains("out") == opts.contains("suffix"),
          "explain: --out and --suffix go together")
        checked(names)
        explain(_, sfDir, names, opts.contains("exec"), opts.get("out").map(_ -> opts("suffix")))
      case "show" :: sfDir :: names =>
        checked(names)
        show(_, sfDir, names)
      case "census" :: sfDir :: rest if rest.size <= 1 =>
        census(_, sfDir, rest.headOption.getOrElse("PLANS.md"))
      case _ =>
        throw new IllegalArgumentException(
          s"unknown subcommand or missing arguments: ${args.mkString(" ")}; $usage")
    }
    val spark = Session("graft-dev")
    try run(spark) finally spark.stop()
  }

  private def checked(names: Seq[String]): Unit = {
    require(names.nonEmpty, s"no query names; $usage")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** Runs `body` per query; a failing query is reported and skipped. */
  private def each(names: Seq[String])(body: String => Unit): Unit =
    names.foreach { n =>
      try body(n)
      catch { case e: Throwable => println(s"$n FAIL: $e") }
    }

  private def time(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit =
    each(names) { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup: staging, codegen, page cache
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name: min ${times.min}%.3f s over $reps (all: ${times.map(t => f"$t%.2f").mkString(", ")})")
    }

  private case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, shufReadMB: Double,
      shufWriteMB: Double, inputMB: Double, rows: Long)

  private def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    each(names) { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm: staging, codegen, page cache
      // planning cost alone (analysis + optimization + physical planning)
      val tp0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.executedPlan
      val planSec = (System.nanoTime() - tp0) / 1e9

      val stages = new ConcurrentLinkedQueue[Stage]()
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val m = si.taskMetrics
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(0L)
          stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60),
            si.numTasks, wall, m.executorRunTime,
            m.executorCpuTime / 1000000, m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6,
            m.inputMetrics.recordsRead))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wallSec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)

      val ss = stages.asScala.toSeq.sortBy(-_.wallMs)
      println(f"== $name: wall $wallSec%.3f s, plan $planSec%.3f s, " +
        f"${ss.size} stages, ${ss.map(_.tasks).sum} tasks, " +
        f"sum(stage wall) ${ss.map(_.wallMs).sum / 1e3}%.3f s, " +
        f"sum(executor run) ${ss.map(_.runMs).sum / 1e3}%.3f s")
      ss.take(14).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.wallMs}%6d ms wall | ${s.tasks}%3d tasks " +
          f"| run ${s.runMs}%6d ms cpu ${s.cpuMs}%6d gc ${s.gcMs}%4d " +
          f"| shW ${s.shufWriteMB}%8.2f MB shR ${s.shufReadMB}%8.2f MB " +
          f"| in ${s.inputMB}%7.2f MB ${s.rows}%9d rows | ${s.name}")
      }
    }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String],
      exec: Boolean, out: Option[(String, String)]): Unit = {
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    each(names) { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (exec) df.collect()
      out match {
        case Some((dir, suffix)) =>
          val txt = df.queryExecution.explainString(FormattedMode)
          Files.write(Paths.get(dir, s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
          println(s"wrote ${name}_$suffix.txt (${txt.length} chars)")
        case None =>
          println(s"===== $name =====")
          println(df.queryExecution.executedPlan)
      }
    }
  }

  private def show(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    each(names) { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name: ${df.count()} rows =====")
      df.show(50, false)
    }

  /** Whole-surface physical-plan census: one markdown row per declared
    * query with the counts the 100 TB design lives or dies by — distinct
    * shuffles, file scans, broadcast builds, windows, nested-loop/
    * cartesian joins, and whole-stage-codegen span count. PlanSpec pins
    * these properties for ~70 queries one assertion at a time; the
    * census sees ALL of them at once, so a bad plan in a query nobody
    * wrote a pin for still shows up in the diff of the committed PLANS.md.
    *
    * Counting rules match PlanSpec: AQE's initialPlan (inputPlan predates
    * EnsureRequirements and has no exchanges), shuffles deduplicated by
    * canonicalized form (stage reuse executes canonically-equal
    * exchanges once). The `lifecycle = true` defs (streaming/JDBC) are
    * excluded for the same reason as in SqlParitySpec.
    */
  private def census(spark: SparkSession, sfDir: String, out: String): Unit = {
    // AQE off for the census: with AQE, CollapseCodegenStages and
    // ReuseExchangeAndSubquery run per-stage at RUNTIME, so the
    // static initialPlan shows zero codegen spans and duplicates
    // shared subtrees; the AQE-off executedPlan is the complete
    // static picture (PartitionInvarianceSpec pins that results are
    // identical under AQE-off, so the census audits the same query)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val sb = new StringBuilder
    sb ++= s"# Physical-plan census (auto-generated by graft.tools.Dev census at $sfDir)\n\n"
    sb ++= "Distinct-canonical shuffle count, file scans, broadcast builds, window\n"
    sb ++= "operators, nested-loop joins (BNLJ/cartesian), and whole-stage-codegen\n"
    sb ++= "spans per declared query. Regenerate: `tools/run.sh graft.tools.Dev census\n"
    sb ++= s"$sfDir $out` after adding queries.\n\n"
    sb ++= "| query | shuffles | scans | bcasts | windows | nlj | wscg |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"

    // standing reasons for flagged plans — every flag either appears
    // here (reviewed, shape is intentional) or is a regression to fix
    val reasons = Map(
      "q08_join_cross" -> "declared cross join (5x5x5 dims)",
      "q55_ngram_jaccard" -> "BNLJ broadcasts a tiny doc-pair probe set",
      "q59_embedding_neardup" -> ("bounded IVF-blocked + i8-pruned form (round 5): " +
        "the BNLJ is the k-row centroid broadcast for cell assignment; the shuffle " +
        "chain is cell-assign → int8 Cauchy-Schwarz prune → exact-cosine top-k"),
      "q60_cosine_topk" -> "single-row query-vector broadcast",
      "q61_ann_lsh" -> "probe rows broadcast to bucketed corpus",
      "q63_ann_ivf" -> "centroid table broadcast (k rows)",
      "q66_neardup_ivf_blocked" -> "centroid/cell tables broadcast (k rows)",
      "q67_ann_ivf_trained" -> "trained centroid broadcast (k rows)",
      "q204_ann_ivf_persisted" -> ("single-row query-vector broadcast in the probe " +
        "(the persisted-index layout means no centroid/train stage exists at probe " +
        "time at all — the q63/q67 BNLJ family minus the training broadcasts)"),
      "q90_hard_negatives" -> "per-query positive row broadcast",
      "q94_sql_cosine_topk" -> "single-row query-vector broadcast",
      "q112_sql_gram_kernels" -> "two-literal-row comparison frame",
      "q119_fuzzy_dim_pairs" -> "distinct dim values broadcast (|part| names)",
      "q129_pagerank_nations" -> "iterative: shuffles scale with rounds (5), each keyed on 25 nations",
      "q132_bm25_search" -> "query-terms literal frame broadcast",
      "q177_tpch_q22" -> "Q22 scalar avg-balance subquery broadcast (1 row)",
      "q187_source_minhash_jaccard" -> "pairwise stage compares n_sources^2 sketch rows (tiny)",
      "q199_kmv_intersect" -> ("the segment-pair stage joins n_types^2 sketch rows on an " +
        "inequality (type_a < type_b) — a broadcast nested-loop over a handful of " +
        "bounded-size sketch rows by construction (the q187 pairwise-sketch shape)"),
      "q194_tpch_q2" -> "partsupp generator's 1-row supplier-count scalar broadcast (constant probe)",
      "q195_tpch_q9" -> "partsupp generator's 1-row supplier-count scalar broadcast (constant probe)",
      "q196_tpch_q11" -> "two 1-row scalar broadcasts: partsupp's supplier count + Q11's total/count HAVING threshold",
      "q197_tpch_q16" -> "partsupp generator's 1-row supplier-count scalar broadcast (constant probe)",
      "q198_tpch_q20" -> "partsupp generator's 1-row supplier-count scalar broadcast (constant probe)")

    val excluded = SparkEntry.nonRelationalLifecycle
    var worst = List.empty[(String, String)]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !excluded.contains(name)) {
      try {
        val df = fn(spark, sfDir)
        val p0 = df.queryExecution.executedPlan
        val p = p0 match { case a: AdaptiveSparkPlanExec => a.initialPlan; case x => x }
        def nodes: Seq[SparkPlan] = p.collect { case n => n }
        val shuffles = p.collect { case e: ShuffleExchangeLike => e.canonicalized }.distinct.size
        val scans = nodes.count(_.isInstanceOf[FileSourceScanExec])
        val bcasts = p.collect { case e: BroadcastExchangeLike => e.canonicalized }.distinct.size
        val windows = nodes.count(_.isInstanceOf[WindowExec])
        val nlj = nodes.count(n => n.isInstanceOf[CartesianProductExec] ||
          n.isInstanceOf[BroadcastNestedLoopJoinExec])
        val wscg = nodes.count(_.isInstanceOf[WholeStageCodegenExec])
        sb ++= s"| $name | $shuffles | $scans | $bcasts | $windows | $nlj | $wscg |\n"
        if (nlj > 0) worst ::= (name, s"$nlj nested-loop join(s)")
        if (shuffles > 8) worst ::= (name, s"$shuffles shuffles")
      } catch {
        case e: Throwable =>
          sb ++= s"| $name | — plan build failed: ${e.getClass.getSimpleName} |\n"
          worst ::= (name, s"plan build failed: ${e.getClass.getSimpleName}")
      }
    }
    sb ++= "\n## Flags (nested-loop joins or >8 shuffles — each needs a reason)\n\n"
    if (worst.isEmpty) sb ++= "(none)\n"
    else worst.reverse.foreach { case (n, w) =>
      val why = reasons.get(n).map(r => s" — $r").getOrElse(" — **UNREVIEWED**")
      sb ++= s"- $n: $w$why\n"
    }
    sb ++= "\n## Excluded from the static census\n\n"
    sb ++= "No static batch plan exists to census for these — the DataFrame side\n"
    sb ++= "drives the real StreamExecution engine (checkpoints, RocksDB state)\n"
    sb ++= "or an embedded-Derby JDBC lifecycle. They are gated end-to-end by the\n"
    sb ++= "streaming/JDBC specs and the driver oracle instead:\n\n"
    excluded.toSeq.sorted.foreach { n =>
      val kind = if (n.contains("jdbc")) "JDBC sink/scan lifecycle (embedded Derby)"
                 else "stateful streaming (StreamExecution)"
      sb ++= s"- $n: excluded — $kind\n"
    }
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"wrote $out")
  }
}
