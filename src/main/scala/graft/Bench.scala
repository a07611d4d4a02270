package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{functions => gfn}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")
    // SPARK_GRAFT_BENCH_ONLY=q206_x,q77_y restricts the run to named
    // queries — the dev path for APPENDING scaling rows when a query
    // lands mid-round without re-sweeping the whole surface (per-query
    // timings are independent measurements; the merged table is
    // assembled by tools/scaling_table.py from however many sidecars
    // cover the surface). Unknown names fail loudly: a typo must not
    // silently record an empty pass as "measured".
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY names unknown queries: $unknown")
    }
    val warm = warmup(spark, sfDir)
    // Host-calibration probe (VERDICT r9 #7): a fixed, fixture-
    // independent CPU-bound workload run 5x after warmup — xxhash64
    // over range(16M) in 8 partitions, no shuffle, no IO beyond
    // codegen. Cross-round artifact comparisons divide by this to
    // normalize the documented 15-40% host-day drift mechanically
    // instead of narratively. min = best-case host speed; median =
    // typical; both recorded (a stall can inflate the median, never
    // the min).
    val calibration: (Double, Double) = {
      def probe(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 16L * 1000 * 1000, 1L, 8)
          .select(xxhash64(col("id")).as("h")).agg(max("h")).collect()
        (System.nanoTime() - t0) / 1e9
      }
      probe() // untimed: JIT/codegen first-touch
      val xs = (1 to 5).map(_ => probe()).sorted
      (xs.head, xs(2))
    }
    // SPARK_GRAFT_BENCH_STREAMS=N switches to the CONCURRENT-throughput
    // mode: N query streams over session clones, one FAIR pool each —
    // the multi-tenant posture of a shared cluster. Mutually exclusive
    // with the serial artifact; prints its own metric line and exits.
    sys.env.get("SPARK_GRAFT_BENCH_STREAMS").map(_.toInt).foreach { n =>
      runConcurrent(spark, sfDir, n, only, warm.errors)
      spark.stop()
      return
    }
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // Min-merge across INDEPENDENT full sweeps — SCALING.md's
    // methodology, moved into the recorded artifact itself. The old
    // scheme timed each query twice BACK-TO-BACK; this host's
    // documented whole-JVM stalls last multiple seconds, so one stall
    // could straddle both samples of the same query and survive the
    // min (BENCH_r07 recorded 135.9 s against 111.0 s in the same-code
    // min-merged sweeps — a 22% artifact-methodology error, zero code
    // change). Two sweeps put a whole pass (~a minute at sf0.1)
    // between any query's two samples: a stall that inflates a query
    // in pass 1 has long ended when pass 2 reaches it.
    val pass1 = sel.map { case (name, fn) => (name, once(fn)) }
    val p1 = pass1.toMap
    val pass2 = sel.map { case (name, fn) =>
      // a query that FAILED in pass 1 keeps its failure: the retry
      // would only pay a second time-to-failure
      if (p1(name)._2.isDefined) (name, p1(name)) else (name, once(fn))
    }
    val merged = pass2.map { case (name, (d2v, e2)) =>
      val (d1v, e1) = p1(name)
      if (e1.isDefined) (name, d1v, e1)
      // pass 1 succeeded, so the query works — a flaky pass 2 must
      // neither poison the timing nor evict the query from the total
      else if (e2.isDefined) (name, d1v, None)
      else (name, math.min(d1v, d2v), None)
    }
    // targeted third sample, itself decorrelated from both sweeps by
    // running at the very end: EITHER the two sweeps disagree by >2x
    // (one of them ate a stall) OR the merged time is >1 s (stalls are
    // multi-second, so two stalled samples can AGREE and still both be
    // inflated — r4's q145 recorded 6.16 s vs 0.55 s in an
    // identical-config sweep). Costs one extra sample on the handful
    // of slow/noisy queries, bounds the residual failure mode.
    val qmap = SparkEntry.queries
    val results = merged.map { case (name, d, err) =>
      val (a, b) = (p1(name)._1, pass2.toMap.apply(name)._1)
      val noisy = (math.max(a, b) > 2 * math.min(a, b) && d > 0.2) || d > 1.0
      if (err.isEmpty && noisy) {
        val (d3, e3) = once(qmap(name))
        (name, if (e3.isDefined) d else math.min(d, d3), err)
      } else (name, d, err)
    }
    // the recording harness keeps only the LAST ~2000 characters of this
    // process's output and parses the metric line out of that window. A
    // per-query map does NOT fit at this surface size: the round-3
    // compact line (short keys, 10 ms precision) fit at 101 queries but
    // overflowed again at 169 (BENCH_r04 parsed:null, q01-q05 cut). So
    // the FINAL line now carries total+errors ONLY — a few hundred bytes
    // at any query count — and per-query detail lives exclusively in the
    // full-name line printed first (complete in the full log, for
    // humans) and the target/bench_last.json sidecar.
    //
    // a failed query's elapsed time is meaningless — surface it as an
    // explicit error instead of letting it pass for a slow success,
    // and keep it OUT of the headline total (a fast failure must not
    // deflate the number a later round is compared against). Failed
    // warm steps join them as `staging:<name>`.
    val errs = (results.collect { case (k, _, Some(e)) => k -> e } ++ warm.errors)
      .map { case (k, e) => "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    // toString (not an f-interpolator) keeps the decimal separator
    // locale-independent — a comma would make the line unparseable JSON.
    val total = results.collect { case (_, v, None) => v }.sum
    val detail = {
      val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // standing annotations: per-query costs that are designed-in, so
      // a round-over-round diff doesn't misread them as regressions
      val notes = Seq(
        "q56_minhash_pairs" -> ("portable md5 signature path for DuckDB replay; " +
          "~+2.6s vs the native xxhash kernel used by q57/q58/q83 (see SURVEY)")
      ).map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
      val method = "per-query min over 2 independent full sweeps " +
        "(decorrelates multi-second host stalls) + end-of-run resample of " +
        "queries with >2x sweep disagreement or >1s merged time; " +
        "staging = untimed first-touch build cost per memoized surface " +
        "(the per-query time measures the post-staging read)"
      val stagingJson = warm.staging.map { case (k, v) =>
        "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val cal = s"""{"probe":"xxhash64 over range(16M), 8 partitions, """ +
        s"""min+median of 5 post-warm runs","min":${calibration._1},""" +
        s""""median":${calibration._2}}"""
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"staging":$stagingJson,"calibration":$cal,"notes":$notes,"method":"$method","sf":"$sfDir"}"""
    }
    println(detail)
    // sidecar copy with full names — survives any stdout mangling.
    // Written (and any failure reported) BEFORE the final line so
    // nothing we print can land after it in the recorder's tail window.
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_last.json"))
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (detail + "\n").getBytes("UTF-8"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench sidecar write failed: $e")
    }
    spark.stop()
    // FINAL line, the one the recorder parses: total + errors only.
    // "queries" stays present (empty) for any parser that expects the
    // key; per-query numbers are in the first line and the sidecar.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":{},"errors":$errs,"nqueries":${results.size},"detail":"target/bench_last.json","sf":"$sfDir"}""")
  }

  /** Concurrent-throughput mode: N streams, each running the FULL
    * declared surface in a stream-rotated order (offset i·|Q|/N, the
    * TPC-DS throughput-run device — streams hit different queries at
    * any instant, so the measurement exercises concurrent DIFFERENT
    * plans, not N copies of the same stage). Each stream runs on its
    * own session clone (independent SQLConf — the ConcurrencySpec
    * isolation contract) inside its own FAIR pool. Recorded: wall
    * total, per-stream totals and per-query p50/p95, and aggregate
    * throughput; the serial artifact's per-query times are the
    * baseline the slowdown reads against. Answer identity under
    * concurrency is pinned by ConcurrencySpec — this mode measures
    * only cost.
    */
  private def runConcurrent(spark: SparkSession, sfDir: String, n: Int,
      only: Option[Set[String]], stagingErrors: Seq[(String, String)]): Unit = {
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    require(n >= 1 && sel.nonEmpty, s"streams=$n, queries=${sel.size}")
    val wall0 = System.nanoTime()
    val results = (0 until n).map { i =>
      val t = new java.util.concurrent.FutureTask(
        new java.util.concurrent.Callable[(Seq[Double], Seq[String])] {
          override def call(): (Seq[Double], Seq[String]) = {
            val ss = org.apache.spark.sql.graft.SessionClone(spark)
            ss.sparkContext.setLocalProperty("spark.scheduler.pool", s"stream$i")
            val rotated = sel.drop(i * sel.size / n) ++ sel.take(i * sel.size / n)
            val times = Seq.newBuilder[Double]
            val errs = Seq.newBuilder[String]
            rotated.foreach { case (name, fn) =>
              val t0 = System.nanoTime()
              // record the duration ONLY on success — mirroring the
              // serial path's rule that a failure's time-to-failure
              // must not poison totals/percentiles (a fast failure
              // would deflate them while hiding in `errors`)
              try {
                fn(ss, sfDir).count()
                times += (System.nanoTime() - t0) / 1e9
              }
              catch { case e: Throwable => errs += s"$name:${e.getClass.getSimpleName}" }
            }
            (times.result(), errs.result())
          }
        })
      val th = new Thread(t, s"graft-stream-$i")
      th.start()
      (t, th)
    }.map { case (t, th) => th.join(); t.get() }
    val wall = (System.nanoTime() - wall0) / 1e9
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, (p * s.size).toInt))
    }
    val perStream = results.zipWithIndex.map { case ((times, _), i) =>
      s""""s$i":{"total":${times.sum},"p50":${pct(times, 0.50)},"p95":${pct(times, 0.95)}}"""
    }.mkString("{", ",", "}")
    val errs = results.flatMap(_._2) ++ stagingErrors.map { case (k, e) => s"$k:$e" }
    val errsJson = errs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val nq = results.map(_._1.size).sum
    val line =
      s"""{"metric":"concurrent_total","value":$wall,"unit":"sec","streams":$n,""" +
      s""""queries_run":$nq,"throughput_qps":${nq / wall},"per_stream":$perStream,""" +
      s""""errors":$errsJson,"sf":"$sfDir"}"""
    try {
      val p = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", s"target/bench_concurrent_$n.json"))
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench sidecar write failed: $e")
    }
    println(line)
  }

  /** Untimed warmup: first-touch costs (JIT of the native expression
    * kernels, whole-stage codegen compilation, parquet footer reads and
    * page-cache fill for EVERY table) must not land inside a timed
    * query. Each table gets one full-width read (hash of all columns —
    * a bare count() would be satisfied from parquet metadata and warm
    * nothing), and every custom kernel path (minhash/simhash/gram-set/
    * intersect, cosine/LSH-bucket) is evaluated once.
    *
    * Returns the STAGING map: first-touch wall seconds per `stage = true`
    * def, in registry order (lake MERGE/MV/feed staging, ANN index
    * build, layout writes, Derby load, streaming first runs). The recorded
    * per-query times for these queries measure the post-staging READ by
    * design — the sidecar's `staging` entries keep the one-off costs
    * visible instead of looking like 0.1 s MERGEs (round-8 finding #2). */
  private def warmup(spark: SparkSession, sfDir: String): Warmup = {
    val staging = Seq.newBuilder[(String, Double)]
    val errors = Seq.newBuilder[(String, String)]
    // each step in its own try: a failure in one warmup must not skip
    // the later one-off costs (that would silently inflate their
    // timed queries with exactly the cost warmup exists to pre-pay).
    // A failure is reported as `staging:<name>` in the sidecar's errors
    // map, and a failed staged step's time stays out of `staging`.
    def step(name: String)(body: => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      try { body; Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        errors += s"staging:$name" -> e.getClass.getSimpleName
        None
      }
    }
    Tables.all.foreach { n =>
      step(n) {
        val df = Tables(spark, sfDir, n)
        // max, NOT sum: under default ANSI mode, summing row hashes
        // overflows Long almost surely past a few rows, killing the
        // warm-read job partway through the table (the failure was
        // swallowed by this catch — found when the sf1 run's stderr
        // filled with ARITHMETIC_OVERFLOW). max still reads every row.
        df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(max("h")).collect()
      }
    }
    step("text_kernels") {
      val g = gfn.gram_set(col("text"), 5)
      Tables(spark, sfDir, "documents")
        .select(
          element_at(gfn.minhash_sig(col("text"), 32, 5), 1).as("m"),
          gfn.simhash64(col("text")).as("s"),
          gfn.sorted_intersect_size(g, g).as("i"))
        .agg(max("m"), max("s"), max("i")).collect() // max: see above
    }
    step("vector_kernels") {
      Tables(spark, sfDir, "embeddings")
        .select(
          gfn.cosine_sim(col("embedding"), col("embedding")).as("c"),
          gfn.lsh_bucket(col("embedding"), 6, 0).as("b"))
        .agg(sum("c"), max("b")).collect()
    }
    step("q22_multi_join")(SparkEntry.queries("q22_multi_join")(spark, sfDir).count())
    // memoized one-off stagings (the `stage = true` defs), each
    // recorded in the `staging` sidecar map: the timed query then
    // measures what it declares — the post-staging READ — with the
    // build cost visible here instead of masquerading as a 0.1 s MERGE.
    SparkEntry.defs.filter(_.stage).foreach { d =>
      step(d.name)(d.run(spark, sfDir).count()).foreach(t => staging += d.name -> t)
    }
    Warmup(staging.result(), errors.result())
  }

  /** First-touch seconds per staged step that succeeded, and
    * `staging:<name>` → exception class for every warm step that threw. */
  private case class Warmup(staging: Seq[(String, Double)], errors: Seq[(String, String)])
}
