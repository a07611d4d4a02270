package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}

/** Round-4 surface extensions, part 4: graph analytics (triangle
  * enumeration over the co-purchase graph), distribution primitives
  * (equi-depth histogram), data-quality profiling (per-column profile),
  * experimentation statistics (Welch's t on deterministic hash arms),
  * and rank fusion (RRF). Reference analog: none (capability
  * extensions per SURVEY §2's "what a real user hits next").
  *
  * Exactness contract as everywhere in the repo: money as integer
  * cents, closing doubles produced by ONE IEEE expression evaluated
  * identically by Spark and DuckDB (rounded to 6dp where a ratio of
  * exact integers closes the query), every output totally ordered.
  */
object Analytics3Queries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Support-thresholded co-purchase edge set (pa < pb, co-ordered ≥ 2
    * times), MATERIALIZED: per-order pair expansion as ONE grouped
    * aggregate + array HOF (C(lines,2) ≤ ~21 pairs/order) instead of an
    * items self-join — one fact scan, one shuffle, no join. Shared by
    * the graph queries (q167 consumes it three times, q173 every BFS
    * round); without the materialization the plan re-derives the build
    * per consumer (6 fact scans in q167's first cut, measured). */
  private[operators] def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            y -> struct(x AS pa, y AS pb))))""".stripMargin)).as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .select(col("pa"), col("pb"))
      .transform(graft.util.Checkpoints.truncate)

  /** q167: triangle participation in the co-purchase graph — the
    * canonical distributed-graph pattern after connected components
    * (q83) and PageRank (q129). Vertices are parts; an undirected edge
    * joins two parts co-ordered ≥ 2 times (the same support cut that
    * keeps q109's pair mining non-noise). Enumeration is the
    * DEGREE-ORIENTED wedge join (the count-triangles-in-MapReduce
    * refinement): every edge is directed from its lower-(degree, id)
    * endpoint to the higher, each triangle then has exactly ONE vertex
    * with both triangle edges outgoing, so the wedge self-join on the
    * source plus one hash probe of the canonical edge set finds every
    * triangle exactly once — and out-degrees under this orientation
    * are bounded by O(√|E|) (arboricity), which caps the wedge
    * fan-out a high-degree hub would otherwise generate
    * quadratically. The id-only orientation (a<b<c) is the same join
    * shape WITHOUT that cap: one celebrity part co-bought with
    * thousands of others turns its wedge set into a single-vertex
    * blow-up — the triangle analog of the LSH hot-bucket. The output
    * (per-vertex triangle counts) is orientation-INVARIANT, so the
    * DuckDB oracle keeps the mechanical a<b<c formulation. Edges are
    * support-thresholded order pairs: bounded by q109's per-order
    * ≤C(lines,2) expansion, never all-parts². */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val e = copurchaseEdges(s, dir)
    // degree per endpoint over the undirected edge set
    val deg = e.select(explode(array(col("pa"), col("pb"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orientation key packs (degree, id) into one long — ids are part
    // keys < 2^32, degrees < 2^30, so the pack fits a long collision-
    // free and the lexicographic (d, id) order becomes a single long
    // compare. The bounds are ASSERTED per row (two compares,
    // codegen'd): if a future fixture ever scales part keys past 2^32
    // or degrees past 2^30 the query fails with this message instead
    // of silently corrupting triangle counts via overflow/collision.
    def okey(d: Column, v: Column): Column =
      when(v >= 0L && v < lit(1L << 32) && d >= 0L && d < lit(1L << 30),
        d * lit(1L << 32) + v)
        .otherwise(raise_error(lit(
          "q167 orientation-key overflow: part key >= 2^32 or degree >= 2^30")).cast("long"))
    val oriented = e
      .join(deg.select(col("v").as("pa"), col("d").as("da")), Seq("pa"))
      .join(deg.select(col("v").as("pb"), col("d").as("db")), Seq("pb"))
      .select(
        when(okey(col("da"), col("pa")) < okey(col("db"), col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst"),
            okey(col("db"), col("pb")).as("dstk")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst"),
            okey(col("da"), col("pa")).as("dstk"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.dstk").as("dstk"))
      .transform(graft.util.Checkpoints.truncate)
    // wedges at the triangle's minimum-(deg,id) vertex: two out-edges,
    // ordered by the destination key so each unordered pair appears once
    // the closing-edge existence probe: the wedge frame is the LARGEST
    // object in the query (Σ C(outdeg, 2) — 41M rows at sf1 against
    // 1.2M edges), so it must never shuffle. The edge set packs into
    // single longs (same <2^32/<2^30 bounds okey asserts on this very
    // frame) and BROADCASTS: the probe becomes a map-side hash lookup
    // and the round-5 plan's 41M-row SMJ exchange disappears (round-5
    // sweeps: 10.6 s at sf1; round-6 min-merged sweeps: 4.45 s — the
    // residual is the edge build + wedge generation, which the probe
    // shape doesn't touch). Scale guard: |E| is a dimension² object
    // under a support cut (≤ C(|part|, 2)), not fact-scale — when a
    // deployment's edge set outgrows broadcast, BloomFilterPrune
    // (q123's operator) in front of a shuffled semi join is the
    // drop-in fallback, at the price of re-shuffling true wedges.
    val ekeys = e.select((col("pa") * lit(1L << 32) + col("pb")).as("ek"))
    val tri = oriented.as("x")
      .join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dstk") < col("y.dstk"))
      .select(col("x.src").as("u"), col("x.dst").as("v"), col("y.dst").as("w"))
      .join(broadcast(ekeys),
        least(col("v"), col("w")) * lit(1L << 32) +
          greatest(col("v"), col("w")) === col("ek"),
        "left_semi")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("p_partkey"))
      .limit(20)
  }

  /** q168: equi-depth (decile) histogram of lineitem extended price —
    * the complement of q151's fixed-width bins: bin BOUNDARIES adapt so
    * each bin holds the same row count (what a query planner's
    * histogram and a feature-binning step both want). Semantics are
    * ntile(10) over a TOTAL order (exact cents, then the row identity
    * as tie-break — ntile on a non-total order is engine-DEPENDENT on
    * ties, so the tie-break is part of the declared semantics), and
    * that is exactly what the DuckDB oracle runs. The EXECUTION shape
    * is the scalable global-rank device, not a global window (a
    * window with no partition key sorts the whole table in ONE task —
    * measured 9.3 s at sf1 vs 1.9 s for this form): range-repartition
    * on the total order (parallel sort), materialize once, local
    * row_number per partition (window keyed by partition id — all
    * partitions rank concurrently), add per-partition offsets
    * (partition-count table is one row per partition — driver-side
    * running sum, broadcast back), then compute ntile's bucket
    * arithmetic from the global row number: with q = N div 10,
    * r = N mod 10, the first r buckets take q+1 rows. Every quantity
    * is an exact integer, so the assignment is engine-exact. */
  def equidepthHistogram(s: SparkSession, dir: String): DataFrame = {
    val ranged = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        Exact.cents(col("l_extendedprice")).as("c"))
      // partition count inherits spark.sql.shuffle.partitions — the
      // knob a deployment already sizes for its data volume
      .repartitionByRange(col("c"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("pid", spark_partition_id())
      .transform(graft.util.Checkpoints.truncate)
    val counts = ranged.groupBy(col("pid")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
      (pid, acc + n)
    }.tail.zip(counts).map { case ((pid, cum), (_, n)) => (pid, cum - n) }
    val offDf = s.createDataFrame(offsets.toIndexedSeq).toDF("pid", "off")
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("c"), col("l_orderkey"), col("l_linenumber"))
    ranged
      .withColumn("lrn", row_number().over(w))
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("rn", col("off") + col("lrn"))
      .withColumn("decile", ntileBucket(col("rn"), total, 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        (min(col("c")).cast("double") / 100.0).as("lo"),
        (max(col("c")).cast("double") / 100.0).as("hi"))
      .select(col("decile").cast("long").as("decile"), col("n"),
        col("lo"), col("hi"))
      .orderBy("decile")
  }

  /** q173: BFS shortest-path distances from the smallest vertex of the
    * co-purchase graph — the FRONTIER (delta) iteration pattern that
    * completes the repo's distributed-graph suite: connected
    * components iterate over ALL vertices per round (q83's min-label),
    * PageRank over all edges per round (q129), recursion declaratively
    * via UnionLoop (q122) — BFS joins only the current FRONTIER with
    * the edge set each round, the shape whose per-round cost tracks
    * the wave, not the graph. Each round: frontier ⋈ edges →
    * neighbors, anti-join against the visited set (first visit IS the
    * BFS distance), materialize both (lineage truncation per round —
    * reliable checkpoint under spark.graft.checkpointDir, see
    * Checkpoints). Terminates when the frontier drains or at maxDepth
    * (the oracle's recursive CTE carries the identical cap, so both
    * engines bound the same wave). Edge set shared with q167
    * (copurchaseEdges, materialized once). */
  def bfsDistances(s: SparkSession, dir: String, maxDepth: Int = 12): DataFrame = {
    val e = copurchaseEdges(s, dir)
    val edges = e.union(e.select(col("pb").as("pa"), col("pa").as("pb")))
      .transform(graft.util.Checkpoints.truncate)
    val srcRow = edges.agg(min(col("pa"))).collect().head
    if (srcRow.isNullAt(0)) {
      // degenerate corpus with no support-2 edges: empty result with
      // the declared schema, not a driver NPE
      import s.implicits._
      return Seq.empty[(Long, Long)].toDF("id", "dist")
    }
    val srcId = srcRow.getLong(0)
    var dist = edges.sparkSession.range(1)
      .select(lit(srcId).as("id"), lit(0L).as("dist"))
      .transform(graft.util.Checkpoints.truncate)
    var frontier = dist
    var depth = 0
    var drained = false
    while (!drained && depth < maxDepth) {
      depth += 1
      val next = frontier
        .join(edges, frontier("id") === edges("pa"))
        .select(col("pb").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .select(col("id"), lit(depth.toLong).as("dist"))
        .transform(graft.util.Checkpoints.truncate)
      drained = next.isEmpty
      if (!drained) {
        dist = dist.union(next).transform(graft.util.Checkpoints.truncate)
        frontier = next
      }
    }
    dist.orderBy("id")
  }

  /** SQL ntile's bucket assignment computed from a 1-based global row
    * number: with q = N div k and r = N mod k, the first r buckets take
    * q+1 rows and the rest take q — the standard-SQL contract both
    * Spark's and DuckDB's ntile implement, in exact integer arithmetic
    * (pinned against Spark's own ntile on a non-divisible N in the
    * spec). max(q,1) guards the N < k degenerate case, where the first
    * branch covers every row and the divisor is never meaningful. */
  private[operators] def ntileBucket(rn: org.apache.spark.sql.Column,
      total: Long, k: Int): org.apache.spark.sql.Column = {
    val nq = total / k
    val nr = total % k
    // exact long floor-division: subtract the remainder first so the
    // double division has an integer-exact result (< 2^53 — row
    // numbers to ~9e15 before that bound matters)
    def idiv(x: org.apache.spark.sql.Column, d: Long) =
      ((x - pmod(x, lit(d))) / lit(d)).cast("long")
    when(rn <= lit(nr * (nq + 1)), idiv(rn - 1, nq + 1) + 1L)
      .otherwise(lit(nr) +
        idiv(rn - lit(nr * (nq + 1)) - 1, math.max(nq, 1L)) + 1L)
  }

  /** q169: MELT-shaped column profile — the wide-table sibling of
    * q126's profiler. q126 computes every column's aggregates side by
    * side in one wide row (multi-distinct → ONE Expand over the scan):
    * ideal at few columns, but the expand factor grows with the
    * column count, so a 500-column feature table pays a 500× row
    * blow-up inside the aggregate. This shape melts first — stack()
    * to (column, value) — then runs ONE grouped aggregate keyed by
    * column name: the same linear data volume regardless of column
    * count, the standard profiler at wide-schema scale. min/max are
    * LEXICOGRAPHIC on the stringified value by declared semantics (a
    * display profile, not numeric stats — q120/q151 own those);
    * integer-typed columns stringify identically on both engines,
    * which is why the profile targets documents (no double columns).
    * n_distinct counts distinct non-null values per column — at 100 TB
    * swap in approx_count_distinct (q31's HLL) behind the same shape. */
  def columnProfile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(expr(
        """stack(5,
          | 'doc_id', CAST(doc_id AS STRING),
          | 'lang', lang,
          | 'n_chars', CAST(n_chars AS STRING),
          | 'source', source,
          | 'text_len', CAST(length(text) AS STRING)) AS (col, v)""".stripMargin))
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        count_distinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
      .orderBy("col")

  /** q170: A/B experiment readout — Welch's t statistic for order value
    * between two DETERMINISTIC arms (md5 of the customer key, the q39
    * split device: reproducible across engines, runs, partitionings —
    * rand() is none of those, and arm assignment that moves between
    * runs is an invalid experiment). All moments accumulate exactly:
    * counts, cent sums, and cent sums-of-squares in decimal(38,0)
    * (q141's device; squares of ~5e7-cent orders overflow int64 at
    * sf≳0.1). The t statistic closes in ONE fixed-shape IEEE
    * expression over six exact integers, rounded to 6dp. One fact scan,
    * one 2-row aggregate — the readout is O(1) beyond the scan at any
    * scale. */
  def abWelchT(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val arm = (conv(substring(md5(concat(col("o_custkey").cast("string"),
      lit(":ab170"))), 1, 4), 16, 10).cast("long") % 2).as("arm")
    val cents = Exact.cents(col("o_totalprice"))
    val m = t(s, dir, "orders")
      .select(arm, cents.as("c"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("c").cast(d38)).as("s"),
        sum((col("c") * col("c")).cast(d38)).as("ss"))
    // pivot the 2-row aggregate to one row of exact integers, then
    // close mean/variance/t in fixed-shape double expressions: Welch's
    // t = (m1-m0)/sqrt(v1/n1+v0/n0), v from the exact moment identity
    // n·ss-s² (decimal), each double produced by the SAME op sequence
    // in Spark and DuckDB
    def armAgg(a: Int, c: String) = max(when(col("arm") === a, col(c))).as(s"${c}$a")
    val p = m.agg(armAgg(0, "n"), armAgg(0, "s"), armAgg(0, "ss"),
      armAgg(1, "n"), armAgg(1, "s"), armAgg(1, "ss"))
    def mean(i: Int) =
      col(s"s$i").cast("double") / col(s"n$i").cast("double") / lit(100.0)
    def varOverN(i: Int) = // sample variance / n, in dollars²
      (col(s"n$i").cast(d38) * col(s"ss$i") - col(s"s$i") * col(s"s$i")).cast("double") /
        col(s"n$i").cast("double") / (col(s"n$i").cast("double") - 1.0) /
        col(s"n$i").cast("double") / lit(10000.0)
    p.select(col("n0"), col("n1"),
      round(mean(0), 6).as("mean_a"), round(mean(1), 6).as("mean_b"),
      round((mean(1) - mean(0)) / sqrt(varOverN(1) + varOverN(0)), 6).as("t_stat"))
  }

  /** q171: reciprocal rank fusion — the standard device for merging
    * heterogeneous rankings (lexical + vector retrieval, or any two
    * scorers) without score calibration: RRF(d) = Σ 1/(k + rank_i(d)),
    * k = 60. Here the two part rankings every merchandising dashboard
    * keeps — units sold and revenue — fuse into one list. Both ranks
    * come from ONE fact aggregate (both metrics in the same groupBy —
    * no second scan) followed by two window sorts over the PART-sized
    * table; ranks are row_number over a total order (metric DESC, key),
    * so each 1/(60+r) term — and their 2-term sum, a fixed-shape
    * expression — is engine-exact. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("units"),
        sum(Exact.cents(col("l_extendedprice"))).as("rev_cents"))
    val byUnits = Window.orderBy(col("units").desc, col("p_partkey"))
    val byRev = Window.orderBy(col("rev_cents").desc, col("p_partkey"))
    agg.withColumn("r_units", row_number().over(byUnits))
      .withColumn("r_rev", row_number().over(byRev))
      .select(col("p_partkey"), col("r_units").cast("long").as("r_units"),
        col("r_rev").cast("long").as("r_rev"),
        round(lit(1.0) / (lit(60.0) + col("r_units")) +
          lit(1.0) / (lit(60.0) + col("r_rev")), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("p_partkey"))
      .limit(25)
  }

  /** q174: TPC-H Q19 shape — the DISJUNCTIVE-predicate probe: an
    * OR-of-ANDs condition spanning BOTH join sides (brand/size from
    * part, quantity from lineitem). The optimizer must (a) extract the
    * common conjuncts it CAN push (l_quantity's covering range and the
    * brand IN-list reach the scans as pushed filters) while (b) keeping
    * the cross-table disjunction as a post-join residual — naive CNF
    * expansion here explodes exponentially, and dropping the pushdown
    * entirely scans everything. Revenue in exact cent·percent units. */
  def tpchQ19(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("lineitem", "part")) { v =>
      s"""SELECT count(*) AS n_lines,
         | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
         |           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
         |   / 10000.0 AS revenue
         |FROM ${v("lineitem")} JOIN ${v("part")} ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity >= 1 AND l_quantity <= 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity >= 10 AND l_quantity <= 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
         |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin
    }

  /** q175: TPC-H Q15 shape — the GLOBAL-ARGMAX-BY-EQUALITY idiom: a
    * revenue aggregate (one quarter, per supplier) whose maximum is
    * taken by a scalar subquery over the SAME derived table, then
    * equality-joined back — the declarative "top revenue supplier"
    * every warehouse writes before it learns window functions. The
    * per-group argmax (q26) and top-k (q14) are its siblings; this is
    * the global variant with tie-safety (equality keeps ALL maxima).
    * Exact cent·percent revenue makes the max comparison engine-exact. */
  def tpchQ15(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("lineitem", "supplier")) { v =>
      s"""WITH rev AS (
         |  SELECT l_suppkey AS suppkey,
         |   sum(CAST(round(l_extendedprice*100) AS BIGINT)
         |       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS total_cp
         |  FROM ${v("lineitem")}
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name,
         | CAST(total_cp AS DOUBLE) / 10000.0 AS total_revenue
         |FROM ${v("supplier")} JOIN rev ON s_suppkey = suppkey
         |WHERE total_cp = (SELECT max(total_cp) FROM rev)
         |ORDER BY s_suppkey""".stripMargin
    }

  /** q176: TPC-H Q18 shape — IN against a GROUP BY ... HAVING
    * subquery (large-volume orders): the semi join whose build side is
    * itself an aggregate, unlike q111's row-level EXISTS. Catalyst
    * plans the HAVING aggregate once and semi-joins the fact on the
    * order key; quantities are integral-valued doubles, summed as
    * exact longs on both engines. Threshold 270 ≈ the fixture's p99
    * per-order quantity, so the result is non-empty at every sf. */
  def tpchQ18(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("customer", "orders", "lineitem")) { v =>
      s"""SELECT c_name, c_custkey, o_orderkey,
         | CAST(o_orderdate AS DATE) AS o_date,
         | sum(CAST(l_quantity AS BIGINT)) AS total_qty
         |FROM ${v("customer")}
         |JOIN ${v("orders")} ON c_custkey = o_custkey
         |JOIN ${v("lineitem")} ON o_orderkey = l_orderkey
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM ${v("lineitem")}
         |  GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 270)
         |GROUP BY c_name, c_custkey, o_orderkey, o_date
         |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin
    }

  /** q177: TPC-H Q22 shape — customers above the pool's average
    * balance with no RECENT orders (the dormant-high-value report;
    * every fixture customer has some order, so dormancy is "none since
    * 2000-07-01" — non-empty at every sf): a scalar
    * aggregate subquery feeding a filter PLUS a NOT EXISTS anti join,
    * composed. The average-balance comparison is exact integer
    * cross-multiplication (bal·n > Σbal — no float average exists
    * anywhere), nation keys replace Q22's phone country codes on this
    * schema. */
  def tpchQ22(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("customer", "orders")) { v =>
      s"""WITH pool AS (
         |  SELECT c_custkey, c_nationkey,
         |   CAST(round(c_acctbal*100) AS BIGINT) AS bal_c
         |  FROM ${v("customer")}
         |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
         |thr AS (
         |  SELECT sum(bal_c) AS s, count(*) AS n FROM pool WHERE bal_c > 0)
         |SELECT c_nationkey AS nation, count(*) AS numcust,
         | CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
         |FROM pool, thr
         |WHERE bal_c * n > s
         |  AND NOT EXISTS (
         |    SELECT 1 FROM ${v("orders")} WHERE o_custkey = c_custkey
         |      AND o_orderdate >= TIMESTAMP '2000-07-01')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
    }

  /** Mergeable distinct-count sketches (Apache DataSketches HLL via
    * Spark's hll_sketch_agg / hll_union_agg): distinct users per event
    * type, computed the way a 100 TB pipeline has to — per-(type, day)
    * sketches materialized once, then rolled up by sketch UNION without
    * ever re-touching the events, plus a corpus-wide row unioned from
    * the same daily sketches ('_ALL_'). Unlike count(DISTINCT), the
    * sketch is a bounded-size (~2^12 regs) commutative monoid: partial
    * aggregation combines map-side, re-aggregation across any rollup
    * tree is exact-union, and a year of daily sketches answers any
    * date-range distinct query in milliseconds.
    *
    * Oracle strategy: DuckDB cannot replay DataSketches bits, so the
    * declared output pins the sketch AGAINST the exact answer — each
    * row carries the exact distinct count plus a boolean asserting the
    * HLL estimate landed within the published error envelope (5% rel
    * at lgK=12 ≫ the 1.6% standard error, +16 absolute for tiny
    * groups); the oracle predicts (exact, true). A sketch regression —
    * wrong lgK plumbing, a union that drops state, an estimate bias —
    * flips the boolean and fails the hash compare. The exact side
    * exists only to power that pin; production keeps sketches only. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    // event_type IS NOT NULL up front: the grand-total row is labeled
    // by rollup's NULL → '_ALL_' coalesce, so a NULL (or literal
    // '_ALL_') source event_type would collide with the total row and
    // fan the est⋈exact join out 2×2. The fixture has no NULLs today;
    // the filter keeps the query robust to fixture drift.
    val ev = t(s, dir, "events")
      .filter(col("event_type").isNotNull && col("event_type") =!= "_ALL_")
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    // ROLLUP serves the per-type cells and the grand total from ONE
    // union pass over the daily sketches — the sketch-lattice shape
    // (any cube cell is a union of finer sketches, never a re-scan)
    val est = daily.rollup(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .select(coalesce(col("event_type"), lit("_ALL_")).as("event_type"), col("est"))
    val exact = ev.rollup(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .select(coalesce(col("event_type"), lit("_ALL_")).as("e_type"), col("n_exact"))
    est.join(exact, col("event_type") === col("e_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact") * lit(0.05) + lit(16.0)).as("within_5pct"))
      .orderBy("event_type")
  }

  /** Intersectable distinct sketches (KMV/theta — functions/KmvSketch):
    * distinct users per event-type SEGMENT as bottom-k hash sketches,
    * then per segment-PAIR both the union and the INTERSECTION
    * cardinality estimated purely from the sketches — the set-algebra
    * query q193's HLL lattice cannot answer ("distinct users in A∩B").
    * The sketch build is one keyed aggregation whose partial-merge IS
    * the sketch union (bottom-k of a hash union — commutative,
    * idempotent); the pair stage joins n_types² sketch rows of ≤k longs
    * (tiny by construction, the q187 shape), and every estimator runs
    * in column space (array_intersect/filter/element_at) — no UDF, no
    * driver math. At 100 TB only the sketch build touches the events;
    * any segment algebra afterwards is milliseconds on sketch rows.
    *
    * Oracle strategy (q193's device): DuckDB can't replay sketch bits,
    * so each pair row carries the EXACT intersection/union counts plus
    * booleans pinning the estimates inside their published error
    * envelopes (RSE ≈ 1/√(k−2) ≈ 3.1% at k=1024 for estimate/union →
    * 10%·exact+16 envelope; intersection error grows with
    * √(|A∪B|/|A∩B|) → 12%·exact+32). The exact side exists only to
    * power the pin; production keeps sketches only. */
  def kmvIntersect(s: SparkSession, dir: String, k: Int = 1024): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch(k))
    def u(h: Column): Column = h.cast("double") / lit(1.8446744073709552e19) + lit(0.5)
    def thetaOf(sk: Column): Column =
      when(size(sk) < k, lit(1.0)).otherwise(u(element_at(sk, k)))
    val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
    val sk = ev.groupBy(col("event_type"))
      .agg(kmv(xxhash64(col("user_id"))).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    val pairs = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
        col("n_exact").as("n_a"))
      .join(broadcast(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
        col("n_exact").as("n_b"))), col("type_a") < col("type_b"))
    // exact intersection per pair — distinct (type,user) self-joined on
    // user; powers the envelope pin only (see scaladoc)
    val tu = ev.distinct()
    val exactI = tu.select(col("event_type").as("xa"), col("user_id").as("ua"))
      .join(tu.select(col("event_type").as("xb"), col("user_id").as("ub")),
        col("ua") === col("ub") && col("xa") < col("xb"))
      .groupBy(col("xa"), col("xb")).agg(count(lit(1)).as("n_exact_intersect"))
    val th = least(thetaOf(col("sk_a")), thetaOf(col("sk_b")))
    val commonBelow = size(filter(array_intersect(col("sk_a"), col("sk_b")),
      h => u(h) < th))
    val merged = slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, k)
    val estU = when(size(merged) < k, size(merged).cast("double"))
      .otherwise(lit((k - 1).toDouble) / u(element_at(merged, k)))
    pairs
      .join(exactI, col("type_a") === col("xa") && col("type_b") === col("xb"))
      .withColumn("est_i", commonBelow.cast("double") / th)
      .withColumn("est_u", estU)
      .withColumn("n_exact_union", col("n_a") + col("n_b") - col("n_exact_intersect"))
      .select(col("type_a"), col("type_b"),
        col("n_exact_intersect"), col("n_exact_union"),
        (abs(col("est_i") - col("n_exact_intersect")) <=
          col("n_exact_intersect") * lit(0.12) + lit(32.0)).as("intersect_ok"),
        (abs(col("est_u") - col("n_exact_union")) <=
          col("n_exact_union") * lit(0.10) + lit(16.0)).as("union_ok"))
      .orderBy("type_a", "type_b")
  }

  /** KMV A-NOT-B (q199's lattice completed: union = merge, intersect,
    * and now DIFFERENCE — "users who did X early but not late", the
    * churn/retention set algebra). Segments are (event_type, month
    * period early/mid/late), so differences are genuinely non-empty:
    * within each event type, the three ordered period pairs estimate
    * |A∖B| and |B∖A| purely from the two bottom-k sketches (below
    * θ = min(θ_a, θ_b) both sketches observe the hash space
    * completely, so absence from B's sketch below θ IS absence from
    * B — KmvSketch.differenceEstimate's soundness argument), pinned
    * against exact counts with the q193/q199 envelope device. Exact
    * |A∖B| derives as n_a − |A∩B| — no third join. Estimators stay in
    * column space; at 100 TB only the sketch build touches events. */
  def kmvDifference(s: SparkSession, dir: String, k: Int = 1024): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch(k))
    def u(h: Column): Column = h.cast("double") / lit(1.8446744073709552e19) + lit(0.5)
    def thetaOf(sk: Column): Column =
      when(size(sk) < k, lit(1.0)).otherwise(u(element_at(sk, k)))
    val seg = t(s, dir, "events").select(col("event_type"), col("user_id"),
      when(dayofmonth(col("ts")) <= 10, lit(0)).when(dayofmonth(col("ts")) <= 20, lit(1))
        .otherwise(lit(2)).as("p"))
    val sk = seg.groupBy(col("event_type"), col("p"))
      .agg(kmv(xxhash64(col("user_id"))).as("sk"),
        countDistinct(col("user_id")).as("n"))
    val pairs = sk.select(col("event_type"), col("p").as("p_a"),
        col("sk").as("sk_a"), col("n").as("n_a"))
      .join(broadcast(sk.select(col("event_type").as("et_b"), col("p").as("p_b"),
        col("sk").as("sk_b"), col("n").as("n_b"))),
        col("event_type") === col("et_b") && col("p_a") < col("p_b"))
    val tu = seg.distinct()
    val exactI = tu.select(col("event_type").as("xt"), col("p").as("xa"), col("user_id").as("ua"))
      .join(tu.select(col("event_type").as("yt"), col("p").as("xb"), col("user_id").as("ub")),
        col("ua") === col("ub") && col("xt") === col("yt") && col("xa") < col("xb"))
      .groupBy(col("xt"), col("xa"), col("xb")).agg(count(lit(1)).as("n_i"))
    val th = least(thetaOf(col("sk_a")), thetaOf(col("sk_b")))
    def diffEst(x: Column, y: Column): Column =
      size(filter(x, h => u(h) < th && !array_contains(y, h))).cast("double") / th
    pairs
      .join(exactI, col("event_type") === col("xt") &&
        col("p_a") === col("xa") && col("p_b") === col("xb"))
      .withColumn("n_exact_anotb", col("n_a") - col("n_i"))
      .withColumn("n_exact_bnota", col("n_b") - col("n_i"))
      // self-scaling envelope: a NEEDLE difference (|A∖B| ≪ |A∪B| —
      // exactly this fixture's shape, ~200 of 15k at sf1) is sampled
      // below θ as X ~ Binomial(D, θ), est = X/θ, so σ = √(D(1−θ)/θ)
      // ≤ √(D/θ). A fixed relative envelope is meaningless there (σ
      // can exceed D itself); 4σ from the sketch's OWN θ is the honest
      // bound, collapsing to 0 when the sketches are exact (θ = 1 →
      // est exact) and the oracle still just predicts `true`.
      .withColumn("env",
        lit(4.0) * sqrt((col("n_exact_anotb").cast("double") + 1.0) / th) + lit(8.0))
      .withColumn("env_b",
        lit(4.0) * sqrt((col("n_exact_bnota").cast("double") + 1.0) / th) + lit(8.0))
      .select(col("event_type"), col("p_a"), col("p_b"),
        col("n_exact_anotb"), col("n_exact_bnota"),
        (abs(diffEst(col("sk_a"), col("sk_b")) - col("n_exact_anotb")) <=
          col("env")).as("anotb_ok"),
        (abs(diffEst(col("sk_b"), col("sk_a")) - col("n_exact_bnota")) <=
          col("env_b")).as("bnota_ok"))
      .orderBy("event_type", "p_a", "p_b")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q202_kmv_difference", kmvDifference(_, _), Some(
      """WITH seg AS (
        |  SELECT DISTINCT event_type, user_id,
        |   CASE WHEN day(ts) <= 10 THEN 0 WHEN day(ts) <= 20 THEN 1 ELSE 2 END AS p
        |  FROM events),
        |per AS (SELECT event_type, p, count(*) AS n FROM seg GROUP BY event_type, p),
        |ints AS (
        |  SELECT a.event_type, a.p AS p_a, b.p AS p_b, count(*) AS n_i
        |  FROM seg a JOIN seg b
        |    ON a.user_id = b.user_id AND a.event_type = b.event_type AND a.p < b.p
        |  GROUP BY 1, 2, 3)
        |SELECT i.event_type, i.p_a, i.p_b,
        |       pa.n - i.n_i AS n_exact_anotb,
        |       pb.n - i.n_i AS n_exact_bnota,
        |       true AS anotb_ok, true AS bnota_ok
        |FROM ints i
        | JOIN per pa ON pa.event_type = i.event_type AND pa.p = i.p_a
        | JOIN per pb ON pb.event_type = i.event_type AND pb.p = i.p_b
        |ORDER BY i.event_type, p_a, p_b""".stripMargin)),
    QueryDef("q199_kmv_intersect", kmvIntersect(_, _), Some(
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |per AS (SELECT event_type, count(*) AS n FROM tu GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS n_exact_intersect
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_exact_intersect,
        |       pa.n + pb.n - p.n_exact_intersect AS n_exact_union,
        |       true AS intersect_ok, true AS union_ok
        |FROM pairs p
        | JOIN per pa ON pa.event_type = p.type_a
        | JOIN per pb ON pb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin)),
    QueryDef("q193_hll_distinct", hllDistinct, Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |       true AS within_5pct
        |FROM events WHERE event_type IS NOT NULL AND event_type <> '_ALL_'
        |GROUP BY event_type
        |UNION ALL
        |SELECT '_ALL_' AS event_type, count(DISTINCT user_id) AS n_exact,
        |       true AS within_5pct
        |FROM events WHERE event_type IS NOT NULL AND event_type <> '_ALL_'
        |ORDER BY event_type""".stripMargin)),
    QueryDef("q167_triangle_count", triangleCount, Some(
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT a.p AS pa, b.p AS pb FROM items a JOIN items b
        |   ON a.ok = b.ok AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
        |  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
        |SELECT p_partkey, count(*) AS n_triangles
        |FROM (SELECT a AS p_partkey FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |GROUP BY p_partkey
        |ORDER BY n_triangles DESC, p_partkey LIMIT 20""".stripMargin)),
    QueryDef("q168_equidepth_histogram", equidepthHistogram, Some(
      """SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
        | CAST(min(c) AS DOUBLE)/100.0 AS lo, CAST(max(c) AS DOUBLE)/100.0 AS hi
        |FROM (
        |  SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS c,
        |   ntile(10) OVER (ORDER BY CAST(round(l_extendedprice*100) AS BIGINT),
        |                   l_orderkey, l_linenumber) AS decile
        |  FROM lineitem)
        |GROUP BY decile ORDER BY decile""".stripMargin)),
    QueryDef("q169_melt_profile", columnProfile, Some(
      """SELECT col, count(*) AS n_rows,
        | count(*) - count(v) AS n_nulls,
        | count(DISTINCT v) AS n_distinct,
        | min(v) AS min_v, max(v) AS max_v
        |FROM (
        |  SELECT 'doc_id' AS col, CAST(doc_id AS STRING) AS v FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS STRING) FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'text_len', CAST(length(text) AS STRING) FROM documents)
        |GROUP BY col ORDER BY col""".stripMargin)),
    // portable spelling: arm parity comes from the LAST hex nibble
    // alone ((16a+b) % 2 = b % 2), read via position() instead of the
    // hex-string cast Spark lacks; the sums ride DECIMAL instead of
    // HUGEINT, sized so every product stays exactly representable —
    // c ≤ 1e10 cents fits (13,0)/(19,0), ss ≤ 1e25 fits (25,0), and
    // the cross products cap at 13+25 = 19+19 = 38 digits, the exact
    // upper bound BOTH engines multiply without rounding. All integer
    // algebra, so t_stat is bit-identical across engines
    QueryDef("q170_ab_welch_t", abWelchT, Some(
      """WITH o AS (
        |  SELECT (position(substr(md5(CAST(o_custkey AS STRING) || ':ab170'), 4, 1)
        |          IN '0123456789abcdef') - 1) % 2 AS arm,
        |   CAST(round(o_totalprice*100) AS BIGINT) AS c
        |  FROM orders),
        |m AS (
        |  SELECT arm, count(*) AS n,
        |   sum(CAST(c AS DECIMAL(19,0))) AS s,
        |   sum(CAST(c AS DECIMAL(13,0)) * CAST(c AS DECIMAL(25,0))) AS ss
        |  FROM o GROUP BY arm),
        |p AS (
        |  SELECT max(CASE WHEN arm = 0 THEN n END) AS n0,
        |   max(CASE WHEN arm = 0 THEN s END) AS s0,
        |   max(CASE WHEN arm = 0 THEN ss END) AS ss0,
        |   max(CASE WHEN arm = 1 THEN n END) AS n1,
        |   max(CASE WHEN arm = 1 THEN s END) AS s1,
        |   max(CASE WHEN arm = 1 THEN ss END) AS ss1
        |  FROM m)
        |SELECT n0, n1,
        | round(CAST(s0 AS DOUBLE)/CAST(n0 AS DOUBLE)/100.0, 6) AS mean_a,
        | round(CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)/100.0, 6) AS mean_b,
        | round((CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)/100.0
        |        - CAST(s0 AS DOUBLE)/CAST(n0 AS DOUBLE)/100.0)
        |   / sqrt(CAST(CAST(n1 AS DECIMAL(13,0))*CAST(ss1 AS DECIMAL(25,0)) - CAST(s1 AS DECIMAL(19,0))*CAST(s1 AS DECIMAL(19,0)) AS DOUBLE)/CAST(n1 AS DOUBLE)/(CAST(n1 AS DOUBLE)-1.0)/CAST(n1 AS DOUBLE)/10000.0
        |        + CAST(CAST(n0 AS DECIMAL(13,0))*CAST(ss0 AS DECIMAL(25,0)) - CAST(s0 AS DECIMAL(19,0))*CAST(s0 AS DECIMAL(19,0)) AS DOUBLE)/CAST(n0 AS DOUBLE)/(CAST(n0 AS DOUBLE)-1.0)/CAST(n0 AS DOUBLE)/10000.0), 6)
        |  AS t_stat
        |FROM p""".stripMargin)),
    QueryDef("q171_rrf_fusion", rrfFusion, Some(
      """WITH agg AS (
        |  SELECT l_partkey AS p_partkey,
        |   sum(CAST(l_quantity AS BIGINT)) AS units,
        |   sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT p_partkey,
        |   row_number() OVER (ORDER BY units DESC, p_partkey) AS r_units,
        |   row_number() OVER (ORDER BY rev_cents DESC, p_partkey) AS r_rev
        |  FROM agg)
        |SELECT p_partkey, r_units, r_rev,
        | round(1.0/(60.0 + r_units) + 1.0/(60.0 + r_rev), 6) AS rrf
        |FROM r ORDER BY rrf DESC, p_partkey LIMIT 25""".stripMargin)),
    // q173: the recursive CTE carries the same depth cap as the Spark
    // loop, so both engines bound the identical wave; UNION (distinct)
    // dedupes (id, dist) states and min(dist) is the first-visit depth
    QueryDef("q173_bfs_distances", bfsDistances(_, _), Some(
      """WITH RECURSIVE items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb FROM items a JOIN items b
        |   ON a.ok = b.ok AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa, pb FROM pairs UNION ALL SELECT pb, pa FROM pairs),
        |bfs(id, dist) AS (
        |  SELECT (SELECT min(pa) FROM e), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.pb, bfs.dist + 1 FROM bfs JOIN e ON e.pa = bfs.id
        |  WHERE bfs.dist < 12)
        |SELECT id, min(dist) AS dist FROM bfs
        |WHERE id IS NOT NULL
        |GROUP BY id ORDER BY id""".stripMargin)),
    QueryDef("q174_tpch_q19", tpchQ19, Some(
      """SELECT count(*) AS n_lines,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |           * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
        |   / 10000.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin)),
    QueryDef("q175_tpch_q15", tpchQ15, Some(
      """WITH rev AS (
        |  SELECT l_suppkey AS suppkey,
        |   sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS total_cp
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        | CAST(total_cp AS DOUBLE) / 10000.0 AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = suppkey
        |WHERE total_cp = (SELECT max(total_cp) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    QueryDef("q176_tpch_q18", tpchQ18, Some(
      """SELECT c_name, c_custkey, o_orderkey,
        | CAST(o_orderdate AS DATE) AS o_date,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 270)
        |GROUP BY c_name, c_custkey, o_orderkey, o_date
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin)),
    QueryDef("q177_tpch_q22", tpchQ22, Some(
      """WITH pool AS (
        |  SELECT c_custkey, c_nationkey,
        |   CAST(round(c_acctbal*100) AS BIGINT) AS bal_c
        |  FROM customer
        |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        |thr AS (
        |  SELECT sum(bal_c) AS s, count(*) AS n FROM pool WHERE bal_c > 0)
        |SELECT c_nationkey AS nation, count(*) AS numcust,
        | CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
        |FROM pool, thr
        |WHERE bal_c * n > s
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)))
}
