package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Round-6 closure of the last TPC-H idiom family: the five canonical
  * queries that need a PARTSUPP table (Q2, Q9, Q11, Q16, Q20), which the
  * driver fixtures don't ship. Reference analog: none (the reference
  * runs no TPC-H); this closes the full 22/22 idiom claim for the
  * engine's own surface.
  *
  * The partsupp relation is SYNTHESIZED deterministically from the
  * tables that do exist — pure integer arithmetic on (partkey, suppkey),
  * so the DuckDB oracle replays the exact same rows from the same
  * parquet inputs with a shared CTE prefix (precedent: q65's staged
  * layout, q72's Derby load, q101's generated source stage their own
  * data inside a declared query). Two key sources, UNION-deduped:
  *   - coverage arm: for every part, the 4 suppliers
  *     (p_partkey + i) mod n_supp, i ∈ 0..3 — dbgen's "4 suppliers per
  *     part" scatter, simplified to a stride-1 ring which is
  *     collision-free for ANY supplier count ≥ 4 (dbgen's stride
  *     S/4 + (p-1)/S can hit stride ≡ 0 mod S on non-canonical S);
  *   - integrity arm: the DISTINCT (l_partkey, l_suppkey) pairs that
  *     actually occur in lineitem, because the fixture's lineitem was
  *     generated independently of any partsupp — without this arm the
  *     Q9/Q20 joins on the composite key would hit only the ~4/n_supp
  *     of lines that land on the ring by chance.
  * Attributes are key arithmetic: ps_availqty ∈ 1..1000 and an exact
  * cent cost ps_costc ∈ 100..99999 (ps_supplycost = ps_costc/100.0 —
  * queries compare/aggregate the cents and close with one IEEE
  * division, the repo-wide exactness contract).
  *
  * Scale design: partsupp is a DERIVED DIMENSION — at 100 TB it is
  * built once (one part scan + one lineitem distinct = one shuffle) and
  * persisted/bucketed by ps_partkey, not rebuilt per query; here it is
  * rebuilt inline because the fixture build cost is milliseconds and
  * inlining keeps every declared query self-contained. n_supp reaches
  * the generator as a broadcast 1-row aggregate, never a collect.
  *
  * Fixture adaptations, declared once: region EUROPE replaces Q2/Q11/
  * Q20's named-nation parameters (single fixture nations hold only ~4
  * suppliers); p_type = 'STANDARD' replaces Q2's '%BRASS' suffix and
  * Q16's 'MEDIUM POLISHED%' prefix (fixture types are single words);
  * '%red%'/'red%' replace Q9's '%green%' and Q20's 'forest%' (fixture
  * adjective vocabulary); Q16's supplier-complaint comment filter
  * becomes s_acctbal < 0 (no s_comment column); Q11's share threshold
  * is "above 2× the average per-part value" via exact integer
  * cross-multiplication (canonical 0.0001/SF needs an SF the query
  * can't know; the 2×-average form keeps the HAVING-over-scalar-
  * subquery shape AND stays non-degenerate at every fixture scale).
  */
object Tpch3Queries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** The synthesized partsupp relation — see object scaladoc. Columns:
    * ps_partkey, ps_suppkey, ps_availqty (long 1..1000), ps_costc
    * (exact cents, long), ps_supplycost (ps_costc/100.0, double). */
  def partsupp(s: SparkSession, dir: String): DataFrame = {
    // the 1-row supplier count reaches every part row as a broadcast
    // nested-loop join — the correct plan for a scalar: the build side
    // is exactly one row, so the "nested loop" is a constant probe (a
    // literal join key would only be constant-folded back to this)
    val nSupp = t(s, dir, "supplier").agg(count(lit(1)).as("n_supp"))
    val ring = t(s, dir, "part").select(col("p_partkey"))
      .crossJoin(broadcast(nSupp))
      .select(col("p_partkey").as("ps_partkey"),
        explode(sequence(lit(0L), lit(3L))).as("i"), col("n_supp"))
      .select(col("ps_partkey"),
        ((col("ps_partkey") + col("i")) % col("n_supp")).as("ps_suppkey"))
    val observed = t(s, dir, "lineitem")
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
    // union + distinct: ONE shuffle dedupes both arms and is the only
    // exchange the build needs; everything downstream of it is key
    // arithmetic in the scan's codegen stage
    ring.union(observed).distinct()
      .select(col("ps_partkey"), col("ps_suppkey"),
        ((col("ps_partkey") * 37 + col("ps_suppkey") * 17) % 1000 + 1).as("ps_availqty"),
        ((col("ps_partkey") * 31 + col("ps_suppkey") * 7) % 99900 + 100).as("ps_costc"))
      .withColumn("ps_supplycost", col("ps_costc").cast("double") / 100.0)
  }

  /** European suppliers with their nation label — the shared Q2/Q11/Q20
    * dimension arm: supplier ⋈ nation ⋈ region collapses to one
    * broadcastable dim (suppliers are always dimension-scale). */
  private def euroSuppliers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")

  /** TPC-H Q2 (minimum-cost supplier): for STANDARD parts up to size
    * 25, the European supplier(s) charging that part's MINIMUM European
    * supply cost. The canonical correlated min-cost subquery ("cost =
    * (SELECT min(cost) ... WHERE same part, EUROPE)") is declared
    * DECORRELATED: one ps_partkey window over the Europe-filtered
    * partsupp supplies the per-part minimum to every row, then an
    * exact-cents equality keeps the argmin rows — no per-row
    * re-aggregation, no self-join, and the window rides the partkey
    * partitioning partsupp would already be bucketed by at scale. The
    * part filter broadcasts; ties (two suppliers at the same minimum
    * cent cost) keep BOTH rows, exactly as the canonical query. */
  def tpchQ2(s: SparkSession, dir: String): DataFrame = {
    val psEu = partsupp(s, dir)
      .join(broadcast(euroSuppliers(s, dir)), col("ps_suppkey") === col("s_suppkey"))
    val qualifying = broadcast(t(s, dir, "part")
      .filter(col("p_type") === "STANDARD" && col("p_size") <= 25)
      .select("p_partkey", "p_name"))
    psEu
      .withColumn("min_c", min(col("ps_costc")).over(Window.partitionBy("ps_partkey")))
      .filter(col("ps_costc") === col("min_c"))
      .join(qualifying, col("ps_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q9 (product-type profit): profit on red parts by supplier
    * nation and order year, where profit = revenue minus supply cost
    * paid (extprice·(1−disc) − supplycost·qty). All-integer
    * cent·percent units: price_c·(100−disc_c) − cost_c·qty·100, one
    * IEEE division at the end. The red-part dim broadcasts and
    * semi-reduces BOTH fact-side inputs (lineitem at its scan, partsupp
    * before its join); lineitem ⋈ partsupp runs on the composite
    * (partkey, suppkey) key — at 100 TB both sides hash-partition on it
    * (or co-bucket, since partsupp is a build-once dimension), at
    * fixture scale AQE broadcasts the reduced partsupp. One genuine
    * fact-fact shuffle (⋈ orders); supplier/nation broadcast. */
  def tpchQ9(s: SparkSession, dir: String): DataFrame = {
    val red = broadcast(t(s, dir, "part")
      .filter(col("p_name").like("%red%")).select("p_partkey"))
    val profitE4 =
      Exact.cents(col("l_extendedprice")) * (lit(100L) - Exact.cents(col("l_discount"))) -
        col("ps_costc") * col("l_quantity").cast("long") * lit(100L)
    t(s, dir, "lineitem")
      .join(red, col("l_partkey") === col("p_partkey"))
      .join(partsupp(s, dir).select("ps_partkey", "ps_suppkey", "ps_costc"),
        col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
      .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(profitE4) / lit(10000.0)).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 (important stock identification): per-part European
    * stock value (Σ cost·availqty over that part's EU suppliers), kept
    * where the part's value exceeds a threshold derived from the WHOLE
    * pool — the canonical grouped-HAVING-over-scalar-subquery shape.
    * The scalar side (total + part count) is a 1-row broadcast over the
    * SAME grouped frame (computed once, reused, not a second scan of
    * partsupp), and the threshold comparison is exact integer
    * cross-multiplication: v_c · n_parts > 2 · Σv_c ("above 2× the
    * average per-part value" — see object scaladoc for why not
    * 0.0001/SF). Cents stay integral until the one output division. */
  def tpchQ11(s: SparkSession, dir: String): DataFrame = {
    val valByPart = partsupp(s, dir)
      .join(broadcast(euroSuppliers(s, dir).select("s_suppkey")),
        col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_costc") * col("ps_availqty")).as("v_c"))
    val total = valByPart.agg(sum(col("v_c")).as("t_c"), count(lit(1)).as("n_parts"))
    // cross-multiply in DECIMAL(38,0), not BIGINT: v_c (cents·qty per
    // part, up to ~1e9 at TPC-H column bounds) times a 100 TB-scale
    // part count (~1e10) tops 1e19 > Long.MaxValue, where BIGINT
    // arithmetic wraps (non-ANSI) or aborts (ANSI) while the DuckDB
    // oracle would error — decimal holds the product exactly to 1e38,
    // far past any reachable scale (both factors are < 1e19 by column
    // bounds). The oracle SQL applies the identical casts; DuckDB
    // widens DECIMAL(38,0) internally to hugeint, so the two engines
    // compare the same exact integers.
    valByPart.crossJoin(broadcast(total))
      .filter(col("v_c").cast("decimal(38,0)") * col("n_parts") >
        lit(2L) * col("t_c").cast("decimal(38,0)"))
      .select(col("ps_partkey"), (col("v_c").cast("double") / 100.0).as("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  /** TPC-H Q16 (parts/supplier relationship): how many distinct
    * suppliers can source each surviving (brand, type, size) bucket,
    * excluding one brand, one type, off-list sizes, and "complained
    * about" suppliers (fixture: negative account balance; no s_comment
    * exists). The canonical NOT IN (subquery) is declared as a LEFT
    * ANTI join against the broadcast bad-supplier set — safe here
    * because s_suppkey is non-null (NOT IN's null-poisoning semantics
    * and the anti join coincide), and the anti join is the shape that
    * scales. countDistinct carries its one extra shuffle by design —
    * the same supplier reaches a bucket through many parts. */
  def tpchQ16(s: SparkSession, dir: String): DataFrame = {
    val badSupp = broadcast(t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey"))
    val buckets = broadcast(t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size"))
    partsupp(s, dir).select("ps_partkey", "ps_suppkey")
      .join(buckets, col("ps_partkey") === col("p_partkey"))
      .join(badSupp, col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 (potential part promotion): European suppliers holding
    * EXCESS stock of red parts — available quantity above half of what
    * that (part, supplier) pair actually shipped in 1996. Canonically a
    * three-deep nested-IN pyramid (supplier IN partsupp IN part, with a
    * correlated per-pair scalar sum); declared FLATTENED, outermost-in:
    * the 1996 red shipments collapse to one (partkey, suppkey) rollup,
    * an INNER join ties it to partsupp (reproducing the canonical
    * NULL-scalar semantics — a pair that shipped nothing in 1996
    * compares availqty > NULL and drops), the half-quantity cut is the
    * exact cross-multiplication 2·availqty > Σqty, and the surviving
    * supplier keys reach the supplier dim as a LEFT SEMI probe. Every
    * dimension arm broadcasts; the only shuffles are the shipment
    * rollup and the semi join's distinct build. */
  def tpchQ20(s: SparkSession, dir: String): DataFrame = {
    val red = broadcast(t(s, dir, "part")
      .filter(col("p_name").like("red%")).select("p_partkey"))
    val shipped96 = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(red, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty96"))
    val overstocked = partsupp(s, dir)
      .join(broadcast(red.select(col("p_partkey").as("rp_partkey"))),
        col("ps_partkey") === col("rp_partkey"))
      .join(shipped96,
        col("ps_partkey") === col("l_partkey") && col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2 > col("qty96"))
      .select(col("ps_suppkey"))
    euroSuppliers(s, dir)
      .join(overstocked, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select("s_name", "n_name")
      .orderBy("s_name")
  }

  /** Shared oracle prefix: the partsupp generator as a CTE — identical
    * arithmetic to [[partsupp]], replayed by DuckDB from the same
    * parquet inputs (and by Spark's own parser in SqlParitySpec). */
  private val psSql =
    """WITH ns AS (SELECT count(*) AS n_supp FROM supplier),
      |pskeys AS (
      |  SELECT p_partkey AS ps_partkey, (p_partkey + i.i) % n_supp AS ps_suppkey
      |  FROM part, ns, (VALUES (0), (1), (2), (3)) i(i)
      |  UNION
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |partsupp AS (
      |  SELECT ps_partkey, ps_suppkey,
      |         CAST((ps_partkey*37 + ps_suppkey*17) % 1000 + 1 AS BIGINT) AS ps_availqty,
      |         CAST((ps_partkey*31 + ps_suppkey*7) % 99900 + 100 AS BIGINT) AS ps_costc
      |  FROM pskeys)
      |""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q194_tpch_q2", tpchQ2, Some(
      (psSql +
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       CAST(ps_costc AS DOUBLE)/100.0 AS ps_supplycost
        |FROM partsupp
        | JOIN part ON p_partkey = ps_partkey
        | JOIN supplier ON s_suppkey = ps_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size <= 25
        |  AND ps_costc = (SELECT min(ps2.ps_costc) FROM partsupp ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin))),
    QueryDef("q195_tpch_q9", tpchQ9, Some(
      (psSql +
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT))
        |     - ps_costc * CAST(l_quantity AS BIGINT) * 100)/10000.0 AS sum_profit
        |FROM lineitem
        | JOIN part ON p_partkey = l_partkey
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        | JOIN orders ON o_orderkey = l_orderkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin))),
    QueryDef("q196_tpch_q11", tpchQ11, Some(
      (psSql.stripSuffix("\n") +
      """,
        |val AS (
        |  SELECT ps_partkey, sum(ps_costc * ps_availqty) AS v_c
        |  FROM partsupp
        |   JOIN supplier ON s_suppkey = ps_suppkey
        |   JOIN nation ON s_nationkey = n_nationkey
        |   JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |  GROUP BY ps_partkey),
        |tot AS (SELECT sum(v_c) AS t_c, count(*) AS n_parts FROM val)
        |SELECT ps_partkey, CAST(v_c AS DOUBLE)/100.0 AS value
        |FROM val, tot
        |WHERE CAST(v_c AS DECIMAL(38,0)) * n_parts > 2 * CAST(t_c AS DECIMAL(38,0))
        |ORDER BY value DESC, ps_partkey""".stripMargin))),
    QueryDef("q197_tpch_q16", tpchQ16, Some(
      (psSql +
      """SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin))),
    QueryDef("q198_tpch_q20", tpchQ20, Some(
      (psSql +
      """SELECT s_name, n_name
        |FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp
        |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty * 2 > (
        |        SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= TIMESTAMP '1996-01-01'
        |          AND l_shipdate < TIMESTAMP '1997-01-01'))
        |ORDER BY s_name""".stripMargin))))
}
