package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Declarative data-quality expectations — the audit gate a pipeline
  * runs before publishing a batch (dbt tests / Deequ checks / Delta
  * constraints all compute exactly these shapes). One row per
  * constraint: `(check_name, violations, checked)`, so the gate is a
  * single `violations == 0` filter over the audit result.
  *
  * Plan shapes, chosen for 100 TB:
  *  - Row-local predicates (range / domain) fold
  *    into ONE conditional aggregate per table — a single scan computes
  *    every such check plus the row count, melted to rows by `stack`
  *    (no per-check re-scan, no driver loop).
  *  - Key uniqueness is one keyed aggregate; `checked` rides along as
  *    `sum(cnt)` so the extra table scan a separate count would cost is
  *    never paid.
  *  - Referential integrity is one join per FK edge with a conditional
  *    count — broadcast when the parent is a dimension (customer),
  *    shuffle co-partitioned when parent and child are both facts
  *    (lineitem→orders) — NOT an anti-join-then-count plus a separate
  *    total-count scan, which would read the child twice.
  *
  * Two constraints are calibrated to FAIL on the fixture (balance
  * nonnegative, quantity ≤ 30) so the audit demonstrably counts, not
  * just confirms; the FK/domain/range checks hold and pin zero — and
  * the PK check surfaces REAL duplication in the synthetic fixture
  * ((l_orderkey, l_linenumber) is not unique there), which is exactly
  * the kind of fact an audit exists to report.
  *
  * Reference analog: the reference trusts its inputs entirely (no
  * validation pass anywhere in src/data_processor.py) — this is
  * capability-rounding a production pipeline cannot ship without.
  */
object QualityOps extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private def viol(c: Column): Column = sum(when(c, 1L).otherwise(0L))

  /** Core audit over the three relational tables; split from the
    * declared wrapper so specs can feed poisoned fixtures. */
  def audit(lineitem: DataFrame, orders: DataFrame, customer: DataFrame): DataFrame = {
    // one scan per table: every row-local check + the row count
    val liPass = lineitem.agg(
      count(lit(1)).as("checked"),
      viol(col("l_quantity") > 30).as("v_qty"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.10).as("v_disc"))
      .select(expr(
        """stack(2,
          | 'lineitem_qty_le_30', v_qty,
          | 'lineitem_discount_range', v_disc) AS (check_name, violations)
          |""".stripMargin), col("checked"))
    val ordPass = orders.agg(
      count(lit(1)).as("checked"),
      viol(!col("o_orderstatus").isin("F", "O", "P")).as("v_status"))
      .select(lit("orders_status_domain").as("check_name"),
        col("v_status").as("violations"), col("checked"))
    val custPass = customer.agg(
      count(lit(1)).as("checked"),
      viol(col("c_acctbal") < 0).as("v_bal"))
      .select(lit("customer_acctbal_nonnegative").as("check_name"),
        col("v_bal").as("violations"), col("checked"))
    // uniqueness: one keyed aggregate; checked = sum of group sizes
    val liPk = lineitem.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(when(col("cnt") > 1, col("cnt") - 1L)), lit(0L)).as("violations"),
        sum(col("cnt")).as("checked"))
      .select(lit("lineitem_pk_unique").as("check_name"),
        col("violations"), col("checked"))
    // referential integrity: one join per edge, violations and checked
    // from the SAME pass (left join + null-parent count). The parent
    // side is DEDUPLICATED first: a duplicated parent key would
    // multiply child rows through the join and inflate `checked` past
    // the oracle's plain child count — and this fixture really does
    // carry duplicate "unique" keys (the lineitem PK), so the distinct
    // is correctness, not hygiene. It is also the cheaper plan: the
    // join builds against unique keys, semi-join shaped.
    def fk(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame =
      child.select(col(childKey))
        .join(parent.select(col(parentKey).as("__pk")).distinct()
            .withColumn("__present", lit(1)),
          col(childKey) === col("__pk"), "left")
        .agg(count(lit(1)).as("checked"),
          viol(col("__present").isNull).as("violations"))
        .select(lit(name).as("check_name"), col("violations"), col("checked"))
    val ordFk = fk("orders_custkey_fk_customer",
      orders, "o_custkey", customer, "c_custkey")
    val liFk = fk("lineitem_orderkey_fk_orders",
      lineitem, "l_orderkey", orders, "o_orderkey")
    liPass.unionByName(ordPass).unionByName(custPass)
      .unionByName(liPk).unionByName(ordFk).unionByName(liFk)
      .orderBy("check_name")
  }

  /** q211: the audit over the fixture tables. */
  def expectations(s: SparkSession, dir: String): DataFrame =
    audit(t(s, dir, "lineitem"), t(s, dir, "orders"), t(s, dir, "customer"))

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q211_expectations", expectations, Some(
      """SELECT * FROM (
        | SELECT 'lineitem_qty_le_30' AS check_name,
        |  CAST((SELECT coalesce(sum(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END), 0)
        |        FROM lineitem) AS BIGINT) AS violations,
        |  (SELECT count(*) FROM lineitem) AS checked
        | UNION ALL
        | SELECT 'lineitem_discount_range',
        |  CAST((SELECT coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 0.10 THEN 1 ELSE 0 END), 0)
        |        FROM lineitem) AS BIGINT),
        |  (SELECT count(*) FROM lineitem)
        | UNION ALL
        | SELECT 'orders_status_domain',
        |  CAST((SELECT coalesce(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END), 0)
        |        FROM orders) AS BIGINT),
        |  (SELECT count(*) FROM orders)
        | UNION ALL
        | SELECT 'customer_acctbal_nonnegative',
        |  CAST((SELECT coalesce(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END), 0)
        |        FROM customer) AS BIGINT),
        |  (SELECT count(*) FROM customer)
        | UNION ALL
        | SELECT 'lineitem_pk_unique',
        |  CAST((SELECT coalesce(sum(cnt - 1), 0) FROM (
        |         SELECT count(*) AS cnt FROM lineitem
        |         GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)) AS BIGINT),
        |  (SELECT count(*) FROM lineitem)
        | UNION ALL
        | SELECT 'orders_custkey_fk_customer',
        |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS (
        |         SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |  (SELECT count(*) FROM orders)
        | UNION ALL
        | SELECT 'lineitem_orderkey_fk_orders',
        |  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
        |         SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
        |  (SELECT count(*) FROM lineitem)
        |) ORDER BY check_name""".stripMargin)))
}
