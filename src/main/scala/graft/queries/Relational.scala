package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.sources.Tables

/** Pack A — warehouse-grade relational query core (SURVEY.md §2.A).
  *
  * The reference activates pipeline output into warehouses/BI tools
  * (kassette-server `destinations/warehouseutils.go`: RS/BQ/Snowflake/
  * Clickhouse/…; `integrations/powerbi`), so the Spark engine must own
  * warehouse-grade SQL. TPC-H-shaped over the driver's testdata.
  *
  * Numeric policy (correctness-gate exactness): monetary doubles are
  * cast to DECIMAL before SUM so aggregation is exact integer-scaled
  * arithmetic in both Spark and the DuckDB oracle, then the final
  * value is cast back to DOUBLE — bit-identical on both sides,
  * independent of partial-aggregation order. Ratios divide the exact
  * decimal sums as doubles and round(4). Every query ends in a total
  * ORDER BY so row order is deterministic.
  *
  * Scale notes: dims (region/nation/supplier/part/customer) are
  * explicit `broadcast()`s — at 100 TB lineitem/orders/events are the
  * only shuffle-bearing tables; every groupBy below is partial-agg
  * friendly (no distinct-on-fact except q20, documented there).
  */
object Relational {

  private def money(c: Column): Column = c.cast(DecimalType(12, 2))
  private def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  private def dbl(c: Column): Column = c.cast(DoubleType)
  /** exact decimal SUM surfaced as double */
  private def dsum(c: Column): Column = dbl(sum(money(c)))
  /** average from exact decimal sum — deterministic double division */
  private def davg(c: Column): Column = round(dbl(sum(money(c))) / count(lit(1)), 4)

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q1
  private val q1: Q = (s, d) => {
    // The discount/tax factors are re-narrowed to DECIMAL(4,2) (their
    // values fit exactly: 0.90-1.10) so the triple product stays
    // (12,2)×(4,2)×(4,2) → DECIMAL(22,6) — EXACT. Without the casts
    // Spark widens (1 - disc) to (13,2) and the triple product wants
    // precision 40 > 38, so Spark rounds per row (allowPrecisionLoss)
    // while the decimal-exact oracle doesn't; the drift is invisible
    // below a double ulp at sf≤0.1 but crossed an ulp at the 10×
    // gate. Order-free exact sums are the point: a 1000-executor
    // accumulation must hash-equal the oracle at ANY scale.
    val discF = (lit(1) - rate(col("l_discount"))).cast(DecimalType(4, 2))
    val taxF = (lit(1) + rate(col("l_tax"))).cast(DecimalType(4, 2))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dbl(sum(money(col("l_extendedprice")) * discF)).as("sum_disc_price"),
        dbl(sum(money(col("l_extendedprice")) * discF * taxF)).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        round(dbl(sum(rate(col("l_discount")))) / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // The disc-price/charge sums cast DECIMAL→DOUBLE through VARCHAR:
  // DuckDB 1.0 converts a decimal whose scaled integer exceeds 2^53
  // via int128→double DIVISION (two roundings — observed 1-ulp drift
  // at the 10× gate on sum_charge, scale 6, sum ≈ 2.8e10 → scaled
  // 2.8e16), while the decimal→string→double path rounds once, like
  // Spark's BigDecimal.toDouble. Identical below 2^53, exact above.
  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      | ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
      | ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
      | ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q2
  private val q2: Q = (s, d) =>
    Tables.part(s, d)
      .filter(col("p_size") >= 25 && col("p_type") =!= "PROMO")
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")

  private val q2Sql =
    """SELECT p_partkey, p_name, p_retailprice FROM part
      |WHERE p_size >= 25 AND p_type <> 'PROMO' ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q3
  private val q3: Q = (s, d) => {
    val cust = broadcast(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"))
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val li = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(dbl(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val q3Sql =
    """SELECT l_orderkey, o_orderdate,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q4
  // EXISTS semi-join: orders with at least one lineitem shipped after
  // the order date (reference Q4 shape; testdata lacks commit/receipt
  // dates). left_semi keeps it a true semi-join (no fact blow-up).
  private val q4: Q = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li, col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  private val q4Sql =
    """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q5
  private val q5: Q = (s, d) => {
    val region = broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA"))
    val nation = broadcast(Tables.nation(s, d))
    val supp = broadcast(Tables.supplier(s, d))
    val cust = broadcast(Tables.customer(s, d))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val li = Tables.lineitem(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dbl(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q5Sql =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      | JOIN nation ON s_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q6
  private val q6: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .filter(col("l_discount") >= lit(0.02).cast(DoubleType) && col("l_discount") <= lit(0.06).cast(DoubleType))
      .filter(col("l_quantity") < 24)
      .agg(
        dbl(sum(money(col("l_extendedprice")) * rate(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n"))

  private val q6Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= CAST(0.02 AS DOUBLE) AND l_discount <= CAST(0.06 AS DOUBLE)
      |  AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- q7
  private val q7: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("s_nationkey").orderBy(col("s_acctbal").desc, col("s_suppkey"))
    Tables.supplier(s, d)
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("s_nationkey", "rnk", "s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_nationkey", "rnk", "s_suppkey")
  }

  private val q7Sql =
    """SELECT s_nationkey, rnk, s_suppkey, s_name, s_acctbal FROM (
      | SELECT *, RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rnk
      | FROM supplier) t
      |WHERE rnk <= 3 ORDER BY s_nationkey, rnk, s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q9
  private val q9: Q = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey")
    Tables.customer(s, d)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  private val q9Sql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------- q10
  private val q10: Q = (s, d) => {
    val cust = broadcast(Tables.customer(s, d))
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal")
      .agg(dbl(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val q10Sql =
    """SELECT c_custkey, c_name, c_acctbal,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q12
  private val q12: Q = (s, d) => {
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  private val q12Sql =
    """SELECT l_linestatus,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // --------------------------------------------------------------- q13
  private val q13: Q = (s, d) => {
    val ord = Tables.orders(s, d).filter(col("o_orderpriority") =!= "5-LOW")
      .select("o_orderkey", "o_custkey")
    val perCust = Tables.customer(s, d)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q13Sql =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      | SELECT c_custkey, COUNT(o_orderkey) AS c_count
      | FROM customer LEFT OUTER JOIN orders
      |   ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      | GROUP BY c_custkey) t
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --------------------------------------------------------------- q14
  private val q14: Q = (s, d) => {
    val cust = Tables.customer(s, d).filter(col("c_acctbal") > 9500)
      .select(lit("customer").as("entity"), col("c_custkey").as("entity_id"), dbl(col("c_acctbal")).as("balance"))
    val supp = Tables.supplier(s, d).filter(col("s_acctbal") > 1000)
      .select(lit("supplier").as("entity"), col("s_suppkey").as("entity_id"), dbl(col("s_acctbal")).as("balance"))
    cust.unionAll(supp).orderBy("entity", "entity_id")
  }

  private val q14Sql =
    """SELECT * FROM (
      | SELECT 'customer' AS entity, c_custkey AS entity_id, CAST(c_acctbal AS DOUBLE) AS balance
      | FROM customer WHERE c_acctbal > 9500
      | UNION ALL
      | SELECT 'supplier' AS entity, s_suppkey AS entity_id, CAST(s_acctbal AS DOUBLE) AS balance
      | FROM supplier WHERE s_acctbal > 1000) t
      |ORDER BY entity, entity_id""".stripMargin

  // --------------------------------------------------------------- q15
  private val q15: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(dbl(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("mr"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("supplier_no"))
      .join(broadcast(maxRev), col("total_revenue") === col("mr"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  private val q15Sql =
    """WITH revenue AS (
      | SELECT l_suppkey AS supplier_no,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
      | FROM lineitem
      | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |   AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      | GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------------------- q16
  // ROLLUP with coalesced keys: sidesteps NULL-ordering divergence
  // between engines and keeps the hash stable.
  private val q16: Q = (s, d) =>
    Tables.part(s, d)
      .rollup("p_type", "p_brand")
      .agg(count(lit(1)).as("n_parts"), dsum(col("p_retailprice")).as("sum_retail"))
      .select(
        coalesce(col("p_type"), lit("_all_")).as("p_type"),
        coalesce(col("p_brand"), lit("_all_")).as("p_brand"),
        col("n_parts"), col("sum_retail"))
      .orderBy("p_type", "p_brand")

  private val q16Sql =
    """SELECT COALESCE(p_type, '_all_') AS p_type, COALESCE(p_brand, '_all_') AS p_brand,
      | COUNT(*) AS n_parts,
      | CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_retail
      |FROM part GROUP BY ROLLUP(p_type, p_brand)
      |ORDER BY COALESCE(p_type, '_all_'), COALESCE(p_brand, '_all_')""".stripMargin

  // --------------------------------------------------------------- q17
  private val q17: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val part = broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#11").select("p_partkey"))
    // Restrict the avg subquery to the brand's partkeys BEFORE
    // aggregating: partkey determines brand, so the per-part average
    // over the brand-filtered semi-join equals the full-table one for
    // every surviving part — and the fact aggregation shrinks to the
    // brand sliver (at 100 TB: aggregate ~1/25th of lineitem, not all
    // of it). The correlated-subquery SEMANTICS (oracle) are
    // unchanged; only the plan is.
    val branded = li.join(part, col("l_partkey") === col("p_partkey"))
    val avgQty = branded.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((dbl(sum(money(col("l_quantity")))) / count(lit(1))).as("avg_qty"))
    branded.join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(
        round(dsum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n"))
  }

  private val q17Sql =
    """SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly,
      | COUNT(*) AS n
      |FROM lineitem l
      | JOIN part p ON p.p_partkey = l.l_partkey
      | JOIN (SELECT l_partkey AS ap_partkey,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |       FROM lineitem GROUP BY l_partkey) a ON a.ap_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#11' AND l.l_quantity < 0.5 * a.avg_qty""".stripMargin

  // --------------------------------------------------------------- q18
  private val q18: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val bigOrders = li.groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    val cust = broadcast(Tables.customer(s, d).select("c_custkey", "c_name"))
    Tables.orders(s, d)
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  private val q18Sql =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
      |FROM orders
      | JOIN (SELECT l_orderkey,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |       FROM lineitem GROUP BY l_orderkey
      |       HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 150) b
      |   ON o_orderkey = b.l_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q19
  private val q19: Q = (s, d) => {
    val part = broadcast(Tables.part(s, d))
    Tables.lineitem(s, d)
      .join(part, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#11" && col("l_quantity").between(1, 11) && col("p_size").between(1, 15)) ||
        (col("p_brand") === "Brand#21" && col("l_quantity").between(10, 20) && col("p_size").between(1, 25)) ||
        (col("p_brand") === "Brand#25" && col("l_quantity").between(20, 30) && col("p_size").between(1, 35)))
      .agg(
        dbl(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n"))
  }

  private val q19Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#21' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 25)
      |   OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 35)""".stripMargin

  // --------------------------------------------------------------- q20
  // count(DISTINCT) on the fact table: Spark plans this as a two-phase
  // expand+agg (partial per-partition distinct) — fine at scale.
  private val q20: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .groupBy("l_suppkey")
      .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n_lines"))
      .orderBy("l_suppkey")

  private val q20Sql =
    """SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // --------------------------------------------------------------- q21
  // GROUPING SETS ((status, priority), (status), ()) — expressed
  // Spark-first as a union of partial-agg-friendly groupBys (identical
  // semantics, no Expand blow-up of the fact rows).
  private val q21: Q = (s, d) => {
    val ord = Tables.orders(s, d)
    val fine = ord.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
    val byStatus = ord.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("o_orderpriority", lit("_all_"))
      .select("o_orderstatus", "o_orderpriority", "n_orders", "sum_price")
    val total = ord.agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .withColumn("o_orderstatus", lit("_all_"))
      .withColumn("o_orderpriority", lit("_all_"))
      .select("o_orderstatus", "o_orderpriority", "n_orders", "sum_price")
    fine.unionAll(byStatus).unionAll(total).orderBy("o_orderstatus", "o_orderpriority")
  }

  private val q21Sql =
    """SELECT COALESCE(o_orderstatus, '_all_') AS o_orderstatus,
      | COALESCE(o_orderpriority, '_all_') AS o_orderpriority,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY COALESCE(o_orderstatus, '_all_'), COALESCE(o_orderpriority, '_all_')""".stripMargin

  // --------------------------------------------------------------- q22
  private val q22: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("_all_")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("_all_")).as("l_linestatus"),
        col("n_lines"), col("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q22Sql =
    """SELECT COALESCE(l_returnflag, '_all_') AS l_returnflag,
      | COALESCE(l_linestatus, '_all_') AS l_linestatus,
      | COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY COALESCE(l_returnflag, '_all_'), COALESCE(l_linestatus, '_all_')""".stripMargin

  // --------------------------------------------------------------- q23
  // lead/lag analytics: days since the customer's previous order.
  private val q23: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_date").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val q23Sql =
    """SELECT o_custkey, o_orderkey,
      | date_diff('day', CAST(prev_date AS DATE), CAST(o_orderdate AS DATE)) AS gap_days
      |FROM (
      | SELECT o_custkey, o_orderkey, o_orderdate,
      |  LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date
      | FROM orders) t
      |WHERE prev_date IS NOT NULL
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------- q24
  private val q24: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)").cast(DoubleType), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)").cast(DoubleType), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)").cast(DoubleType), 4).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  private val q24Sql =
    """SELECT o_orderstatus,
      | ROUND(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS p50,
      | ROUND(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4) AS p90,
      | ROUND(CAST(quantile_cont(o_totalprice, 0.99) AS DOUBLE), 4) AS p99,
      | COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- q25
  // Distributed NTILE: a partition-less `Window.orderBy` sorts the whole
  // table in ONE task — a scale-killer at 100 TB. Two-phase instead:
  //  1. ONE cheap partial agg collects P-1 approx-percentile boundary
  //    VALUES to the driver (P = the table's [[Widths.of]] width; P-1
  //    doubles — same driver-held-scalars pattern as the k-means
  //    centroids; none at width 1). Bucketing against those literals
  //    is purely map-side and — unlike repartitionByRange, whose
  //    sampled ranges can differ between executions — gives the
  //    IDENTICAL assignment in every job that uses it.
  //  2. row_number INSIDE each bucket (window keyed by bucket — fully
  //    parallel); per-bucket counts (one tiny agg) become cumulative
  //    offsets, so global rank = offset + local row number. Buckets are
  //    value-ordered, so the rank is exact even when boundary values
  //    repeat, and the NTILE(10) bucket arithmetic is a literal branch
  //    chain — no division, exact at any rank. Null balances sort last
  //    (DESC NULLS LAST) in a bucket of their own: that keeps the rank
  //    exact and the bucket non-constant, so with no bounds the window
  //    still partitions by it (a constant would fold out of the spec).
  private val q25: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val basedf = Tables.customer(s, d).select(col("c_acctbal"), col("c_custkey"))
    val p = graft.operators.Widths.of(basedf)
    val fracs = (1 until p).map(_.toDouble / p)
    val bounds = if (fracs.isEmpty) Seq.empty[Double] else basedf
      .agg(percentile_approx(col("c_acctbal"), typedLit(fracs), lit(1000)).as("b"))
      .collect()(0).getSeq[Double](0).sorted.reverse
    val lastBucket = when(col("c_acctbal").isNull, lit(bounds.size + 1))
      .otherwise(lit(bounds.size))
    val bucket = bounds.zipWithIndex.foldRight(lastBucket) {
      case ((b, k), rest) => when(col("c_acctbal") > lit(b), k).otherwise(rest)
    }
    val ranked = basedf
      .withColumn("bkt", bucket)
      .withColumn("lrn", row_number().over(
        Window.partitionBy("bkt").orderBy(col("c_acctbal").desc, col("c_custkey"))))
    val counts = ranked.groupBy("bkt").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offsets = counts.map(_._1).zip(
      counts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val (base, rem) = (total / 10, total % 10)
    val r = element_at(typedLit(offsets), col("bkt")) + col("lrn")
    val cum = (1 to 10).map(j => j * base + math.min(j, rem))
    val decile = (1 to 9).foldRight(lit(10): Column) { (j, rest) =>
      when(r <= lit(cum(j - 1)), j).otherwise(rest)
    }
    ranked
      .withColumn("decile", decile.cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        dsum(col("c_acctbal")).as("sum_bal"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"))
      .orderBy("decile")
  }

  private val q25Sql =
    """SELECT decile, COUNT(*) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
      | ROUND(MIN(c_acctbal), 2) AS min_bal, ROUND(MAX(c_acctbal), 2) AS max_bal
      |FROM (SELECT c_acctbal,
      |       NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
      |      FROM customer) t
      |GROUP BY decile ORDER BY decile""".stripMargin

  // --------------------------------------------------------------- q26
  // Range-band (non-equi) join against a broadcast literal dimension.
  private val q26: Q = (s, d) => {
    val bands = broadcast(s.createDataFrame(Seq(
      ("neg", -10000.0, 0.0), ("low", 0.0, 2500.0), ("mid", 2500.0, 5000.0),
      ("high", 5000.0, 7500.0), ("top", 7500.0, 10000.0)))
      .toDF("band", "lo", "hi"))
    Tables.customer(s, d)
      .join(bands, col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("band")
  }

  private val q26Sql =
    """SELECT band, COUNT(*) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |JOIN (VALUES ('neg', -10000.0, 0.0), ('low', 0.0, 2500.0),
      |             ('mid', 2500.0, 5000.0), ('high', 5000.0, 7500.0),
      |             ('top', 7500.0, 10000.0)) AS b(band, lo, hi)
      |  ON c_acctbal >= lo AND c_acctbal < hi
      |GROUP BY band ORDER BY band""".stripMargin

  // --------------------------------------------------------------- q27
  // TPC-H Q7 shape: bilateral volume between two nation pairs — the
  // same dimension joined twice under different roles (supplier
  // nation vs customer nation).
  private val q27: Q = (s, d) => {
    val n1 = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
    val supp = broadcast(Tables.supplier(s, d))
    val cust = broadcast(Tables.customer(s, d))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("n1_key"))
      .join(n2, col("c_nationkey") === col("n2_key"))
      .filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dbl(sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  private val q27Sql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      | year(l_shipdate) AS l_year,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation n1 ON s_nationkey = n1.n_nationkey
      | JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
      |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // --------------------------------------------------------------- q28
  // Set operations: customers active in 1996 EXCEPT active in 1997,
  // INTERSECT both — distinct set semantics.
  private val q28: Q = (s, d) => {
    val ord = Tables.orders(s, d)
    def activeIn(y: Int) = ord
      .filter(year(col("o_orderdate")) === y)
      .select("o_custkey").distinct()
    val churned = activeIn(1996).except(activeIn(1997))
      .select(lit("churned").as("cohort"), col("o_custkey"))
    val retained = activeIn(1996).intersect(activeIn(1997))
      .select(lit("retained").as("cohort"), col("o_custkey"))
    churned.unionAll(retained).orderBy("cohort", "o_custkey")
  }

  private val q28Sql =
    """SELECT * FROM (
      | SELECT 'churned' AS cohort, o_custkey FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
      | UNION ALL
      | SELECT 'retained' AS cohort, o_custkey FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)) t
      |ORDER BY cohort, o_custkey""".stripMargin

  // --------------------------------------------------------------- q29
  // Running totals + share-of-total: cumulative spend per customer
  // over their order history plus each order's share of the
  // customer's lifetime spend (two window frames over one sort).
  private val q29: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val byCust = Window.partitionBy("o_custkey")
    val running = byCust.orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .withColumn("cum_spend", dbl(sum(money(col("o_totalprice"))).over(running)))
      .withColumn("lifetime", dbl(sum(money(col("o_totalprice"))).over(byCust)))
      .select(col("o_custkey"), col("o_orderkey"), col("cum_spend"),
        round(col("cum_spend") / col("lifetime"), 6).as("share"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val q29Sql =
    """SELECT o_custkey, o_orderkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend,
      | ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |   PARTITION BY o_custkey) AS DOUBLE), 6) AS share
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------- q30
  // Sketch-based distinct counting: HyperLogLog++ replaces exact
  // COUNT(DISTINCT) at 100 TB (no expand, mergeable partial state).
  // The sketch estimate itself is engine-specific, so the GATE row
  // carries the exact counts plus an in-query accuracy verdict: the
  // oracle returns the exact values and TRUE, and the hash only
  // matches when the sketch lands within the pinned 5% — the accuracy
  // claim is now oracle-checked instead of rows-only. (The exact
  // countDistinct branch exists for the gate; the operator a 100-TB
  // user calls is the approx_count_distinct sketch.)
  private val q30: Q = (s, d) => {
    // The sketch and exact branches run as SEPARATE aggregations
    // joined on the 4-row group key: mixing countDistinct (Expand
    // rewrite) and HLL buffers in one agg makes the planner update
    // sketch state per EXPANDED row — measured 9.4s vs 1.3+0.7s split.
    val li = Tables.lineitem(s, d)
    val ap = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_partkey"), rsd = 0.02).as("ap_parts"),
      approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("ap_orders"))
    li.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"))
      .join(ap, "l_returnflag")
      .select(col("l_returnflag"), col("n_parts"), col("n_orders"), col("n_lines"),
        (abs(col("ap_parts") - col("n_parts")) <= col("n_parts") * 0.05 &&
          abs(col("ap_orders") - col("n_orders")) <= col("n_orders") * 0.05)
          .as("sketch_within_5pct"))
      .orderBy("l_returnflag")
  }

  private val q30Sql =
    """SELECT l_returnflag,
      | CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      | CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      | COUNT(*) AS n_lines,
      | TRUE AS sketch_within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q8
  // Market share (TPC-H Q8 shape): among ASIA-region customers'
  // orders of PROMO parts, the revenue share delivered by NATION_2
  // suppliers, per order year. 7-table star: lineitem is the only
  // shuffle-bearing input — every dim is an explicit broadcast, and
  // the share divides two exact decimal sums as doubles.
  private val q8: Q = (s, d) => {
    val region = broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA"))
    val cnat = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region")))
    val snat = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name")))
    val promo = broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")
      .select("p_partkey"))
    val supp = broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"))
    val cust = broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val rev = money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))
    Tables.lineitem(s, d)
      .join(promo, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(cnat, col("c_nationkey") === col("cn_key"))
      .join(region, col("cn_region") === col("r_regionkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(snat, col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(coalesce(dbl(sum(when(col("sn_name") === "NATION_2", rev))), lit(0.0)) /
          dbl(sum(rev)), 4).as("mkt_share"),
        dbl(sum(rev)).as("total_rev"))
      .orderBy("o_year")
  }

  private val q8Sql =
    """SELECT year(o_orderdate) AS o_year,
      | ROUND(COALESCE(CAST(SUM(CASE WHEN sn.n_name = 'NATION_2'
      |     THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE), 0) /
      |   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) AS mkt_share,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_rev
      |FROM lineitem
      | JOIN part ON l_partkey = p_partkey
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation cn ON c_nationkey = cn.n_nationkey
      | JOIN region ON cn.n_regionkey = r_regionkey
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  // --------------------------------------------------------------- q11
  // Part-value concentration (TPC-H Q11 shape, adapted: testdata has
  // no partsupp, so value = lineitem revenue per part). HAVING
  // against a global scalar subquery; the threshold is scale-free
  // (1.5 × mean part value) and derived from the exact decimal total
  // over a distinct count, so both engines compare identical doubles.
  private val q11: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val pv = li.groupBy("l_partkey").agg(dsum(col("l_extendedprice")).as("value"))
    val thr = li.agg((lit(1.5) * dbl(sum(money(col("l_extendedprice")))) /
      countDistinct(col("l_partkey"))).as("_thr"))
    pv.join(broadcast(thr))
      .filter(col("value") > col("_thr"))
      .select("l_partkey", "value")
      .orderBy(col("value").desc, col("l_partkey"))
  }

  private val q11Sql =
    """WITH pv AS (
      |  SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS value
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT l_partkey, value FROM pv
      |WHERE value > (SELECT 1.5 * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |               / COUNT(DISTINCT l_partkey) FROM lineitem)
      |ORDER BY value DESC, l_partkey""".stripMargin

  // --------------------------------------------------------------- q31
  // UNPIVOT (wide → long): the warehouse melt that BI activation
  // needs for measure-as-rows tools. Native Dataset.unpivot — a
  // zero-shuffle projection expansion on top of the partial agg.
  private val q31: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dbl(sum(rate(col("l_discount")))).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")

  private val q31Sql =
    """WITH w AS (
      |  SELECT l_returnflag,
      |   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |   CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
      |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
      |UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w
      |ORDER BY l_returnflag, measure""".stripMargin

  // --------------------------------------------------------------- q32
  // Mergeable quantile sketch per group (approx_percentile): the
  // scale path for q24's exact percentiles — a sketch merges across
  // partitions (partial agg), an exact percentile needs the full
  // sorted column. Same gate design as q30: exact percentiles +
  // in-query sketch-accuracy verdict, so the oracle (quantile_cont,
  // the q24 pairing) hash-checks the 5% claim instead of rows-only.
  private val q32: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)").as("ap"),
        expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("ex"))
      .select(col("o_orderstatus"),
        round(col("ex")(0).cast(DoubleType), 4).as("p50"),
        round(col("ex")(1).cast(DoubleType), 4).as("p90"),
        round(col("ex")(2).cast(DoubleType), 4).as("p99"),
        (abs(col("ap")(0) - col("ex")(0)) <= col("ex")(0) * 0.05 &&
          abs(col("ap")(1) - col("ex")(1)) <= col("ex")(1) * 0.05 &&
          abs(col("ap")(2) - col("ex")(2)) <= col("ex")(2) * 0.05)
          .as("sketch_within_5pct"))
      .orderBy("o_orderstatus")

  private val q32Sql =
    """SELECT o_orderstatus,
      | ROUND(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS p50,
      | ROUND(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4) AS p90,
      | ROUND(CAST(quantile_cont(o_totalprice, 0.99) AS DOUBLE), 4) AS p99,
      | TRUE AS sketch_within_5pct
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- q33
  // Sliding-frame window (ROWS BETWEEN 6 PRECEDING): 7-day moving
  // average of daily order volume — the rolling-metric frame the
  // other window queries (running totals, lag, rank) don't cover.
  // Moving SUM over exact decimals / moving COUNT → deterministic.
  private val q33: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(money(col("o_totalprice"))).as("day_total"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    // Round via the explicit FLOOR(x·10⁴ + .5) formula on BOTH sides:
    // cents/count quotients land on exact .00005 midpoints, where
    // Spark's round (BigDecimal of the double) and DuckDB's ROUND
    // (×10⁴ then nearest) disagree by one ulp. The shared formula is
    // the same IEEE op sequence in both engines.
    val quo = dbl(sum(col("day_total")).over(w)) /
      dbl(sum(col("n_orders")).over(w))
    daily.select(col("day"), col("n_orders"),
        (floor(quo * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("avg_price_7d"))
      .orderBy("day")
  }

  private val q33Sql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |   SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS day_total,
      |   COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT day, n_orders,
      | FLOOR(CAST(SUM(day_total) OVER w AS DOUBLE) /
      |       CAST(SUM(n_orders) OVER w AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |   AS avg_price_7d
      |FROM daily
      |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY day""".stripMargin

  // ----------------------------------------------------------------
  val queries: Map[String, Q] = Map(
    "q8_market_share" -> q8,
    "q32_approx_percentiles" -> q32,
    "q33_moving_avg" -> q33,
    "q11_part_value" -> q11,
    "q31_unpivot" -> q31,
    "q30_sketch_distinct" -> q30,
    "q29_running_share" -> q29,
    "q27_nation_volume" -> q27,
    "q28_setops" -> q28,
    "q23_order_gap" -> q23,
    "q24_percentiles" -> q24,
    "q25_decile" -> q25,
    "q26_band_join" -> q26,
    "q1_pricing_summary" -> q1,
    "q2_filter_project" -> q2,
    "q3_shipping_priority" -> q3,
    "q4_order_priority" -> q4,
    "q5_local_supplier" -> q5,
    "q6_revenue_delta" -> q6,
    "q7_window_rank" -> q7,
    "q9_anti_join" -> q9,
    "q10_returned_items" -> q10,
    "q12_case_agg" -> q12,
    "q13_order_dist" -> q13,
    "q14_union_blend" -> q14,
    "q15_top_supplier" -> q15,
    "q16_rollup" -> q16,
    "q17_avg_qty_sub" -> q17,
    "q18_large_orders" -> q18,
    "q19_disjunctive" -> q19,
    "q20_distinct_topk" -> q20,
    "q21_grouping_sets" -> q21,
    "q22_cube" -> q22)

  val oracle: Map[String, String] = Map(
    "q8_market_share" -> q8Sql,
    "q11_part_value" -> q11Sql,
    "q31_unpivot" -> q31Sql,
    "q33_moving_avg" -> q33Sql,
    "q29_running_share" -> q29Sql,
    "q27_nation_volume" -> q27Sql,
    "q28_setops" -> q28Sql,
    "q23_order_gap" -> q23Sql,
    "q24_percentiles" -> q24Sql,
    "q25_decile" -> q25Sql,
    "q26_band_join" -> q26Sql,
    "q1_pricing_summary" -> q1Sql,
    "q2_filter_project" -> q2Sql,
    "q3_shipping_priority" -> q3Sql,
    "q4_order_priority" -> q4Sql,
    "q5_local_supplier" -> q5Sql,
    "q6_revenue_delta" -> q6Sql,
    "q7_window_rank" -> q7Sql,
    "q9_anti_join" -> q9Sql,
    "q10_returned_items" -> q10Sql,
    "q12_case_agg" -> q12Sql,
    "q13_order_dist" -> q13Sql,
    "q14_union_blend" -> q14Sql,
    "q15_top_supplier" -> q15Sql,
    "q16_rollup" -> q16Sql,
    "q17_avg_qty_sub" -> q17Sql,
    "q18_large_orders" -> q18Sql,
    "q19_disjunctive" -> q19Sql,
    "q20_distinct_topk" -> q20Sql,
    "q21_grouping_sets" -> q21Sql,
    "q22_cube" -> q22Sql,
    "q30_sketch_distinct" -> q30Sql,
    "q32_approx_percentiles" -> q32Sql)
}
