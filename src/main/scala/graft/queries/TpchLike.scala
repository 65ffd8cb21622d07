package graft.queries

import graft.QueryGroup
import graft.operators.PatternNFA
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TPC-H-flavored analytical queries over the driver's star schema
  * (adapted to its column subset) + a multi-step CEP chain — the
  * "whole-query" shapes that exercise join ordering, broadcast
  * selection, and two-phase aggregation together.
  */
object TpchLike extends QueryGroup {

  private val dec18_2 = DecimalType(18, 2)
  private val dec4_2  = DecimalType(4, 2)

  private def rev = col("l_extendedprice").cast(dec18_2) *
    (lit(1) - col("l_discount").cast(dec4_2))

  override def queries = Seq(

    // TPC-H Q5-flavored: revenue by nation for one region and year.
    q("h1_local_supplier_volume",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA' AND year(o.o_orderdate) = 1996
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer")
      val o = t(s, dir)("orders").filter(year(col("o_orderdate")) === 1996)
      val l = t(s, dir)("lineitem")
      val sup = t(s, dir)("supplier")
      val n = t(s, dir)("nation")
      val r = t(s, dir)("region").filter(col("r_name") === "ASIA")
      // customer/supplier scale with SF — no forced broadcast; AQE +
      // autoBroadcastJoinThreshold pick the strategy per actual size.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup,
          l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(rev).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q14-flavored: promo revenue share per month of 1996.
    q("h2_promo_share",
      """SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |        ELSE 0 END) AS DOUBLE) AS promo_rev,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_rev
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE year(l_shipdate) = 1996
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem").filter(year(col("l_shipdate")) === 1996)
      val p = t(s, dir)("part")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .groupBy(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM").as("month"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0)))
            .cast(DoubleType).as("promo_rev"),
          sum(rev).cast(DoubleType).as("total_rev"))
        .orderBy("month")
    },

    // TPC-H Q4-flavored: priority distribution of orders having at
    // least one high-quantity line (semi join + agg).
    q("h3_order_priority",
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |  AND year(o_orderdate) = 1997
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val o = t(s, dir)("orders").filter(year(col("o_orderdate")) === 1997)
      val l = t(s, dir)("lineitem").filter(col("l_quantity") >= 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q10-flavored: top customers by returned revenue.
    q("h4_returned_revenue",
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer")
      val o = t(s, dir)("orders")
      val l = t(s, dir)("lineitem").filter(col("l_returnflag") === "R")
      val n = t(s, dir)("nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(rev).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q18-flavored: orders whose total quantity exceeds 320.
    q("h5_large_orders",
      """SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice, sum_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
        |      GROUP BY l_orderkey HAVING sum(l_quantity) > 320) big
        |JOIN orders o ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val big = t(s, dir)("lineitem")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 320)
      val o = t(s, dir)("orders")
      val c = t(s, dir)("customer")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          col("o_totalprice").cast(dec18_2).as("totalprice"), col("sum_qty"))
        .orderBy("o_orderkey")
    },

    // TPC-H Q2-flavored: per part, the shipping supplier with minimum
    // account balance (correlated min over a join).
    q("h6_min_cost_supplier",
      """SELECT p_partkey, s_suppkey, CAST(s_acctbal AS DECIMAL(18,2)) AS acctbal
        |FROM (SELECT l.l_partkey AS p_partkey, s.s_suppkey, s.s_acctbal,
        |        row_number() OVER (PARTITION BY l.l_partkey
        |                           ORDER BY s.s_acctbal, s.s_suppkey) AS rn
        |      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
        |      JOIN supplier s ON s.s_suppkey = l.l_suppkey)
        |WHERE rn = 1 AND p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      val pairs = t(s, dir)("lineitem")
        .select("l_partkey", "l_suppkey").distinct()
      val sup = t(s, dir)("supplier")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_partkey").orderBy(col("s_acctbal").asc, col("s_suppkey").asc)
      pairs.join(sup, pairs("l_suppkey") === sup("s_suppkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("l_partkey") <= 500)
        .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
          col("s_acctbal").cast(dec18_2).as("acctbal"))
        .orderBy("p_partkey")
    },

    // TPC-H Q7-flavored: volume shipped between two nation pairs by
    // ship year (two-way nation self-join with a disjunctive pair
    // predicate; lineitem⋈orders⋈customer shuffle, dims broadcast).
    q("h7_volume_shipping",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem")
      val o = t(s, dir)("orders")
      val c = t(s, dir)("customer")
      val sup = t(s, dir)("supplier")
      val n1 = t(s, dir)("nation").select(
        col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir)("nation").select(
        col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, c("c_custkey") === o("o_custkey"))
        .join(sup, sup("s_suppkey") === l("l_suppkey"))
        .join(broadcast(n1), col("n1_key") === sup("s_nationkey"))
        .join(broadcast(n2), col("n2_key") === c("c_nationkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(rev).cast(DoubleType).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q8-flavored: one supplier nation's market share within a
    // customer region, per order year (agg-of-agg as a conditional
    // numerator over the same grouped sum — a single pass).
    q("h8_market_share",
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |        ELSE 0 END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS mkt_share
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n1.n_regionkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY 1 ORDER BY o_year""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem")
      val o = t(s, dir)("orders")
      val c = t(s, dir)("customer")
      val sup = t(s, dir)("supplier")
      val n1 = t(s, dir)("nation").select(
        col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region"))
      val n2 = t(s, dir)("nation").select(
        col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
      val r = t(s, dir)("region").filter(col("r_name") === "ASIA")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, c("c_custkey") === o("o_custkey"))
        .join(broadcast(n1), col("n1_key") === c("c_nationkey"))
        .join(broadcast(r), r("r_regionkey") === col("n1_region"))
        .join(sup, sup("s_suppkey") === l("l_suppkey"))
        .join(broadcast(n2), col("n2_key") === sup("s_nationkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0)))
            .cast(DoubleType) / sum(rev).cast(DoubleType)).as("mkt_share"))
        .orderBy("o_year")
    },

    // TPC-H Q9-flavored: profit (revenue minus retail cost of the
    // shipped quantity) by supplier nation and ship year, for one part
    // family — all money math in DECIMAL until the final projection.
    q("h9_product_profit",
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |         - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_name LIKE '%gear%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem")
      val p = t(s, dir)("part").filter(col("p_name").like("%gear%"))
      val sup = t(s, dir)("supplier")
      val n = t(s, dir)("nation")
      val cost = col("p_retailprice").cast(dec18_2) *
        col("l_quantity").cast(DecimalType(9, 2))
      l.join(p, p("p_partkey") === l("l_partkey"))
        .join(sup, sup("s_suppkey") === l("l_suppkey"))
        .join(broadcast(n), n("n_nationkey") === sup("s_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
        .agg(sum(rev - cost).cast(DoubleType).as("profit"))
        .orderBy("nation", "o_year")
    },

    // TPC-H Q17-flavored: revenue from small-quantity lines of one
    // brand, against each part's own average quantity (correlated
    // scalar aggregate → per-part agg then join; single global row).
    q("h10_small_qty_revenue",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1'
        |  AND l.l_quantity < 0.5 * (SELECT avg(l2.l_quantity) FROM lineitem l2
        |                            WHERE l2.l_partkey = p.p_partkey)""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem")
      val p = t(s, dir)("part").filter(col("p_brand") === "Brand#1")
      // correlated scalar agg decorrelated by hand: per-part avg once,
      // then an equi-join — the rewrite Catalyst/the reference's
      // RewriteCorrelatedScalarSubquery would produce.
      val avgQty = l.groupBy(col("l_partkey").as("aq_key"))
        .agg(avg("l_quantity").as("avg_qty"))
      l.join(p, p("p_partkey") === l("l_partkey"))
        .join(avgQty, col("aq_key") === l("l_partkey"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast(dec18_2)).cast(DoubleType) / 7.0)
          .as("avg_yearly"))
    },

    // TPC-H Q20-flavored: suppliers who shipped an excess quantity of
    // some part family in one year (nested grouped HAVING feeding an
    // IN → semi join).
    q("h11_excess_suppliers",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%red%' AND year(l_shipdate) = 1996
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(l_quantity) > 50)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem").filter(year(col("l_shipdate")) === 1996)
      val p = t(s, dir)("part").filter(col("p_name").like("%red%"))
      val sup = t(s, dir)("supplier")
      val excess = l.join(p, p("p_partkey") === l("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum("l_quantity").as("qty"))
        .filter(col("qty") > 50)
        .select("l_suppkey")
      sup.join(excess, sup("s_suppkey") === excess("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // TPC-H Q21-flavored: suppliers who were the ONLY late shipper in
    // a multi-supplier order (late = shipped >60 days after the order
    // date) — the double-correlated EXISTS + NOT EXISTS shape, as a
    // semi join then an anti join on the order key.
    q("h12_waiting_suppliers",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem")
      val o = t(s, dir)("orders")
      val sup = t(s, dir)("supplier")
      val l1 = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .select(col("l_orderkey").as("w_orderkey"), col("l_suppkey").as("w_suppkey"),
          col("o_orderdate").as("w_orderdate"))
      val l2 = l.select(col("l_orderkey").as("o2_key"), col("l_suppkey").as("s2_key"))
      val l3 = l.select(col("l_orderkey").as("o3_key"), col("l_suppkey").as("s3_key"),
        col("l_shipdate").as("d3_ship"))
      l1.join(l2, col("w_orderkey") === col("o2_key") &&
          col("w_suppkey") =!= col("s2_key"), "left_semi")
        .join(l3, col("w_orderkey") === col("o3_key") &&
          col("w_suppkey") =!= col("s3_key") &&
          col("d3_ship") > col("w_orderdate") + expr("INTERVAL 60 DAY"), "left_anti")
        .join(sup, sup("s_suppkey") === col("w_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // TPC-H Q22-flavored: well-funded customers gone quiet — balance
    // above the positive-balance average (scalar subquery) and no
    // recent orders (anti join), grouped by market segment.
    q("h13_quiet_customers",
      """SELECT c_mktsegment AS seg, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1 ORDER BY seg""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer")
      val o = t(s, dir)("orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast(DateType))
      // scalar subquery: exact decimal sum / count, one deterministic
      // IEEE division — then broadcast the single-row result.
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(dec18_2)).cast(DoubleType) / count(lit(1)))
          .as("avg_bal"))
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast(dec18_2)).cast(DoubleType).as("totacctbal"))
        .orderBy("seg")
    },

    // TPC-H Q3-flavored: shipping-priority top 10 — unshipped-revenue
    // per order for one market segment (3-way join, agg, sort-limit).
    q("h14_shipping_priority",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < DATE '1996-07-01'
        |  AND l.l_shipdate > DATE '1996-07-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir)("orders")
        .filter(col("o_orderdate") < lit("1996-07-01").cast(DateType))
      val l = t(s, dir)("lineitem")
        .filter(col("l_shipdate") > lit("1996-07-01").cast(DateType))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(rev).cast(DoubleType).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q6-flavored: forecast-revenue change — pure scan +
    // filter + single global agg, the pushdown showcase (no join).
    q("h15_forecast_revenue",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE year(l_shipdate) = 1996
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      t(s, dir)("lineitem")
        .filter(year(col("l_shipdate")) === 1996 &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(dec18_2) *
            col("l_discount").cast(dec4_2))
          .cast(DoubleType).as("revenue"))
    },

    // TPC-H Q11-flavored: important parts — per-part value vs a
    // fraction of the GLOBAL total (agg-of-agg + scalar subquery).
    // Accumulation stays DECIMAL on both sides so the threshold
    // comparison is exact and order-independent.
    q("h16_important_parts",
      """WITH pv AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS vd
        |            FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, CAST(vd AS DOUBLE) AS value
        |FROM pv
        |WHERE CAST(vd AS DOUBLE) > (SELECT CAST(sum(vd) AS DOUBLE) * 1.5 / count(*) FROM pv)
        |ORDER BY value DESC, l_partkey""".stripMargin) { (s, dir) =>
      // persist: pv feeds both the threshold scalar and the probe side,
      // and Catalyst does not reuse the exchange across the two
      // consumers (verified via .explain) — without it the full
      // lineitem scan + partial agg runs twice. pv is one row per
      // part, tiny relative to the fact table at any scale. The
      // harness releases the cache at the query (job) boundary.
      val pv = t(s, dir)("lineitem")
        .groupBy("l_partkey")
        .agg(sum(col("l_extendedprice").cast(dec18_2)).as("vd"))
        .persist()
      // 1.5× the average per-part value: selective at every SF (a fixed
      // fraction of the total is not, since part count scales with SF).
      val threshold = pv
        .agg((sum("vd").cast(DoubleType) * 1.5 / count(lit(1))).as("threshold"))
      pv.join(broadcast(threshold))
        .filter(col("vd").cast(DoubleType) > col("threshold"))
        .select(col("l_partkey"), col("vd").cast(DoubleType).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },

    // TPC-H Q12-flavored: late-shipped lines per line status, counting
    // high- vs low-priority orders with conditional aggregation
    // (l_linestatus stands in for the schema's missing l_shipmode).
    q("h17_late_by_status",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE year(l.l_shipdate) = 1997
        |  AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val o = t(s, dir)("orders")
      val l = t(s, dir)("lineitem").filter(year(col("l_shipdate")) === 1997)
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAY"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(high, 1L).otherwise(0L)).as("high_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_count"))
        .orderBy("l_linestatus")
    },

    // TPC-H Q13-flavored: customer order-count distribution — LEFT
    // join with an extra join-side predicate, then a second aggregate
    // over the first (histogram of counts).
    q("h18_custsale_distribution",
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |            FROM customer c LEFT JOIN orders o
        |              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        |            GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer")
      val o = t(s, dir)("orders").filter(col("o_orderpriority") =!= "5-LOW")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q15-flavored: top supplier — a revenue view computed once
    // and referenced twice (group rows + scalar MAX over it); the
    // equality is DECIMAL-exact on both sides. Catalyst's
    // ReuseExchange dedups the repeated subplan; at cluster scale
    // the view is one shuffle reused by both consumers.
    q("h19_top_supplier",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(DateType) &&
          col("l_shipdate") < lit("1996-04-01").cast(DateType))
      // persist: the view is consumed twice (group rows + scalar MAX)
      // and the exchange is not auto-reused (see h16) — one row per
      // supplier, so caching it beats re-scanning lineitem.
      val revenue = l.groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(rev).as("total_rev"))
        .persist()
      val top = revenue.agg(max("total_rev").as("max_rev"))
      val sup = t(s, dir)("supplier")
      revenue.join(broadcast(top))
        .filter(col("total_rev") === col("max_rev"))
        .join(sup, col("supplier_no") === sup("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast(DoubleType).as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q16-flavored: supplier count by part attributes — the
    // part/supplier bridge distilled from lineitem (no partsupp in
    // this schema), a NOT IN exclusion subquery, and COUNT DISTINCT.
    q("h20_supplier_by_part",
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_type, p_size
        |ORDER BY supplier_cnt DESC, p_type, p_size""".stripMargin) { (s, dir) =>
      val ps = t(s, dir)("lineitem").select("l_partkey", "l_suppkey").distinct()
      val p = t(s, dir)("part").filter(
        col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
      val bad = t(s, dir)("supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      ps.join(bad, ps("l_suppkey") === bad("s_suppkey"), "left_anti")
        .join(p, ps("l_partkey") === p("p_partkey"))
        .groupBy("p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_type"), col("p_size"))
    },

    // TPC-H Q19-flavored: disjunctive multi-attribute predicates over
    // the join — three OR'd brand/size/quantity bands collapsing to
    // one global revenue figure.
    q("h21_disjunctive_revenue",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem")
      val p = t(s, dir)("part")
      val band = (
        (p("p_brand") === "Brand#12" && p("p_size").between(1, 15) &&
          l("l_quantity").between(1, 21)) ||
        (p("p_brand") === "Brand#23" && p("p_size").between(1, 25) &&
          l("l_quantity").between(10, 30)) ||
        (p("p_brand") === "Brand#4" && p("p_size").between(1, 35) &&
          l("l_quantity").between(20, 40)))
      l.join(p, p("p_partkey") === l("l_partkey") && band)
        .agg(sum(rev).cast(DoubleType).as("revenue"))
    },

    // CEP with quantifiers: signup → click+ → purchase within 6h
    // (PatternNFA; OneOrMore reports the click count per match).
    q("cep3_pattern_quantifier",
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us FROM events WHERE event_type = 'signup'),
        |b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |ab AS (SELECT * FROM (
        |  SELECT a.user_id, a.a_id, a.a_us, b.event_id AS b_id, b.ts_us AS b_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id ORDER BY b.ts_us, b.event_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND b.ts_us > a.a_us AND b.ts_us < a.a_us + 21600000000) WHERE rn = 1),
        |abc AS (SELECT * FROM (
        |  SELECT ab.user_id, ab.a_id, ab.a_us, ab.b_id, c.event_id AS c_id, c.ts_us AS c_us,
        |    row_number() OVER (PARTITION BY ab.user_id, ab.a_id ORDER BY c.ts_us, c.event_id) AS rn
        |  FROM ab JOIN c ON ab.user_id = c.user_id
        |    AND c.ts_us > ab.b_us AND c.ts_us < ab.a_us + 21600000000) WHERE rn = 1),
        |cnt AS (SELECT abc.user_id, abc.a_id, count(*) AS n
        |  FROM abc JOIN b ON abc.user_id = b.user_id
        |    AND b.ts_us > abc.a_us AND b.ts_us < abc.c_us
        |  GROUP BY 1, 2)
        |SELECT abc.user_id AS key, abc.a_id AS anchor_id, abc.c_id AS end_id,
        |  abc.a_id || ',' || abc.b_id || ',' || abc.c_id AS chain,
        |  'clicks:' || cnt.n AS counts
        |FROM abc JOIN cnt ON abc.user_id = cnt.user_id AND abc.a_id = cnt.a_id
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA._
      val ev = t(s, dir)("events").select(
        col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
        col("event_id").as("id"), col("event_type").as("kind"))
      run(s, ev, Pattern(Seq(
          Step("signup", "signup"),
          Step("clicks", "click", OneOrMore()),
          Step("purchase", "purchase")), 21600L * 1000000L))
        .orderBy("key", "anchor_id")
    },

    // CEP times(2): signup → exactly two successive clicks → purchase.
    q("cep4_pattern_times",
      """WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_us FROM events WHERE event_type = 'signup'),
        |b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |s1 AS (SELECT * FROM (
        |  SELECT a.user_id, a.a_id, a.a_us, b.event_id AS b1_id, b.ts_us AS b1_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id ORDER BY b.ts_us, b.event_id) AS rn
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND b.ts_us > a.a_us AND b.ts_us < a.a_us + 86400000000) WHERE rn = 1),
        |s2 AS (SELECT * FROM (
        |  SELECT s1.user_id, s1.a_id, s1.a_us, s1.b1_id, b.event_id AS b2_id, b.ts_us AS b2_us,
        |    row_number() OVER (PARTITION BY s1.user_id, s1.a_id ORDER BY b.ts_us, b.event_id) AS rn
        |  FROM s1 JOIN b ON s1.user_id = b.user_id
        |    AND b.ts_us > s1.b1_us AND b.ts_us < s1.a_us + 86400000000) WHERE rn = 1),
        |s3 AS (SELECT * FROM (
        |  SELECT s2.user_id, s2.a_id, s2.b1_id, s2.b2_id, c.event_id AS c_id,
        |    row_number() OVER (PARTITION BY s2.user_id, s2.a_id ORDER BY c.ts_us, c.event_id) AS rn
        |  FROM s2 JOIN c ON s2.user_id = c.user_id
        |    AND c.ts_us > s2.b2_us AND c.ts_us < s2.a_us + 86400000000) WHERE rn = 1)
        |SELECT user_id AS key, a_id AS anchor_id, c_id AS end_id,
        |  a_id || ',' || b1_id || ',' || b2_id || ',' || c_id AS chain,
        |  '' AS counts
        |FROM s3 ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA._
      val ev = t(s, dir)("events").select(
        col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
        col("event_id").as("id"), col("event_type").as("kind"))
      run(s, ev, Pattern(Seq(
          Step("signup", "signup"),
          Step("click", "click", Times(2)),
          Step("purchase", "purchase")), 86400L * 1000000L))
        .orderBy("key", "anchor_id")
    },

    // Three-step CEP chain: signup → first purchase → first error
    // after it, all within 6h of the signup (PATTERN (A B C) with
    // relaxed contiguity, one three-step engine pattern).
    q("cep2_three_step",
      """WITH ab AS (
        |  SELECT user_id, a_id, a_ts, b_id, b_ts FROM (
        |    SELECT a.user_id, a.event_id AS a_id, a.ts AS a_ts,
        |           b.event_id AS b_id, b.ts AS b_ts,
        |      row_number() OVER (PARTITION BY a.user_id, a.event_id ORDER BY b.ts, b.event_id) AS rn
        |    FROM (SELECT * FROM events WHERE event_type = 'signup') a
        |    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |      ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts < a.ts + INTERVAL 6 HOUR)
        |  WHERE rn = 1),
        |abc AS (
        |  SELECT user_id, a_id, b_id, c_id FROM (
        |    SELECT ab.user_id, ab.a_id, ab.b_id, c.event_id AS c_id,
        |      row_number() OVER (PARTITION BY ab.user_id, ab.a_id ORDER BY c.ts, c.event_id) AS rn
        |    FROM ab JOIN (SELECT * FROM events WHERE event_type = 'error') c
        |      ON ab.user_id = c.user_id AND c.ts > ab.b_ts AND c.ts < ab.a_ts + INTERVAL 6 HOUR)
        |  WHERE rn = 1)
        |SELECT user_id, a_id, b_id, c_id FROM abc
        |ORDER BY user_id, a_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir)("events")
        .filter(col("event_type").isin("signup", "purchase", "error"))
        .select(col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
          col("event_id").as("id"), col("event_type").as("kind"))
      PatternNFA.run(s, e, PatternNFA.Pattern(Seq(
          PatternNFA.Step("A", "signup"), PatternNFA.Step("B", "purchase"),
          PatternNFA.Step("C", "error")), 21600L * 1000000L))
        .select(col("key").as("user_id"), col("anchor_id").as("a_id"),
          split(col("chain"), ",")(1).cast("long").as("b_id"),
          col("end_id").as("c_id"))
        .orderBy("user_id", "a_id")
    })
}
