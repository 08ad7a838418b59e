package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Classic TPC-H-shaped analytics over the star schema — exercise the
  * full relational stack (multiway joins, date predicates, top-k,
  * grouped revenue math) as single composite plans. Join strategy:
  * dimensions broadcast, facts stream.
  */
object TpchQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Synthesized partsupp — the fixture ships no partsupp table, so
    * the four partsupp-shaped TPC-H queries (q2/q11/q16/q20) derive
    * one deterministically: supplier assignment by key congruence
    * (s_suppkey ≡ p_partkey mod 4 → |part|·|supplier|/4 rows) and
    * arithmetic cost/availability, reproduced verbatim in the DuckDB
    * oracles so all four stay fully hash-checkable.
    *
    * Synthesized from caller-supplied (possibly PRE-FILTERED) part /
    * supplier sides. partsupp drops every part/supplier attribute, so
    * Catalyst cannot push a q2/q16/q20 part predicate or a q11 nation
    * predicate through the generator join on its own — each row of
    * the |part|·|supplier|/4 relation the query will immediately
    * discard still gets synthesized. Passing the filtered side in IS
    * that pushdown, done manually: a 16%-selective part filter shrinks
    * the generated relation 6× before it exists. Equi-join on the
    * materialized congruence class, not a theta join on
    * `p % 4 = s % 4`: the latter plans a nested loop evaluating
    * |part|×|supplier| predicates; hashing the 4-value key gets the
    * same relation at linear probe cost.
    */
  private def partsuppFrom(part: DataFrame, supplier: DataFrame): DataFrame =
    part.select(col("p_partkey"), col("p_retailprice"))
      .withColumn("__m", pmod(col("p_partkey"), lit(4)))
      .join(broadcast(supplier.select(col("s_suppkey"))
          .withColumn("__m", pmod(col("s_suppkey"), lit(4)))),
        Seq("__m"))
      .drop("__m")
      .select(
        col("p_partkey").as("ps_partkey"),
        col("s_suppkey").as("ps_suppkey"),
        round(lit(0.6) * col("p_retailprice") +
          (col("p_partkey") * 7 + col("s_suppkey") * 13) % 100, 4).as("ps_supplycost"),
        (lit(1L) + (col("p_partkey") * 31 + col("s_suppkey") * 17) % 1000).as("ps_availqty"))

  /** DuckDB CTE body mirroring [[partsupp]] bit for bit. */
  private val psSql: String =
    """partsupp AS (
      |  SELECT p_partkey AS ps_partkey, s_suppkey AS ps_suppkey,
      |    round(0.6 * p_retailprice + (p_partkey * 7 + s_suppkey * 13) % 100, 4) AS ps_supplycost,
      |    1 + (p_partkey * 31 + s_suppkey * 17) % 1000 AS ps_availqty
      |  FROM part JOIN supplier ON p_partkey % 4 = s_suppkey % 4
      |)""".stripMargin

  val queries: Map[String, Q] = Map(
    // Q3-shaped: shipping priority — revenue of unshipped orders.
    "tpch_q3_priority" -> ((spark, dir) => {
      val cutoff = lit("1995-03-15").cast("date")
      val c = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(spark, dir).where(col("o_orderdate").cast("date") < cutoff)
      val l = Tables.lineitem(spark, dir).where(col("l_shipdate").cast("date") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(graft.functions.MoneyFx.sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(20)
    }),

    // Q5-shaped: revenue by nation for suppliers in one region.
    "tpch_q5_region_revenue" -> ((spark, dir) => {
      val r = Tables.region(spark, dir).where(col("r_name") === "ASIA")
      val n = Tables.nation(spark, dir)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val s = Tables.supplier(spark, dir)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      Tables.lineitem(spark, dir)
        .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name")
        .agg(graft.functions.MoneyFx.sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"))
    }),

    // Q10-shaped: top customers by returned-item revenue loss.
    "tpch_q10_returns" -> ((spark, dir) => {
      val l = Tables.lineitem(spark, dir).where(col("l_returnflag") === "R")
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val n = Tables.nation(spark, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(graft.functions.MoneyFx.sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // Correlated subquery through the SQL surface — Catalyst
    // decorrelates the EXISTS into a join (SURVEY §4).
    "sql_subquery" -> ((spark, dir) => {
      Tables.customer(spark, dir).createOrReplaceTempView("customer_sq")
      Tables.orders(spark, dir).createOrReplaceTempView("orders_sq")
      spark.sql(
        """SELECT c_mktsegment, count(*) AS n_with_big_order
          |FROM customer_sq c
          |WHERE EXISTS (
          |  SELECT 1 FROM orders_sq o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
          |) AND c.c_acctbal > (
          |  SELECT avg(c_acctbal) FROM customer_sq
          |)
          |GROUP BY 1""".stripMargin)
    }),

    // Q6-shaped: forecast revenue change — a pure scan+filter+agg whose
    // predicates all reach the parquet reader.
    "tpch_q6_forecast" -> ((spark, dir) => {
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate").cast("date") >= lit("1994-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1995-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(graft.functions.MoneyFx.priceTimesRateX1e4(
          col("l_extendedprice"), col("l_discount"))) / 10000.0, 4).as("revenue"))
    }),

    // Q12-shaped (fixture columns): late-shipment counts by line
    // status with an order-priority split — late = shipped more than
    // 90 days after the order date.
    "tpch_q12_shipmode" -> ((spark, dir) => {
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .where(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) > 90)
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .as("low_line_count"))
    }),

    // Q14-shaped: promo revenue share — broadcast part dimension,
    // conditional-sum ratio in one aggregation.
    "tpch_q14_promo" -> ((spark, dir) => {
      val rev = graft.functions.MoneyFx.discPriceX1e4(
        col("l_extendedprice"), col("l_discount")) // x1e4 grid; scale cancels in the ratio
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate").cast("date") >= lit("1995-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1995-04-01").cast("date"))
        .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) * sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(0.0)) /
            sum(rev), 4).as("promo_revenue_pct"))
    }),

    // LATERAL correlated subquery with ORDER BY + LIMIT (per-customer
    // top order) — Catalyst decorrelates into a ranked join.
    "sql_lateral" -> ((spark, dir) => {
      Tables.customer(spark, dir).createOrReplaceTempView("cust_lat")
      Tables.orders(spark, dir).createOrReplaceTempView("ord_lat")
      spark.sql(
        """SELECT c_custkey, t.o_orderkey, t.total
          |FROM cust_lat,
          |LATERAL (
          |  SELECT o_orderkey, round(o_totalprice, 4) AS total
          |  FROM ord_lat WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
          |) t""".stripMargin)
    }),

    // Recursive CTE (new in Spark 4): a weekly date spine left-joined
    // to event counts — gap weeks surface with 0 instead of vanishing.
    "sql_recursive_cte" -> ((spark, dir) => {
      Tables.events(spark, dir).createOrReplaceTempView("ev_rec")
      spark.sql(
        """WITH RECURSIVE spine(week) AS (
          |  SELECT DATE '2024-01-01' AS week
          |  UNION ALL
          |  SELECT CAST(week + INTERVAL 7 DAY AS DATE) FROM spine
          |  WHERE week < DATE '2024-03-18'
          |),
          |wk AS (
          |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, count(*) AS n
          |  FROM ev_rec GROUP BY 1
          |)
          |SELECT date_format(s.week, 'yyyy-MM-dd') AS week,
          |  coalesce(n, 0) AS n_events
          |FROM spine s LEFT JOIN wk ON s.week = wk.week""".stripMargin)
    }),

    // Q4-shaped: order-priority check — EXISTS over late-shipped lines;
    // Catalyst plans the EXISTS as a left-semi hash join.
    "tpch_q4_priority" -> ((spark, dir) => {
      Tables.orders(spark, dir).createOrReplaceTempView("ord_q4")
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_q4")
      spark.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM ord_q4 o
          |WHERE EXISTS (
          |  SELECT 1 FROM li_q4
          |  WHERE l_orderkey = o.o_orderkey
          |    AND CAST(l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 60)
          |)
          |GROUP BY 1""".stripMargin)
    }),

    // Q17-shaped: small-quantity revenue — correlated scalar aggregate
    // subquery (per-part average), decorrelated into an aggregate+join.
    "tpch_q17_small_qty" -> ((spark, dir) => {
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_q17")
      Tables.part(spark, dir).createOrReplaceTempView("part_q17")
      spark.sql(
        """SELECT round(sum(round(l_extendedprice*100, 0)) / 700.0, 4) AS avg_yearly
          |FROM li_q17 l JOIN part_q17 p ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#1' AND l_quantity < (
          |  SELECT 0.2 * avg(l_quantity) FROM li_q17 WHERE l_partkey = p.p_partkey
          |)""".stripMargin)
    }),

    // Q18-shaped: large-volume orders — IN over a grouped HAVING
    // subquery; the big agg runs once, then semi-joins the fact scan.
    "tpch_q18_large_orders" -> ((spark, dir) => {
      Tables.orders(spark, dir).createOrReplaceTempView("ord_q18")
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_q18")
      Tables.customer(spark, dir).createOrReplaceTempView("cust_q18")
      spark.sql(
        """SELECT c_name, c_custkey, o_orderkey,
          |  round(sum(l_quantity), 4) AS total_qty
          |FROM cust_q18 JOIN ord_q18 ON c_custkey = o_custkey
          |JOIN li_q18 ON o_orderkey = l_orderkey
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM li_q18 GROUP BY 1 HAVING sum(l_quantity) > 250
          |)
          |GROUP BY 1, 2, 3
          |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin)
    }),

    // Q19-shaped: disjunctive join predicates (OR-of-ANDs) — one hash
    // join on the equi key, residual disjunction evaluated post-probe.
    "tpch_q19_disjunction" -> ((spark, dir) => {
      Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
        .agg(count(lit(1)).as("n_lines"),
          graft.functions.MoneyFx.sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"))
    }),

    // Q7-shaped: volume shipping between two nations — the double
    // nation-dimension join (supplier nation × customer nation) with a
    // symmetric pair predicate; both nation dims broadcast.
    "tpch_q7_volume" -> ((spark, dir) => {
      val n1 = Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(spark, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(spark, dir)
        .where(col("l_shipdate").cast("date").between("1995-01-01", "1996-12-31"))
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
               (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(graft.functions.MoneyFx.sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"))
    }),

    // Q8-shaped: national market share within a region for one part
    // type — a conditional-sum ratio over a 6-way star join.
    "tpch_q8_mktshare" -> ((spark, dir) => {
      val rev = graft.functions.MoneyFx.discPriceX1e4(
        col("l_extendedprice"), col("l_discount")) // x1e4 grid; scale cancels in the ratio
      val custNations = Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val suppNations = Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir).where(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(spark, dir)
            .where(col("o_orderdate").cast("date").between("1995-01-01", "1996-12-31")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNations), col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNations), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", rev).otherwise(0.0)) / sum(rev),
          4).as("mkt_share"))
    }),

    // Q9-shaped: product profit by nation and year. The fixture has no
    // partsupp, so supply cost is synthesized deterministically from the
    // part dimension (0.6 × retail price) — same plan shape: fact scan
    // through part+supplier+nation broadcasts, orders join, two-key agg.
    "tpch_q9_profit" -> ((spark, dir) => {
      val amount = graft.functions.MoneyFx.discPriceX1e4(
          col("l_extendedprice"), col("l_discount")) -
        lit(60.0) * graft.functions.MoneyFx.cents(col("p_retailprice")) * col("l_quantity")
      Tables.lineitem(spark, dir)
        .join(broadcast(Tables.part(spark, dir).where(col("p_name").contains("red"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(amount) / 10000.0, 4).as("sum_profit"))
    }),

    // Q13-shaped: customer order-count distribution — outer join with
    // an extra join-side predicate, then an aggregate of an aggregate.
    "tpch_q13_custdist" -> ((spark, dir) => {
      val o = Tables.orders(spark, dir).where(col("o_orderpriority") =!= "1-URGENT")
      Tables.customer(spark, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }),

    // Q15-shaped: top supplier by quarterly revenue — a reused CTE with
    // a scalar-subquery max over it (the revenue agg runs once under
    // AQE; the max is a one-row broadcast back).
    "tpch_q15_top_supplier" -> ((spark, dir) => {
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_q15")
      Tables.supplier(spark, dir).createOrReplaceTempView("supp_q15")
      spark.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS total_revenue
          |  FROM li_q15
          |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
          |  GROUP BY 1
          |)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM supp_q15 JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin)
    }),

    // Q21-shaped: suppliers who kept orders waiting — the EXISTS /
    // NOT-EXISTS double self-join on the fact table ("some other
    // supplier on the order, but no OTHER supplier was late").
    // Lateness = shipped >90 days after the order date (the fixture
    // has no commit/receipt dates).
    "tpch_q21_waiting" -> ((spark, dir) => {
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_q21")
      Tables.orders(spark, dir).createOrReplaceTempView("ord_q21")
      Tables.supplier(spark, dir).createOrReplaceTempView("supp_q21")
      spark.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supp_q21
          |JOIN li_q21 l1 ON s_suppkey = l1.l_suppkey
          |JOIN ord_q21 o ON o.o_orderkey = l1.l_orderkey
          |WHERE o.o_orderstatus = 'F'
          |  AND CAST(l1.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 90)
          |  AND EXISTS (
          |    SELECT 1 FROM li_q21 l2
          |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          |  )
          |  AND NOT EXISTS (
          |    SELECT 1 FROM li_q21 l3
          |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          |      AND CAST(l3.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 90)
          |  )
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name ASC
          |LIMIT 20""".stripMargin)
    }),

    // Q21 window rewrite: the EXISTS / NOT-EXISTS double self-join
    // re-expressed as ONE pass over the order-joined fact with two
    // collect_set windows — per order: the set of suppliers and the
    // set of LATE suppliers. A line waits iff it is late, the order has
    // another supplier, and no OTHER supplier is late. Same oracle as
    // tpch_q21_waiting: the rewrite must be result-identical; one
    // shuffle by order instead of three fact self-joins.
    "tpch_q21_window" -> ((spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir).where(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("is_late",
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")) > 90)
        .withColumn("all_supps", collect_set(col("l_suppkey")).over(w))
        .withColumn("late_supps",
          collect_set(when(col("is_late"), col("l_suppkey"))).over(w))
        .where(col("is_late") &&
          size(col("all_supps")) > 1 && size(col("late_supps")) === 1)
        .join(broadcast(Tables.supplier(spark, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    }),

    // Q22-shaped: global sales opportunity — customers with
    // above-average balances and no large orders, bucketed by a
    // "country code" (last two digits of the customer name; the
    // fixture has no phone column). Anti-join + scalar subquery.
    "tpch_q22_opportunity" -> ((spark, dir) => {
      Tables.customer(spark, dir).createOrReplaceTempView("cust_q22")
      Tables.orders(spark, dir).createOrReplaceTempView("ord_q22")
      spark.sql(
        """SELECT substring(c_name, -2, 2) AS cntrycode,
          |  count(*) AS numcust, round(sum(c_acctbal), 4) AS totacctbal
          |FROM cust_q22 c
          |WHERE c_acctbal > (
          |  SELECT avg(c_acctbal) FROM cust_q22 WHERE c_acctbal > 0.0
          |)
          |AND NOT EXISTS (
          |  SELECT 1 FROM ord_q22 o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
          |)
          |GROUP BY 1""".stripMargin)
    }),

    // Q2-shaped: min-cost supplier per qualifying part in one region —
    // q2's correlated scalar subquery decorrelated as a per-part
    // window min. The part predicate is applied BEFORE the min (each
    // part's regional minimum is independent of which parts qualify),
    // shrinking the windowed relation ~20×, and the window form reads
    // the partsupp subtree once where a grouped-min + equality-join
    // would build it twice.
    "tpch_q2_min_cost_supplier" -> ((spark, dir) => {
      val r = Tables.region(spark, dir).where(col("r_name") === "EUROPE")
      val n = Tables.nation(spark, dir)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val s = Tables.supplier(spark, dir)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      val p = Tables.part(spark, dir)
        .where(col("p_size") <= 15 && col("p_type") === "STANDARD")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ps_partkey"))
      // synthesize from the FILTERED part side (see partsuppFrom):
      // the per-part min window only ranges over qualifying parts, so
      // pre-filtering the generator is semantics-preserving
      partsuppFrom(p, Tables.supplier(spark, dir))
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(s), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("min_cost", min(col("ps_supplycost")).over(w))
        .where(col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"), col("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name").asc,
          col("s_name").asc, col("p_partkey").asc)
        .limit(20)
    }),

    // Q11-shaped: important stock — per-part inventory value in one
    // nation vs a scale-free multiple of the mean per-part value (a fixed fraction of the total, as in classic q11, goes empty as parts grow — TPC-H itself scales the fraction by 1/SF) (HAVING over a
    // scalar subquery; Spark plans the total as a one-row broadcast).
    "tpch_q11_important_stock" -> ((spark, dir) => {
      // natps keeps only NATION_3's suppliers — push that through the
      // generator: synthesize partsupp from the nation-filtered
      // supplier side (1/|nations| of the full relation ever exists)
      val supp3 = Tables.supplier(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)
          .where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
      partsuppFrom(Tables.part(spark, dir), supp3)
        .createOrReplaceTempView("ps_q11")
      Tables.supplier(spark, dir).createOrReplaceTempView("supp_q11")
      Tables.nation(spark, dir).createOrReplaceTempView("nat_q11")
      spark.sql(
        """WITH natps AS (
          |  SELECT ps_partkey, ps_supplycost * ps_availqty AS v
          |  FROM ps_q11 JOIN supp_q11 ON ps_suppkey = s_suppkey
          |  JOIN nat_q11 ON s_nationkey = n_nationkey
          |  WHERE n_name = 'NATION_3'
          |)
          |SELECT ps_partkey, round(sum(v), 4) AS value
          |FROM natps GROUP BY 1
          |HAVING sum(v) > (
          |  SELECT 2.0 * sum(v) / count(DISTINCT ps_partkey) FROM natps
          |)""".stripMargin)
    }),

    // Q16-shaped: supplier count by part attributes, excluding
    // flagged suppliers via NOT IN (negative account balance stands in
    // for q16's complaint-comment scan — the fixture has no s_comment).
    "tpch_q16_supplier_cnt" -> ((spark, dir) => {
      // push the brand/type/size part filter through the generator —
      // the WHERE below keeps the same predicates (idempotent on the
      // pre-filtered relation) so the SQL remains self-describing
      partsuppFrom(
        Tables.part(spark, dir).where(
          col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36)),
        Tables.supplier(spark, dir))
        .createOrReplaceTempView("ps_q16")
      Tables.part(spark, dir).createOrReplaceTempView("part_q16")
      Tables.supplier(spark, dir).createOrReplaceTempView("supp_q16")
      spark.sql(
        """SELECT p_brand, p_type, p_size,
          |  count(DISTINCT ps_suppkey) AS supplier_cnt
          |FROM ps_q16 JOIN part_q16 ON p_partkey = ps_partkey
          |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
          |  AND ps_suppkey NOT IN (
          |    SELECT s_suppkey FROM supp_q16 WHERE s_acctbal < 0
          |  )
          |GROUP BY 1, 2, 3""".stripMargin)
    }),

    // Q20-shaped: suppliers holding excess stock of name-matched parts
    // — availability above half the part-supplier's shipped quantity
    // for the year, then a semi join onto one nation's suppliers.
    "tpch_q20_excess_stock" -> ((spark, dir) => {
      // only '%bolt%' parts can reach the IN-subquery — synthesize
      // from the name-filtered part side, so the subquery needs no
      // join back to part
      partsuppFrom(
        Tables.part(spark, dir).where(col("p_name").like("%bolt%")),
        Tables.supplier(spark, dir))
        .createOrReplaceTempView("ps_q20")
      Tables.part(spark, dir).createOrReplaceTempView("part_q20")
      Tables.supplier(spark, dir).createOrReplaceTempView("supp_q20")
      Tables.nation(spark, dir).createOrReplaceTempView("nat_q20")
      Tables.lineitem(spark, dir).createOrReplaceTempView("li_q20")
      spark.sql(
        """WITH shipped AS (
          |  -- bolt-part semi-join BELOW the aggregate (guide §3.2):
          |  -- ps_q20 holds only '%bolt%' partkeys and qty is per
          |  -- (partkey, suppkey), so pre-filtering cannot change any
          |  -- surviving group's sum. The broadcast semi-join shrinks
          |  -- the aggregate's input and its (partkey, suppkey)
          |  -- exchange to the bolt slice (~1/12 of lineitem) instead
          |  -- of the full ship-year. It is written as a LEFT SEMI
          |  -- JOIN, not `l_partkey IN (subquery)`: constraint
          |  -- inference copies an IN predicate through l_partkey =
          |  -- ps_partkey onto ps_q20 as a second semi-join on part,
          |  -- which can remove no row there (node 79 of
          |  -- plans/r17/tpch_q20_excess_stock_after.txt).
          |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
          |  FROM li_q20 LEFT SEMI JOIN part_q20
          |    ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
          |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          |    AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
          |  GROUP BY 1, 2
          |)
          |SELECT s_suppkey, s_name
          |FROM supp_q20 JOIN nat_q20 ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_3' AND s_suppkey IN (
          |  SELECT ps_suppkey
          |  FROM ps_q20
          |  JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          |  WHERE ps_availqty > 0.5 * qty
          |)
          |ORDER BY s_name""".stripMargin)
    }),

    // Typed Dataset API: case-class encoder + typed filter/groupByKey.
    // NaN seam: the typed filter runs JVM IEEE semantics (NaN > 30 is
    // FALSE) while Spark SQL and DuckDB both treat NaN as the largest
    // double (NaN > 30 is TRUE) — the oracle carries an explicit
    // `AND NOT isnan` so both sides exclude NaN rows like the lambda.
    // Null seam: primitive encoder fields (Long/Double) REQUIRE
    // non-null columns — a null quantity/flag row throws
    // NOT_NULL_ASSERT_VIOLATION at encoding, so the typed view
    // excludes such rows up front (mirrored: null quantity fails
    // `> 30` in SQL anyway; the flag guard is explicit).
    "typed_ops" -> ((spark, dir) => {
      import spark.implicits._
      final case class Li(l_orderkey: Long, l_quantity: Double, l_returnflag: String)
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .where(col("l_orderkey").isNotNull && col("l_quantity").isNotNull &&
          col("l_returnflag").isNotNull)
        .as[(Long, Double, String)]
        .filter(_._2 > 30.0)
        .groupByKey(_._3)
        .count()
        .toDF("l_returnflag", "n_big")
    })
  )

  val oracles: Map[String, String] = Map(
    "tpch_q2_min_cost_supplier" ->
      s"""WITH $psSql,
        |regional AS (
        |  SELECT ps_partkey, ps_suppkey, ps_supplycost, s_acctbal, s_name, n_name
        |  FROM partsupp
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'
        |),
        |mc AS (SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost
        |       FROM regional GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
        |FROM regional
        |JOIN mc ON ps_partkey = mk AND ps_supplycost = min_cost
        |JOIN part ON ps_partkey = p_partkey
        |WHERE p_size <= 15 AND p_type = 'STANDARD'
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        |LIMIT 20""".stripMargin,

    "tpch_q11_important_stock" ->
      s"""WITH $psSql,
        |natps AS (
        |  SELECT ps_partkey, ps_supplycost * ps_availqty AS v
        |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |)
        |SELECT ps_partkey, round(sum(v), 4) AS value
        |FROM natps GROUP BY 1
        |HAVING sum(v) > (
        |  SELECT 2.0 * sum(v) / count(DISTINCT ps_partkey) FROM natps
        |)""".stripMargin,

    "tpch_q16_supplier_cnt" ->
      s"""WITH $psSql
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        |  )
        |GROUP BY 1, 2, 3""".stripMargin,

    "tpch_q20_excess_stock" ->
      s"""WITH $psSql,
        |shipped AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  GROUP BY 1, 2
        |)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3' AND s_suppkey IN (
        |  SELECT ps_suppkey
        |  FROM partsupp
        |  JOIN part ON p_partkey = ps_partkey
        |  JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |  WHERE p_name LIKE '%bolt%' AND ps_availqty > 0.5 * qty
        |)
        |ORDER BY s_name""".stripMargin,

    "tpch_q3_priority" ->
      """SELECT l_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 20""".stripMargin,

    "tpch_q5_region_revenue" ->
      """SELECT n_name,
        |  round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,

    "tpch_q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "sql_subquery" ->
      """SELECT c_mktsegment, count(*) AS n_with_big_order
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        |) AND c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |GROUP BY 1""".stripMargin,

    "tpch_q6_forecast" ->
      """SELECT round(sum(round(l_extendedprice*100, 0) * round(l_discount*100, 0)) / 10000.0, 4) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1994-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "tpch_q12_shipmode" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90
        |GROUP BY 1""".stripMargin,

    "tpch_q14_promo" ->
      """SELECT round(
        |  100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0)) ELSE 0.0 END) /
        |  sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))), 4) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1995-04-01'""".stripMargin,

    "sql_lateral" ->
      """SELECT c_custkey, t.o_orderkey, t.total
        |FROM customer,
        |LATERAL (
        |  SELECT o_orderkey, round(o_totalprice, 4) AS total
        |  FROM orders WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
        |) t""".stripMargin,

    "sql_recursive_cte" ->
      """WITH RECURSIVE spine(week) AS (
        |  SELECT DATE '2024-01-01' AS week
        |  UNION ALL
        |  SELECT CAST(week + INTERVAL 7 DAY AS DATE) FROM spine
        |  WHERE week < DATE '2024-03-18'
        |),
        |wk AS (
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, count(*) AS n
        |  FROM events GROUP BY 1
        |)
        |SELECT strftime(s.week, '%Y-%m-%d') AS week,
        |  coalesce(n, 0) AS n_events
        |FROM spine s LEFT JOIN wk ON s.week = wk.week""".stripMargin,

    "typed_ops" ->
      """SELECT l_returnflag, count(*) AS n_big
        |FROM lineitem
        |WHERE l_quantity > 30 AND NOT isnan(l_quantity)
        |  AND l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "tpch_q4_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |    AND CAST(l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
        |)
        |GROUP BY 1""".stripMargin,

    "tpch_q17_small_qty" ->
      """SELECT round(sum(round(l_extendedprice*100, 0)) / 700.0, 4) AS avg_yearly
        |FROM lineitem l JOIN part p ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1' AND l_quantity < (
        |  SELECT 0.2 * avg(l_quantity) FROM lineitem WHERE l_partkey = p.p_partkey
        |)""".stripMargin,

    "tpch_q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  round(sum(l_quantity), 4) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250
        |)
        |GROUP BY 1, 2, 3
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "tpch_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
        |  round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,

    "tpch_q8_mktshare" ->
      """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
        |  round(sum(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0)) ELSE 0.0 END) /
        |    sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))), 4) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        |GROUP BY 1""".stripMargin,

    "tpch_q9_profit" ->
      """SELECT n_name AS nation,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
        |  round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))
        |    - 60 * round(p_retailprice*100, 0) * l_quantity) / 10000.0, 4) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin,

    "tpch_q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1
        |) GROUP BY 1""".stripMargin,

    "tpch_q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS total_revenue
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        |  GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin,

    "tpch_q21_waiting" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
        |  )
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND CAST(l3.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
        |  )
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 20""".stripMargin,

    // Identical oracle as tpch_q21_waiting: the window rewrite must be
    // result-equivalent to the EXISTS form.
    "tpch_q21_window" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
        |  )
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND CAST(l3.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY
        |  )
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 20""".stripMargin,

    "tpch_q22_opportunity" ->
      """SELECT right(c_name, 2) AS cntrycode,
        |  count(*) AS numcust, round(sum(c_acctbal), 4) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (
        |  SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
        |)
        |AND NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
        |)
        |GROUP BY 1""".stripMargin,

    "tpch_q19_disjunction" ->
      """SELECT count(*) AS n_lines,
        |  round(sum(round(l_extendedprice*100, 0) * (100 - round(l_discount*100, 0))) / 10000.0, 4) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin
  )
}
