package graft
package ledger

import graft.core.Tables
import org.apache.spark.sql.functions._

/** The TPC-H shapes over the driver tables. */
private[graft] object TpchQueries {
  import Common._

  val all: Seq[QueryDef] = Seq(
    /** TPC-H Q3 shape — the selective 3-table join feeding a top-k: both
      * date filters push to the scans, the aggregate is partial+final, and
      * the LIMIT plans as TakeOrderedAndProject (a per-partition top-k +
      * single-reduce merge — no global sort materializes). revenue ties
      * are broken by l_orderkey so the cut is deterministic. */
    QueryDef("q3_topk_revenue") { (s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") < lit("1995-03-15"))
        .join(li(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1995-03-15"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          + lit(5e-7), 2).as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    } {
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15'
        |  AND l_shipdate > DATE '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
    },

    /** TPC-H Q4 shape — EXISTS over a correlated non-equi predicate, the
      * late-shipped-orders tally. The EXISTS plans as a LEFT SEMI join:
      * equi key (l_orderkey = o_orderkey) drives the shuffle/broadcast,
      * the interval arithmetic rides along as a residual condition, and
      * each order is counted at most once no matter how many late lines it
      * has — no distinct pass needed. Both date filters push to the orders
      * scan. */
    QueryDef("q4_order_priority", headline = true) { (s, d) =>
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1995-04-01"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    } {
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= DATE '1995-01-01'
        |  AND o.o_orderdate < DATE '1995-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** TPC-H Q6 shape — the pure scan benchmark: every predicate reaches
      * the parquet scan's PushedFilters (date range, discount band,
      * quantity cap), the read schema prunes to the filter + aggregate
      * columns, and the global aggregate is a partial+final pair — the
      * query IS the scan. The +5e-7 epsilon before round guards the
      * half-even boundary against accumulation-order differences (q1's
      * discipline). */
    QueryDef("q6_forecast_revenue", headline = true) { (s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")) + lit(5e-7), 2)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    } {
      """SELECT round(sum(l_extendedprice * l_discount) + 5e-7, 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin
    },

    /** TPC-H Q19 shape — disjunctive OR-of-ANDs predicate spanning both
      * join sides. Catalyst CNF-converts the disjunction and pushes the
      * single-table factors to each scan (brand/size bounds to part,
      * the union quantity envelope to lineitem); the full predicate stays
      * as the join residual. The plan to check: PushedFilters on BOTH
      * scans despite every branch mixing tables. */
    QueryDef("q19_disjunctive") { (s, d) =>
      val branch = (b: String, sizeHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === b && col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      li(s, d).join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
        .filter(branch("Brand#1", 15, 1, 11) ||
          branch("Brand#2", 25, 10, 20) ||
          branch("Brand#3", 35, 20, 30))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          + lit(5e-7), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    } {
      """SELECT round(sum(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin
    },

    /** TPC-H Q14 shape — conditional-aggregation ratio (promo revenue
      * share). Revenue quantizes to integer cents PER ROW (floor + 0.5 of
      * the identical per-row product), so both sums are exact integers and
      * the ratio is deterministic regardless of accumulation order — the
      * cross-engine discipline for ratios of float sums. Date filter
      * pushes to the lineitem scan; one join, one global aggregate. */
    QueryDef("q14_promo_share") { (s, d) =>
      val j = li(s, d)
        .filter(col("l_shipdate") >= lit("1995-09-01") &&
          col("l_shipdate") < lit("1995-10-01"))
        .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
        .select(col("p_type"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100
            + lit(0.5)).cast("long").as("cents"))
      j.agg(
        round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L)) /
          sum(col("cents")) + lit(5e-7), 4).as("promo_pct"),
        sum(col("cents")).as("total_cents"),
        count(lit(1)).as("n_lines"))
    } {
      // per-row cent quantization makes both sums exact integers — the
      // ratio can't drift with accumulation order
      """WITH j AS (
        |  SELECT p_type,
        |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01')
        |SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |         / sum(cents) + 5e-7, 4) AS promo_pct,
        |  CAST(sum(cents) AS BIGINT) AS total_cents, count(*) AS n_lines
        |FROM j""".stripMargin
    },

    /** TPC-H Q7 shape — two-nation volume shipping: the symmetric
      * nation-pair predicate over a 5-table join, revenue per
      * (supp_nation, cust_nation, ship year). The nation dimension
      * broadcasts twice under different roles; per-row cent quantization
      * keeps the yearly sums integer-exact. */
    QueryDef("q7_nation_volume", headline = true) { (s, d) =>
      val sn = Tables.nation(s, d)
        .select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))
      val cn = Tables.nation(s, d)
        .select(col("n_nationkey").as("__cnk"), col("n_name").as("cust_nation"))
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(sn), col("__snk") === col("s_nationkey"))
        .join(broadcast(cn), col("__cnk") === col("c_nationkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .select(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100
            + lit(0.5)).cast("long").as("__c"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(sum("__c").as("rev_cents"), count(lit(1)).as("n_lines"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    } {
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(c) AS BIGINT) AS rev_cents, count(*) AS n_lines
        |FROM (
        |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ns ON ns.n_nationkey = s_nationkey
        |  JOIN nation nc ON nc.n_nationkey = c_nationkey
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
        |    AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |      OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    },

    /** TPC-H Q8 shape — national market share: one nation's fraction of
      * ASIA-customer STANDARD-part revenue per order year. The share is a
      * conditional-sum ratio over per-row cent quantization, so the float
      * division is one deterministic op over two exact integers. */
    QueryDef("q8_market_share") { (s, d) =>
      val asiaNations = Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA").select(col("n_nationkey").as("__cnk"))
      val sn = Tables.nation(s, d)
        .select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))
      li(s, d)
        .join(Tables.part(s, d).filter(col("p_type") === "STANDARD"),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01")),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(asiaNations), col("__cnk") === col("c_nationkey"), "left_semi")
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(sn), col("__snk") === col("s_nationkey"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          col("supp_nation"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100
            + lit(0.5)).cast("long").as("__c"))
        .groupBy("o_year")
        .agg(round(sum(when(col("supp_nation") === "NATION_3", col("__c"))
            .otherwise(0L)).cast("double") / sum("__c") + lit(5e-7), 4).as("mkt_share"),
          sum("__c").as("total_cents"))
        .orderBy("o_year")
    } {
      """WITH v AS (
        |  SELECT year(o_orderdate) AS o_year, ns.n_name AS supp_nation,
        |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ns ON ns.n_nationkey = s_nationkey
        |  WHERE p_type = 'STANDARD'
        |    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
        |    AND c_nationkey IN (SELECT n_nationkey FROM nation JOIN region
        |      ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'))
        |SELECT o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE) + 5e-7, 4) AS mkt_share,
        |  CAST(sum(c) AS BIGINT) AS total_cents
        |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin
    },

    /** TPC-H Q10 shape — returned-item revenue: top 20 customers by
      * returned (R-flag) revenue over one quarter of orders. Classic
      * fact-to-dim join funnel ending in TakeOrdered, not a global sort. */
    QueryDef("q10_returned_items") { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-10-01") &&
            col("o_orderdate") < lit("1997-01-01")),
          col("o_custkey") === col("c_custkey"))
        .join(li(s, d).filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100
            + lit(0.5)).cast("long").as("__c"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum("__c").as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("c_custkey")).limit(20)
    } {
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)) AS BIGINT)
        |    AS rev_cents
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE o_orderdate >= DATE '1996-10-01' AND o_orderdate < DATE '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY rev_cents DESC, c_custkey LIMIT 20""".stripMargin
    },

    /** TPC-H Q15 shape — top supplier: quarterly revenue per supplier,
      * keep the max (the VIEW + scalar-max subquery form: aggregate once,
      * broadcast the 1-row max back as a filter). */
    QueryDef("q15_top_supplier") { (s, d) =>
      // pinned: the revenue view feeds BOTH the scalar max and the join —
      // without the pin the quarter's lineitem scan-aggregate runs twice
      val rev = graft.core.Caching.shared(li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100
          + lit(0.5)).cast("long")).as("total_cents")))
      val mx = rev.agg(max("total_cents").as("__mx"))
      rev.join(broadcast(mx), col("total_cents") === col("__mx"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_cents"))
        .orderBy("s_suppkey")
    } {
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS total_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_cents
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin
    },

    /** TPC-H Q17 shape — small-quantity revenue: lineitems under 20% of
      * their part's average quantity, for one brand's SMALL parts. The
      * correlated AVG subquery becomes one aggregate + key join over the
      * pinned part-lineitem relation (consumed by both the average and
      * the filter). */
    QueryDef("q17_small_qty") { (s, d) =>
      val pts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#23" && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      val lp = graft.core.Caching.shared(
        li(s, d).join(broadcast(pts), col("p_partkey") === col("l_partkey"))
          .select(col("p_partkey"), col("l_quantity"),
            floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("__c")))
      val avgQ = lp.groupBy("p_partkey").agg(avg("l_quantity").as("__avgq"))
      lp.join(avgQ, "p_partkey")
        .filter(col("l_quantity") < lit(0.2) * col("__avgq"))
        .agg(coalesce(sum("__c"), lit(0L)).as("sum_cents"),
          count(lit(1)).as("n_lines"))
        .select(round(col("sum_cents").cast("double") / 100.0 / 7.0 + lit(5e-7), 2)
          .as("avg_yearly"), col("sum_cents"), col("n_lines"))
    } {
      """WITH lp AS (
        |  SELECT l_partkey AS p_partkey, l_quantity,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'),
        |aq AS (SELECT p_partkey, avg(l_quantity) AS avgq FROM lp GROUP BY 1),
        |f AS (SELECT c FROM lp JOIN aq USING (p_partkey)
        |      WHERE l_quantity < 0.2 * avgq)
        |SELECT round(CAST(coalesce(sum(c), 0) AS DOUBLE) / 100.0 / 7.0 + 5e-7, 2)
        |    AS avg_yearly,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS sum_cents,
        |  count(*) AS n_lines
        |FROM f""".stripMargin
    },

    /** TPC-H Q21 shape (adapted to the reduced schema) — suppliers who
      * kept multi-supplier orders waiting: this supplier shipped > 60 days
      * after the order date, some OTHER supplier shares the order
      * (EXISTS → left-semi), and NO other supplier was also late
      * (NOT EXISTS → left-anti). The late relation is pinned: it feeds
      * the probe side and both correlated legs. */
    // min-of-2: not a fixpoint, but its 256-partition shuffle shows
    // the same single-draw sensitivity at sf1.
    QueryDef("q21_waiting_supplier", headline = true, sf1MinOf2 = true) { (s, d) =>
      // The EXISTS/NOT-EXISTS pair is ONE per-order aggregate in disguise
      // (round 16 — was a triple self-join paying two extra full-fact
      // probe shuffles, the slowest honest sf1 entry): a (supplier, order)
      // wins iff the supplier is late on the order, the order has ≥2
      // distinct suppliers, and exactly ONE distinct supplier is late —
      // and with nlate = 1 the winning supplier is recoverable from the
      // same aggregate as max(late supplier).
      //
      // Round 19 collapsed the two aggregate levels (distinct (order,
      // supplier, late) pairs, then per-order counts) into ONE per-order
      // hash aggregate: over totally-ordered supplier keys, "≥2 distinct
      // suppliers" is min(skey) != max(skey) and "exactly one distinct
      // late supplier" is min(late skey) == max(late skey) (non-null ==
      // is null-rejecting, so zero-late orders drop exactly as nlate=1
      // did), with the winner = max(late skey) unchanged. A line is late
      // iff l_shipdate > o_orderdate + 60d, so the per-line when() feeds
      // the same supplier set the pair-level any-line-late flag induced.
      // One less exchange at broadcast-join SFs, one less aggregate level
      // everywhere, map-side partial state one row per order instead of
      // one per (order, supplier) (guide §2.3/§2.4). Row-for-row identical
      // to the correlated form; the oracle is unchanged.
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
      val perOrder = li(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_suppkey")).as("__smin"),
          max(col("l_suppkey")).as("__smax"),
          min(when(late, col("l_suppkey"))).as("__lmin"),
          max(when(late, col("l_suppkey"))).as("late_sk"))
      perOrder
        .filter(col("__smin") =!= col("__smax") && col("__lmin") === col("late_sk"))
        .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("late_sk"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    } {
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin
    },

    /** TPC-H Q22 shape (adapted) — idle high-balance customers: balance
      * above the positive-balance average (scalar subquery → 1-row
      * broadcast) with no high-value order (anti-join), tallied per
      * nation with cent-exact balance sums. */
    QueryDef("q22_idle_customers") { (s, d) =>
      val c = Tables.customer(s, d)
      val avgBal = c.filter(col("c_acctbal") > 0).agg(avg("c_acctbal").as("__ab"))
      val high = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey")).distinct()
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__ab"))
        .join(high, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")).as("bal_cents"))
        .orderBy("c_nationkey")
    } {
      """SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(floor(c_acctbal * 100 + 0.5)) AS BIGINT) AS bal_cents
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
    },

    /** TPC-H Q2 shape (adapted — no partsupp in the reduced schema, so
      * lineitem's observed unit price stands in for ps_supplycost): for
      * each small STANDARD part, the EUROPE suppliers whose minimum
      * observed unit price equals the part's EUROPE-wide minimum. The
      * correlated-min subquery becomes aggregate + join-back on the PINNED
      * offers relation (it feeds both the per-part min and the equality
      * probe); unit price cent-quantizes per row so min/equality are
      * integer-exact. */
    QueryDef("q2_min_cost_supp") { (s, d) =>
      val es = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .select(col("n_nationkey"), col("n_name"))),
          col("n_nationkey") === col("s_nationkey"))
      val pts = Tables.part(s, d)
        .filter(col("p_type") === "STANDARD" && col("p_size") < 10)
        .select(col("p_partkey"), col("p_brand"))
      val offers = graft.core.Caching.shared(li(s, d)
        .join(broadcast(pts.select("p_partkey")),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .join(broadcast(es.select(col("s_suppkey").as("__esk"))),
          col("__esk") === col("l_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(floor(col("l_extendedprice") / col("l_quantity") * 100
          + lit(0.5)).cast("long")).as("unit_cents")))
      val minc = offers.groupBy(col("l_partkey").as("__pk"))
        .agg(min("unit_cents").as("__minc"))
      offers
        .join(minc, col("__pk") === col("l_partkey") &&
          col("unit_cents") === col("__minc"))
        .join(es, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(pts), col("p_partkey") === col("l_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("s_suppkey"),
          col("p_partkey"), col("p_brand"), col("unit_cents"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey")).limit(20)
    } {
      """WITH es AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
        |    JOIN nation ON n_nationkey = s_nationkey
        |    JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'EUROPE'),
        |pts AS (SELECT p_partkey, p_brand FROM part
        |        WHERE p_type = 'STANDARD' AND p_size < 10),
        |offers AS (SELECT l_partkey, l_suppkey,
        |    CAST(min(floor(l_extendedprice / l_quantity * 100 + 0.5)) AS BIGINT)
        |      AS unit_cents
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM pts)
        |    AND l_suppkey IN (SELECT s_suppkey FROM es)
        |  GROUP BY 1, 2),
        |minc AS (SELECT l_partkey, min(unit_cents) AS mc FROM offers GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, s_suppkey, p_partkey, p_brand, unit_cents
        |FROM offers JOIN minc USING (l_partkey)
        |JOIN es ON s_suppkey = l_suppkey
        |JOIN pts ON p_partkey = l_partkey
        |WHERE unit_cents = mc
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20""".stripMargin
    },

    /** TPC-H Q9 shape (adapted — p_retailprice·0.6·qty stands in for the
      * partsupp supply cost): per-nation-per-year profit on color-named
      * parts. LIKE filter prunes the broadcast part dim; profit
      * cent-quantizes per row (one identically-associated expression both
      * engines evaluate bit-for-bit), so yearly sums are exact. */
    QueryDef("q9_product_profit", headline = true) { (s, d) =>
      li(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_name").like("red%"))
          .select("p_partkey", "p_retailprice")),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"),
          floor((col("l_extendedprice") * (lit(1) - col("l_discount"))
            - col("p_retailprice") * lit(0.6) * col("l_quantity")) * 100
            + lit(0.5)).cast("long").as("__c"))
        .groupBy("nation", "o_year")
        .agg(sum("__c").as("profit_cents"), count(lit(1)).as("n_lines"))
        .orderBy(col("nation"), col("o_year").desc)
    } {
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        |  CAST(sum(floor((l_extendedprice * (1 - l_discount)
        |    - p_retailprice * 0.6 * l_quantity) * 100 + 0.5)) AS BIGINT)
        |    AS profit_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE 'red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin
    },

    /** TPC-H Q11 shape (adapted — one nation's lineitem revenue per part
      * stands in for partsupp stock value): parts whose value exceeds
      * 1/1000 of the nation total. The pinned per-part aggregate feeds
      * both the scalar total (1-row broadcast) and the filter; the
      * threshold compares integers (value·1000 > total), no float
      * fraction. */
    QueryDef("q11_important_stock") { (s, d) =>
      val ns = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("s_suppkey").as("__sk"))
      val vals = graft.core.Caching.shared(li(s, d)
        .join(broadcast(ns), col("__sk") === col("l_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
          .as("val_cents")))
      val tot = vals.agg(sum("val_cents").as("__tot"))
      vals.crossJoin(broadcast(tot))
        .filter(col("val_cents") * 1000 > col("__tot"))
        .select(col("l_partkey").as("p_partkey"), col("val_cents"))
        .orderBy(col("val_cents").desc, col("p_partkey"))
    } {
      """WITH vals AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(sum(floor(l_extendedprice * 100 + 0.5)) AS BIGINT) AS val_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
        |      ON n_nationkey = s_nationkey WHERE n_name = 'NATION_7')
        |  GROUP BY 1)
        |SELECT p_partkey, val_cents FROM vals
        |WHERE val_cents * 1000 > (SELECT sum(val_cents) FROM vals)
        |ORDER BY val_cents DESC, p_partkey""".stripMargin
    },

    /** TPC-H Q12 shape (adapted — the reduced lineitem has no
      * shipmode/commit/receipt dates, so ship delay classes stand in for
      * shipmode): high- vs low-priority order counts per delay bucket.
      * One fact-fact join; the CASE bucketing and priority split are pure
      * conditional aggregation — map-side combined, two shuffle keys
      * total. Dates are midnight-aligned so datediff is engine-exact. */
    QueryDef("q12_ship_priority") { (s, d) =>
      val delay = datediff(col("l_shipdate"), col("o_orderdate"))
      li(s, d)
        .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(
          when(delay <= 30, "1-fast").when(delay <= 90, "2-normal")
            .otherwise("3-slow").as("ship_class"),
          col("o_orderpriority"))
        .groupBy("ship_class")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_count"))
        .orderBy("ship_class")
    } {
      """SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
        |         THEN '1-fast'
        |       WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
        |         THEN '2-normal'
        |       ELSE '3-slow' END AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    /** TPC-H Q16 shape (adapted — lineitem part-supplier pairs stand in
      * for partsupp; negative-balance suppliers stand in for the
      * complaints exclusion): supplier counts per (brand, type, size)
      * slice, excluded suppliers anti-joined out BEFORE the distinct
      * count. Both dims broadcast; countDistinct dedups the repeated
      * lineitem pairs in the aggregate itself. */
    QueryDef("q16_supplier_cnt") { (s, d) =>
      val excl = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("__xk"))
      val pts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      li(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(pts), col("p_partkey") === col("l_partkey"))
        .join(broadcast(excl), col("__xk") === col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    } {
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
    },

    /** TPC-H Q20 shape (adapted — no ps_availqty, so the part's total
      * 1996 shipped volume is the stock proxy): suppliers who carried
      * MORE THAN HALF of some blue part's 1996 volume. Nested aggregation
      * (per part-supplier, then per part) over the pinned shipped
      * relation, integer half-compare (2·qty > total), then a semi-join
      * back to the supplier dim — the original's correlated-subquery
      * chain, shuffle-minimal. */
    QueryDef("q20_workhorse_supp") { (s, d) =>
      val pts = Tables.part(s, d).filter(col("p_name").like("blue%"))
        .select(col("p_partkey"))
      val shipped = graft.core.Caching.shared(li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(pts), col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty")))
      val tot = shipped.groupBy(col("l_partkey").as("__pk"))
        .agg(sum("qty").as("__tot"))
      val workhorse = shipped.join(tot, col("__pk") === col("l_partkey"))
        .filter(col("qty") * 2 > col("__tot"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, d)
        .join(workhorse, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d)),
          col("n_nationkey") === col("s_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    } {
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, sum(qty) AS t FROM shipped GROUP BY 1),
        |wh AS (SELECT DISTINCT l_suppkey FROM shipped JOIN tot USING (l_partkey)
        |       WHERE qty * 2 > t)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM wh)
        |ORDER BY s_suppkey""".stripMargin
    },

    /** TPC-H Q13 shape — customer order-count distribution: a LEFT OUTER
      * join whose predicate touches only the right side (so it pushes to
      * the orders scan, preserving outer rows), a per-customer count that
      * keeps zero-order customers via count(col) null-skipping, then a
      * re-aggregate of the aggregate. Two shuffles by construction:
      * custkey, then c_count — the second input is one row per customer,
      * already partial-aggregated map-side. */
    QueryDef("q13_custdist") { (s, d) =>
      val c = Tables.customer(s, d).select("c_custkey")
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      c.join(o, col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    } {
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin
    },

    /** TPC-H Q18 shape — large-volume orders: HAVING on a grouped sum
      * feeds a join back to orders/customer and a top-k. The HAVING
      * filter runs on the aggregate OUTPUT (one row per order, partials
      * map-side combined), so the join probe side is already tiny; the
      * LIMIT plans as TakeOrderedAndProject. l_quantity is integral-valued,
      * so the sum is exact and casts to BIGINT on both engines. */
    QueryDef("q18_big_orders") { (s, d) =>
      val big = li(s, d).groupBy("l_orderkey")
        .agg(sum("l_quantity").as("__sq"))
        .filter(col("__sq") > 150)
        .select(col("l_orderkey"), col("__sq").cast("long").as("sum_qty"))
      big.join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    } {
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
        |  CAST(t.sum_qty AS BIGINT) AS sum_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
        |      GROUP BY 1 HAVING sum(l_quantity) > 150) t
        |JOIN orders o ON o.o_orderkey = t.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 10""".stripMargin
    },

    /** TPC-H Q5 shape — the 6-table join with the local-supplier
      * correlation (supplier and customer share a nation). Region/nation
      * broadcast; the orders⋈lineitem⋈supplier chain shuffles on its keys;
      * Catalyst owns the join order. */
    QueryDef("q5_local_supplier", headline = true) { (s, d) =>
      Tables.region(s, d).filter(col("r_name") === "ASIA")
        .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
        .join(li(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d),
          col("s_suppkey") === col("l_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) + lit(5e-7), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    } {
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
        |  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
        |  AND l_orderkey = o_orderkey
        |  AND s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
    },

    /** TPC-H Q1 shape — the headline scan+agg benchmark. */
    QueryDef("q1_pricing_summary", headline = true) { (s, d) =>
      li(s, d)
        .filter(col("l_shipdate") <= lit("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) + lit(5e-7), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            + lit(5e-7), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    } {
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) + 5e-7, 2) AS sum_charge,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
    })
}
