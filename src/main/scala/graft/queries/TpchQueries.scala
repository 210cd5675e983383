package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The wide TPC-H-shaped battery (q2/q7/q8/q9/q10/q11/q12/q13/q15/
  * q16/q19/q20/q21 analogs — with q1/q3/q4/q5/q6/q14/q17/q18/q22 in
  * [[CoreQueries]], all 22 TPC-H query shapes are covered), adapted to the
  * testdata star schema (no partsupp
  * table — `lineitem` doubles as the part-supplier relation; no
  * l_shipmode/commitdate — `l_returnflag`/`o_orderpriority` carry the
  * categorical axes).
  *
  * Each query exists for its PLAN SHAPE, the thing that decides whether
  * it survives 100 TB:
  *  - q2:  min-per-group then equality-join back (the decorrelated form
  *         of TPC-H q2's correlated scalar min) — one aggregate pass,
  *         exchange reused between the two consumers of `offers`.
  *  - q7:  two independent broadcast joins against the SAME dim table
  *         (nation as supplier-nation and customer-nation).
  *  - q8:  conditional-share ratio under a six-table star; exact
  *         grouping on year, share rounded only at output.
  *  - q11: grouped aggregate vs broadcast scalar-total HAVING, with
  *         per-row integer-cent quantization so the threshold compare
  *         is exact on both engines.
  *  - q9:  five-table star join with a LIKE filter pushed into the
  *         part scan before the join fans out.
  *  - q10: fact-side aggregation then global top-k
  *         (TakeOrderedAndProject, never a full sort).
  *  - q12: conditional aggregation (case-sum pivot) over a fact join.
  *  - q13: LEFT OUTER join with a non-key predicate in the join
  *         condition (NOT a post-filter — that would change nulls),
  *         then a distribution-of-counts re-aggregation.
  *  - q15: CTE reused by both the join and a scalar-max subquery
  *         (ReuseExchange across the two consumers).
  *  - q16: NOT IN → null-aware anti join + count(DISTINCT).
  *  - q19: disjunction of cross-table conjuncts — the equi-join key is
  *         the only common conjunct; everything else stays a post-join
  *         filter without blocking the join's pushdown.
  *  - q20: nested IN subqueries → chained left-semi joins with a
  *         HAVING aggregate inside.
  *  - q21: EXISTS + NOT EXISTS on the same fact → one left-semi and
  *         one left-anti against differently-filtered self-scans.
  *
  * Reference provenance: the reference's serving queries are simple
  * single-table rollups (streamlit-app.py:27–115); this battery is the
  * warehouse surface a Spark engine must ALSO cover per SURVEY.md §2/§6
  * (analytics parity beyond the reference's own dashboard SQL).
  */
object TpchQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- Q2 analog: cheapest regional supplier per part. The
    //      correlated scalar-min subquery is written directly in its
    //      decorrelated form: min unit price per (part, supplier) once,
    //      min-of-min per part once, equality-join back on the UNROUNDED
    //      double (identical IEEE arithmetic on both engines; rounding
    //      only at output, never in a join key). ----
    QuerySpec("q2_min_cost",
      """WITH offers AS (
           SELECT l_partkey, l_suppkey,
                  min(l_extendedprice / l_quantity) AS unit_price
           FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
             JOIN nation ON s_nationkey = n_nationkey
           WHERE n_regionkey = 0
           GROUP BY l_partkey, l_suppkey),
         best AS (SELECT l_partkey AS bk, min(unit_price) AS best_price
                  FROM offers GROUP BY l_partkey)
         SELECT p_partkey, p_name, s_name,
                round(s_acctbal, 2) AS acctbal,
                round(o.unit_price, 4) AS unit_price
         FROM offers o JOIN best b ON o.l_partkey = b.bk
                                  AND o.unit_price = b.best_price
           JOIN part ON p_partkey = o.l_partkey
           JOIN supplier ON s_suppkey = o.l_suppkey
         WHERE p_size <= 10
         ORDER BY acctbal DESC, p_partkey, s_name LIMIT 100""",
      (s, dir) => {
        val offers = Tables.lineitem(s, dir)
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir).filter(col("n_regionkey") === 0)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_price"))
        val best = offers.groupBy(col("l_partkey").as("bk"))
          .agg(min(col("unit_price")).as("best_price"))
        offers
          .join(best, col("l_partkey") === col("bk") &&
                      col("unit_price") === col("best_price"))
          .join(broadcast(Tables.part(s, dir).filter(col("p_size") <= 10)),
            col("p_partkey") === col("l_partkey"))
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            round(col("s_acctbal"), 2).as("acctbal"),
            round(col("unit_price"), 4).as("unit_price"))
          .orderBy(col("acctbal").desc, col("p_partkey"), col("s_name"))
          .limit(100)
      }),

    // ---- Q7 analog: bilateral shipping volume between two nations by
    //      year. nation joins twice under different roles — both
    //      broadcast; the symmetric pair filter applies after both
    //      roles resolve. ----
    QuerySpec("q7_volume_shipping",
      """SELECT supp_nation, cust_nation, l_year,
                round(sum(volume), 2) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      year(l_shipdate) AS l_year,
                      l_extendedprice * (1 - l_discount) AS volume
               FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN customer ON c_custkey = o_custkey
                 JOIN nation n1 ON s_nationkey = n1.n_nationkey
                 JOIN nation n2 ON c_nationkey = n2.n_nationkey
               WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                 AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00') t
         GROUP BY supp_nation, cust_nation, l_year""",
      (s, dir) => {
        val n1 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, dir)
          .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("nk1"))
          .join(broadcast(n2), col("c_nationkey") === col("nk2"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
                  (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
      }),

    // ---- Q8 analog: one nation's market share inside a region, by
    //      year — the conditional-share pattern (q14's CASE-sum ratio)
    //      under a six-table star: nation joins twice (customer region
    //      membership and supplier identity), both broadcast. ----
    QuerySpec("q8_market_share",
      """SELECT year(o_orderdate) AS o_year,
                round(sum(CASE WHEN n2.n_name = 'NATION_5'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0.0 END) /
                      sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
         FROM lineitem
           JOIN part ON p_partkey = l_partkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE p_name LIKE '%widget%' AND n1.n_regionkey = 0
         GROUP BY year(o_orderdate)""",
      (s, dir) => {
        val custNation = Tables.nation(s, dir).filter(col("n_regionkey") === 0)
          .select(col("n_nationkey").as("cnk"))
        val suppNation = Tables.nation(s, dir)
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
        val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir).filter(col("p_name").like("%widget%"))),
            col("p_partkey") === col("l_partkey"))
          .join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
          .join(broadcast(custNation), col("c_nationkey") === col("cnk"))
          .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(suppNation), col("s_nationkey") === col("snk"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(
            sum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0.0))) /
              sum(vol), 4).as("mkt_share"))
      }),

    // ---- Q9 analog: profit by supplier-nation and order year. The
    //      LIKE filter prunes part BEFORE the star join (broadcast);
    //      supply cost proxied as a retail-price fraction since the
    //      schema has no partsupp. ----
    QuerySpec("q9_product_profit",
      """SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
         FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                      l_extendedprice * (1 - l_discount)
                        - p_retailprice * l_quantity * 0.1 AS amount
               FROM lineitem JOIN part ON p_partkey = l_partkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN orders ON o_orderkey = l_orderkey
                 JOIN nation ON s_nationkey = n_nationkey
               WHERE p_name LIKE '%gear%') t
         GROUP BY nation, o_year""",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir).filter(col("p_name").like("%gear%"))),
            col("p_partkey") === col("l_partkey"))
          .join(Tables.supplier(s, dir), col("s_suppkey") === col("l_suppkey"))
          .join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(round(sum(
            col("l_extendedprice") * (lit(1) - col("l_discount")) -
              col("p_retailprice") * col("l_quantity") * lit(0.1)), 2)
            .as("sum_profit"))
      }),

    // ---- Q10 analog: top-20 customers by returned-item revenue in a
    //      quarter. Aggregate first, THEN top-k — the sort sees only
    //      |customers| rows and plans as TakeOrderedAndProject, not a
    //      full exchange+sort of the fact. ----
    QuerySpec("q10_returned_items",
      """SELECT c_custkey, c_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                round(c_acctbal, 2) AS acctbal, n_name
         FROM customer JOIN orders ON o_custkey = c_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
      (s, dir) => {
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1997-10-01").cast("timestamp") &&
                    col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .select(col("c_custkey"), col("c_name"), col("revenue"),
            round(col("c_acctbal"), 2).as("acctbal"), col("n_name"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      }),

    // ---- Q11 analog: parts whose stocked value inside one nation
    //      exceeds a fraction of that nation's total — the
    //      aggregate-vs-scalar-subquery HAVING: the grouped aggregate
    //      computes once, the global total broadcasts as a 1-row
    //      scalar, and the filter compares — never a per-group
    //      re-aggregation. ----
    QuerySpec("q11_important_stock",
      """WITH pp AS (SELECT l_partkey,
                       CAST(sum(CAST(round(l_extendedprice * l_quantity * 100)
                                     AS BIGINT)) AS BIGINT) AS pv
                     FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                     WHERE s_nationkey = 3
                     GROUP BY l_partkey),
         tot AS (SELECT CAST(sum(pv) AS BIGINT) AS tv FROM pp)
         SELECT l_partkey, CAST(pv AS DOUBLE) / 100 AS part_value
         FROM pp, tot WHERE pv * 1000 > tv""",
      (s, dir) => {
        // per-row value quantized to integer cents BEFORE summing: the
        // threshold compare then runs on exact longs (pv·1000 > tv for a
        // 0.1% cut), immune to cross-engine double summation order — a
        // raw double sum could flip a borderline part's membership
        val natl = Tables.lineitem(s, dir)
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .filter(col("s_nationkey") === 3)
          .select(col("l_partkey"),
            round(col("l_extendedprice") * col("l_quantity") * 100)
              .cast("long").as("cents"))
        val perPart = natl.groupBy(col("l_partkey"))
          .agg(sum(col("cents")).as("pv"))
        val total = perPart.agg(sum(col("pv")).as("tv"))
        perPart.crossJoin(broadcast(total))
          .filter(col("pv") * 1000 > col("tv"))
          .select(col("l_partkey"),
            (col("pv").cast("double") / 100).as("part_value"))
      }),

    // ---- Q12 analog: priority mix per return flag — the case-sum
    //      pivot. Both counts ride ONE aggregate over one join pass. ----
    QuerySpec("q12_priority_mix",
      """SELECT l_returnflag AS flag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_returnflag""",
      (s, dir) => {
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.orders(s, dir)
          .join(Tables.lineitem(s, dir)
            .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                    col("l_shipdate") < lit("1998-01-01").cast("timestamp")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_returnflag").as("flag"))
          .agg(sum(when(high, 1L).otherwise(0L)).as("high_count"),
               sum(when(high, 0L).otherwise(1L)).as("low_count"))
      }),

    // ---- Q13 analog: distribution of per-customer order counts. The
    //      priority predicate lives IN the left-outer join condition
    //      (a post-filter would delete the zero-order customers the
    //      query exists to count). count(o_orderkey) counts only
    //      matched rows — null-skipping count is the point. ----
    QuerySpec("q13_cust_distribution",
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) t
         GROUP BY c_count""",
      (s, dir) => {
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir),
            col("c_custkey") === col("o_custkey") &&
              col("o_orderpriority") =!= "1-URGENT",
            "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      }),

    // ---- Q15 analog: supplier(s) hitting the max quarterly revenue —
    //      CTE consumed twice (join + scalar max). Revenue is rounded
    //      INSIDE the CTE so the max-equality compares engine-stable
    //      values. ----
    QuerySpec("q15_top_supplier",
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  round(sum(l_extendedprice * (1 - l_discount)), 2)
                    AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""",
      (s, dir) => {
        Tables.supplier(s, dir).createOrReplaceTempView("q15_supplier")
        Tables.lineitem(s, dir).createOrReplaceTempView("q15_lineitem")
        s.sql(
          """WITH revenue AS (
               SELECT l_suppkey AS supplier_no,
                      round(sum(l_extendedprice * (1 - l_discount)), 2)
                        AS total_revenue
               FROM q15_lineitem
               WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                 AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
               GROUP BY l_suppkey)
             SELECT s_suppkey, s_name, total_revenue
             FROM q15_supplier JOIN revenue ON s_suppkey = supplier_no
             WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""")
      }),

    // ---- Q16 analog: distinct supplier count per part class,
    //      excluding a supplier denylist via NOT IN (null-aware anti
    //      join — the semantics a plain anti join gets WRONG when the
    //      subquery could yield nulls). ----
    QuerySpec("q16_supplier_cnt",
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#5'
           AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size""",
      (s, dir) => {
        Tables.part(s, dir).createOrReplaceTempView("q16_part")
        Tables.lineitem(s, dir).createOrReplaceTempView("q16_lineitem")
        Tables.supplier(s, dir).createOrReplaceTempView("q16_supplier")
        s.sql(
          """SELECT p_brand, p_type, p_size,
                    count(DISTINCT l_suppkey) AS supplier_cnt
             FROM q16_lineitem JOIN q16_part ON p_partkey = l_partkey
             WHERE p_brand <> 'Brand#5'
               AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
               AND l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
                                     WHERE s_acctbal < 0)
             GROUP BY p_brand, p_type, p_size""")
      }),

    // ---- Q19 analog: disjunction of cross-table conjunct groups.
    //      Catalyst extracts the common join key; the OR-of-ANDs stays
    //      a single post-join filter — no union-of-three-scans
    //      rewrite needed. ----
    QuerySpec("q19_disjunctive_pred",
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                count(*) AS n
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20 AND 40)""",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)),
            col("p_partkey") === col("l_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 40)))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
            count(lit(1)).as("n"))
      }),

    // ---- Q20 analog: suppliers who moved serious volume of a part
    //      class, in one region — nested IN subqueries, the inner one
    //      carrying a HAVING aggregate. Decorrelates to left-semi
    //      chains; the supplier table is never fanned out. ----
    QuerySpec("q20_volume_suppliers",
      """SELECT s_name, round(s_acctbal, 2) AS acctbal
         FROM supplier
         WHERE s_suppkey IN (
             SELECT l_suppkey
             FROM lineitem JOIN part ON p_partkey = l_partkey
             WHERE p_name LIKE '%bolt%'
             GROUP BY l_suppkey, l_partkey
             HAVING sum(l_quantity) > 100)
           AND s_nationkey IN (SELECT n_nationkey FROM nation
                               WHERE n_regionkey = 1)""",
      (s, dir) => {
        Tables.supplier(s, dir).createOrReplaceTempView("q20_supplier")
        Tables.lineitem(s, dir).createOrReplaceTempView("q20_lineitem")
        Tables.part(s, dir).createOrReplaceTempView("q20_part")
        Tables.nation(s, dir).createOrReplaceTempView("q20_nation")
        s.sql(
          """SELECT s_name, round(s_acctbal, 2) AS acctbal
             FROM q20_supplier
             WHERE s_suppkey IN (
                 SELECT l_suppkey
                 FROM q20_lineitem JOIN q20_part ON p_partkey = l_partkey
                 WHERE p_name LIKE '%bolt%'
                 GROUP BY l_suppkey, l_partkey
                 HAVING sum(l_quantity) > 100)
               AND s_nationkey IN (SELECT n_nationkey FROM q20_nation
                                   WHERE n_regionkey = 1)""")
      }),

    // ---- Q21 analog: suppliers solely responsible for the returned
    //      line in multi-supplier finished orders — EXISTS (another
    //      supplier participated) AND NOT EXISTS (another supplier
    //      also returned). Two differently-filtered self-references of
    //      lineitem become one left-semi and one left-anti join; no
    //      per-row re-execution. ----
    QuerySpec("q21_sole_blame",
      """SELECT s_name, count(*) AS numwait
         FROM supplier
           JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
           JOIN orders ON o_orderkey = l1.l_orderkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND n_regionkey = 2
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name""",
      (s, dir) => {
        Tables.supplier(s, dir).createOrReplaceTempView("q21_supplier")
        Tables.lineitem(s, dir).createOrReplaceTempView("q21_lineitem")
        Tables.orders(s, dir).createOrReplaceTempView("q21_orders")
        Tables.nation(s, dir).createOrReplaceTempView("q21_nation")
        s.sql(
          """SELECT s_name, count(*) AS numwait
             FROM q21_supplier
               JOIN q21_lineitem l1 ON s_suppkey = l1.l_suppkey
               JOIN q21_orders ON o_orderkey = l1.l_orderkey
               JOIN q21_nation ON s_nationkey = n_nationkey
             WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
               AND n_regionkey = 2
               AND EXISTS (SELECT 1 FROM q21_lineitem l2
                           WHERE l2.l_orderkey = l1.l_orderkey
                             AND l2.l_suppkey <> l1.l_suppkey)
               AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
                               WHERE l3.l_orderkey = l1.l_orderkey
                                 AND l3.l_suppkey <> l1.l_suppkey
                                 AND l3.l_returnflag = 'R')
             GROUP BY s_name""")
      })
  )
}
