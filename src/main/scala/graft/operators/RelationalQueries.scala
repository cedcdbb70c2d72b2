package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Layer-2 relational operator surface (SURVEY.md §2B): scans, projection/
  * filter, the full join family, aggregations (incl. rollup/cube/grouping
  * sets), window functions, sort/top-k and set operations — all pure
  * DataFrame API so Catalyst supplies pushdown, pruning, join selection, AQE
  * and whole-stage codegen.
  *
  * The reference (jsam/shardpack) has no relational operators at all — its
  * closest analogues are keyed lookup (`/root/reference/src/bucket.rs:147-169`)
  * and the spec's multi-shard key-aligned join convention
  * (`/root/reference/docs/draft.md:201-211`); this module supplies the query
  * surface the north star requires over those tables.
  *
  * Determinism: every query ends in a total ORDER BY; money arithmetic runs in
  * exact DECIMAL space (see [[graft.Tables.dsum]]) so Spark and DuckDB agree
  * bit-for-bit on DOUBLE outputs regardless of aggregation order.
  */
object RelationalQueries {
  import Tables._

  /** DECIMAL(10,2) image for multi-factor products — keeps the widest product
    * chain (price × (1-disc) × (1+tax)) within DECIMAL(38) in BOTH engines so
    * neither ever rounds.
    */
  private def dec10(c: Column): Column = c.cast(DecimalType(10, 2))
  private val one10 = lit(1).cast(DecimalType(10, 2))

  /** sql_q3's single source of truth — run verbatim by BOTH Spark and the
    * DuckDB oracle (ANSI subset both engines parse identically).
    */
  private val Q3Sql =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
      |          (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-03-15'
      |  AND l_shipdate > TIMESTAMP '1997-03-15'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin

  // TPC-H Q5-shaped: the 6-way snowflake join (3 big-table equi-joins +
  // 3 broadcast dims) that exercises Catalyst's join reorder + AQE. The
  // revenue sum uses the Q3 DECIMAL-product pattern (exact decimal sum,
  // one cast to double); ORDER BY (revenue DESC, n_name) is total.
  private val Q5Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
      |          (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // TPC-H Q18-shaped: large-volume orders — the HAVING-subquery + 3-way
  // join shape. The semi-join side is a grouped sum over the fact table
  // (map-side partial agg, one shuffle on l_orderkey), and the outer
  // aggregate re-groups the same key, so AQE can reuse the exchange.
  // ORDER BY (o_totalprice DESC, o_orderkey) is total: totalprice is a
  // STORED double (no computed-float ordering) and orderkey is unique.
  private val Q18Sql =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // TPC-H Q6-shaped: the pure scan-side query — every predicate (date
  // range, discount band, quantity cap) pushes into the parquet scan and
  // the single global sum is one partial-agg + one 1-row exchange; at
  // 100 TB the cost is I/O on the pruned row groups, nothing else. The
  // product sum follows the Q3/Q5 DECIMAL pattern (exact decimal product
  // sum, ONE cast to double).
  private val Q6Sql =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
      |          CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // TPC-H Q10-shaped: returned-item revenue per customer — fact×fact join
  // (orders⋈lineitem on orderkey) with a broadcastable customer/nation
  // tail, grouped on the customer tuple, top-20 by revenue. ORDER BY
  // (revenue DESC, c_custkey) is total: revenue is an exact decimal sum
  // cast once to double (bit-identical across engines) and c_custkey is
  // unique.
  private val Q10Sql =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
      |          (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // TPC-H Q4-shaped: priority count of orders with at least one returned
  // line — the canonical EXISTS decorrelation. Catalyst plans the subquery
  // as a LEFT SEMI hash join on orderkey (no row multiplication, no
  // distinct needed), so the fact×fact touch is one shuffle and the
  // output is vocabulary-sized. count(*) is BIGINT in both engines.
  private val Q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // TPC-H Q14-shaped: promo revenue share. Both sums run exact in DECIMAL
  // and cast to DOUBLE separately; the share is ONE double multiply + ONE
  // double divide on those bit-identical operands — never a decimal
  // division, whose scale/rounding rules differ between engines.
  private val Q14Sql =
    """WITH r AS (SELECT
      |    CAST(SUM(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(l_extendedprice AS DECIMAL(10,2)) *
      |             (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))
      |        ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE) AS promo_revenue,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
      |        (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS total_revenue
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-02-01')
      |SELECT promo_revenue, total_revenue,
      |  CAST(100 AS DOUBLE) * promo_revenue / total_revenue AS promo_pct
      |FROM r""".stripMargin

  // TPC-H Q19-shaped: disjunctive OR-of-ANDs over both join sides — the
  // pushdown stressor. Spark splits the disjunction into per-side
  // residuals: the p_size/p_brand arm prunes the part scan and the
  // l_quantity bound reaches the lineitem scan, so the hash join sees
  // pre-filtered inputs instead of evaluating the whole predicate
  // post-join. Single-row output, Q3 DECIMAL pattern.
  private val Q19Sql =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
      |      (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
      |       AND l_quantity >= 10 AND l_quantity <= 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
      |       AND l_quantity >= 20 AND l_quantity <= 40)""".stripMargin

  // TPC-H Q7-shaped: bilateral trade volume — the two-sided dimension
  // filter (nation pair in either direction) with nation joined TWICE
  // under different roles. Both nation sides broadcast; the
  // supplier⋈lineitem⋈orders⋈customer chain is the only shuffle work.
  // year() returns INT in Spark and BIGINT in DuckDB → explicit CAST.
  private val Q7Sql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(vol) AS DOUBLE) AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(10,2)) *
      |      (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2))) AS vol
      |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) v
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // TPC-H Q15-shaped: top supplier by period revenue — an aggregate CTE
  // consumed twice (join + scalar-subquery max). Catalyst dedups the two
  // reads where beneficial; the double-equality against the max is safe
  // because both sides are THE SAME exact-decimal-sum-cast-once value.
  private val Q15Sql =
    """WITH rev AS (SELECT l_suppkey AS supplier_no,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
      |        (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN rev ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // TPC-H Q22-shaped: high-balance LAPSED customers — scalar subquery
  // (global average) + NOT EXISTS anti join + rollup. "Lapsed" = no order
  // since 2000 (every generated customer has SOME order, so the classic
  // no-orders-at-all predicate is vacuous here; the dated variant keeps
  // the anti join selective). The average is sum/count in ONE double
  // division (never decimal AVG, whose result scale differs between
  // engines).
  private val Q22Sql =
    """WITH a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
      |      / count(*) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_nationkey, count(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer, a
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // TPC-H Q8-shaped: national market share — the 8-way snowflake with a
  // double role for nation (customer side routes through region, supplier
  // side names the share's nation). Volume is summed in exact integer
  // units via the agg_group sum_disc_price pattern (cents × pct as
  // DECIMAL(38,0)); the share is ONE division of two correctly-rounded
  // doubles, identical in both engines. EXTRACT(year) is cast to INT
  // because DuckDB's EXTRACT returns BIGINT where Spark returns INT.
  // 'NATION_1' / 'AMERICA' / 'ECONOMY' are this dataset's value domain
  // (TESTDATA.md) standing in for the spec's BRAZIL/AMERICA/part-type.
  private val Q8Sql =
    """WITH v AS (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(10,2)) * 100 AS BIGINT) *
      |         (100 - CAST(CAST(l_discount AS DECIMAL(10,2)) * 100 AS BIGINT)) AS DECIMAL(38,0)) AS vol,
      |    n2.n_name AS nation
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT o_year,
      |  CAST(SUM(CASE WHEN nation = 'NATION_1' THEN vol ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE)
      |    / CAST(SUM(vol) AS DOUBLE) AS mkt_share
      |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin

  // TPC-H Q13-shaped: the orders-per-customer distribution. The LEFT JOIN
  // keeps zero-order customers (the distribution's head); the extra ON
  // predicate stands in for the spec's comment NOT LIKE filter
  // (o_orderpriority replaces the absent o_comment column). All-integer —
  // no float determinism surface at all.
  private val Q13Sql =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // TPC-H Q17-shaped: small-quantity-order revenue, the classic
  // correlated-scalar-subquery-with-aggregate plan (Catalyst rewrites it
  // to an aggregate + join on l_partkey). The per-part average is the
  // exact-decimal-sum / count davg form written out in SQL so both
  // engines compute the identical double threshold; 0.2 is cast to
  // DOUBLE explicitly (both engines parse the bare literal as DECIMAL).
  // p_brand/p_type stand in for the spec's brand/container predicate.
  private val Q17Sql =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#13' AND p_type = 'ECONOMY'
      |  AND l_quantity < (
      |    SELECT CAST(0.2 AS DOUBLE) *
      |      (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l2.l_quantity))
      |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  // ───── derived TPC-H extension tables (q2/q9/q11/q12/q16/q20/q21) ─────
  //
  // The driver schema omits partsupp and lineitem's shipmode/commitdate/
  // receiptdate. Rather than leave 7 of 22 TPC-H shapes unregistered, the
  // missing relations are DERIVED deterministically from the tables that
  // exist, as CTEs inside the same shared SQL text both engines run
  // verbatim — integer-hash columns and exact DECIMAL costs, so the
  // derivation is bit-identical in Spark and DuckDB and the hash gate
  // stays meaningful. Shapes (join topology, correlated subqueries,
  // EXISTS/NOT EXISTS, HAVING-vs-total) are the TPC-H originals; literals
  // are adapted to the driver's value domains (NATION_*, single-word
  // p_type). Dates: commit/receipt are SHIPDATE OFFSETS (cd_off/rd_off,
  // derived integers), so date comparisons become exact integer
  // comparisons — q12's "commit < receipt AND ship < commit" is
  // "cd_off < rd_off AND cd_off > 0", no engine date arithmetic needed.
  //
  // partsupp: 4 supplier slots per part (suppkey by multiplicative hash
  // mod supplier-count — coprime strides keep the 4 slots distinct at the
  // driver's 100/500/1000-supplier scales), availqty in 1..9999,
  // supplycost an exact DECIMAL(10,2) in 0.00..99.99.
  private val PartsuppCte =
    """g AS (SELECT 0 AS k UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3),
      |partsupp AS (
      |  SELECT p_partkey AS ps_partkey,
      |    (p_partkey * 13 + g.k * 17) % (SELECT COUNT(*) FROM supplier) + 1 AS ps_suppkey,
      |    (p_partkey * 31 + g.k * 7) % 9999 + 1 AS ps_availqty,
      |    CAST((p_partkey * 53 + g.k * 11) % 10000 * 0.01 AS DECIMAL(10,2)) AS ps_supplycost
      |  FROM part, g)""".stripMargin

  private val LineitemExtCte =
    """lx AS (
      |  SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice,
      |    l_discount, l_shipdate,
      |    (l_orderkey * 3 + l_linenumber * 5) % 61 - 30 AS cd_off,
      |    (l_orderkey * 7 + l_linenumber * 11) % 30 + 1 AS rd_off,
      |    CASE (l_orderkey * 11 + l_linenumber * 17) % 7
      |      WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
      |      WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
      |      ELSE 'FOB' END AS l_shipmode
      |  FROM lineitem)""".stripMargin

  private val SupplierExtCte =
    """sx AS (
      |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
      |    CASE WHEN s_suppkey % 20 = 0 THEN 'Customer Complaints noted'
      |         ELSE 'no complaints on file' END AS s_comment
      |  FROM supplier)""".stripMargin

  // TPC-H Q2-shaped: min-cost supplier per part in a region — the
  // correlated-MIN scalar subquery over the same 4-way dim join as the
  // outer query. Catalyst decorrelates it into an aggregate + re-join;
  // both sides' partsupp scans prune to the region's suppliers.
  private val Q2Sql =
    s"""WITH $PartsuppCte
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       |  CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
       |FROM part JOIN partsupp ON p_partkey = ps_partkey
       |JOIN supplier ON s_suppkey = ps_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
       |  AND ps_supplycost = (
       |    SELECT MIN(ps2.ps_supplycost) FROM partsupp ps2
       |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
       |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
       |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
       |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin

  // TPC-H Q9-shaped: product-line profit by nation × year. The profit
  // expression follows the Q3 DECIMAL pattern (exact decimal products and
  // difference, ONE cast to double after the sum).
  private val Q9Sql =
    s"""WITH $PartsuppCte
       |SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
       |       (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2))) -
       |       ps_supplycost * CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_profit
       |FROM part JOIN lineitem ON p_partkey = l_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY 1, 2
       |ORDER BY nation, o_year DESC""".stripMargin

  // TPC-H Q11-shaped: important stock — grouped value vs the GLOBAL
  // aggregate, the HAVING-against-total shape. The total is a 1-row CTE
  // cross-joined in (broadcast), not a repeated subquery. The official
  // fixed fraction (0.0001/SF) is hand-scaled per SF; here the threshold
  // is scale-FREE — keep parts above 2× the mean part value
  // (SUM(v)·np > t·2, multiplication only: decimal division scale rules
  // differ between engines, exact products do not) — so the query stays
  // selective at every driver scale (106 rows at sf0.01, 4360 at sf1)
  // instead of emptying as the total grows.
  private val Q11Sql =
    s"""WITH $PartsuppCte,
       |val AS (
       |  SELECT ps_partkey, ps_supplycost * CAST(ps_availqty AS DECIMAL(10,2)) AS v
       |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name = 'NATION_9'),
       |tot AS (SELECT CAST(SUM(v) AS DECIMAL(28,2)) AS t,
       |               COUNT(DISTINCT ps_partkey) AS np FROM val)
       |SELECT ps_partkey, CAST(SUM(v) AS DOUBLE) AS value
       |FROM val, tot
       |GROUP BY ps_partkey, t, np
       |HAVING CAST(SUM(v) AS DECIMAL(18,2)) * np > t * 2
       |ORDER BY value DESC, ps_partkey""".stripMargin

  // TPC-H Q12-shaped: shipmode service levels — the two-CASE conditional
  // aggregation over an orders⋈lineitem join; the date ordering predicates
  // are exact integer offset comparisons (see LineitemExtCte).
  private val Q12Sql =
    s"""WITH $LineitemExtCte
       |SELECT l_shipmode,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       |FROM orders JOIN lx ON o_orderkey = l_orderkey
       |WHERE l_shipmode IN ('MAIL', 'SHIP')
       |  AND cd_off < rd_off AND cd_off > 0
       |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |GROUP BY l_shipmode
       |ORDER BY l_shipmode""".stripMargin

  // TPC-H Q16-shaped: supplier count by part attributes with a NOT-IN
  // anti-join on the complaint suppliers (derived s_comment).
  private val Q16Sql =
    s"""WITH $PartsuppCte, $SupplierExtCte
       |SELECT p_brand, p_type, p_size,
       |  CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
       |FROM partsupp JOIN part ON p_partkey = ps_partkey
       |WHERE p_brand <> 'Brand#15' AND p_type <> 'MEDIUM'
       |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
       |  AND ps_suppkey NOT IN (
       |    SELECT s_suppkey FROM sx WHERE s_comment LIKE '%Customer%Complaints%')
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // TPC-H Q20-shaped: the nested IN + correlated-aggregate excess-stock
  // probe. `availqty * 2 > SUM(qty)` keeps the half-of-shipped threshold
  // in exact integer×decimal arithmetic (no 0.5 double factor).
  private val Q20Sql =
    s"""WITH $PartsuppCte
       |SELECT s_name, s_suppkey
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |WHERE n_name = 'NATION_9'
       |  AND s_suppkey IN (
       |    SELECT ps_suppkey FROM partsupp
       |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
       |      AND CAST(ps_availqty AS DECIMAL(18,2)) * 2 > (
       |        SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem
       |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |          AND l_shipdate >= TIMESTAMP '1996-01-01'
       |          AND l_shipdate < TIMESTAMP '1997-01-01'))
       |ORDER BY s_name, s_suppkey""".stripMargin

  // TPC-H Q21-shaped: suppliers who kept orders waiting — the EXISTS /
  // NOT-EXISTS pair over the same fact CTE with non-equal supplier
  // correlation, the hardest decorrelation case in the suite. "Receipt
  // late vs commit" is rd_off > cd_off (exact integers).
  private val Q21Sql =
    s"""WITH $LineitemExtCte
       |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       |FROM supplier
       |JOIN lx l1 ON s_suppkey = l1.l_suppkey
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE o_orderstatus = 'F' AND l1.rd_off > l1.cd_off
       |  AND n_name = 'NATION_6'
       |  AND EXISTS (SELECT 1 FROM lx l2 WHERE l2.l_orderkey = l1.l_orderkey
       |              AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lx l3 WHERE l3.l_orderkey = l1.l_orderkey
       |                  AND l3.l_suppkey <> l1.l_suppkey AND l3.rd_off > l3.cd_off)
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  val queries: Seq[Q] = Seq(

    // ───────────────────────── scans ─────────────────────────
    Q("scan_parquet",
      """SELECT count(*) AS cnt, CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |       min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
        |       count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin) { (s, d) =>
      lineitem(s, d).agg(
        count(lit(1)).as("cnt"),
        sum($"l_orderkey").cast(LongType).as("sum_okey"),
        min($"l_orderkey").as("min_okey"),
        max($"l_orderkey").as("max_okey"),
        countDistinct($"l_orderkey").as("n_orders"))
    },

    // ─────────────────── projection / filter ───────────────────
    // TPC-H Q6-shaped: one scan, conjunctive predicate, one aggregate.
    // Predicate + column pruning reach the parquet scan (PushedFilters).
    Q("project_filter",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
        |                CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
          $"l_shipdate" < lit("1998-01-01").cast(TimestampType) &&
          $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        .agg(
          sum(dec10($"l_extendedprice") * dec10($"l_discount"))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("cnt"))
    },

    // Keyed point lookup — the reference's `Bucket::read(key)`
    // (/root/reference/src/bucket.rs:147-169) re-expressed as a pushed-down
    // key-equality scan.
    Q("point_lookup",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey = 100""".stripMargin) { (s, d) =>
      orders(s, d).filter($"o_orderkey" === 100)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderdate", $"o_orderpriority")
    },

    // ───────────────────────── joins ─────────────────────────
    Q("join_inner",
      """SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d).join(customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"o_totalprice", $"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"o_orderkey")
    },

    // TPC-H Q5-shaped 5-way join; dims broadcast automatically, big fact
    // join shuffles on the key. Revenue per nation for ASIA, 1997.
    Q("join_multiway",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
        |          (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .join(orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(customer(s, d), $"o_custkey" === $"c_custkey")
        .join(nation(s, d), $"c_nationkey" === $"n_nationkey")
        .join(region(s, d), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA" &&
          $"o_orderdate" >= lit("1997-01-01").cast(TimestampType) &&
          $"o_orderdate" < lit("1998-01-01").cast(TimestampType))
        .groupBy($"n_name")
        .agg(
          sum(dec10($"l_extendedprice") * (one10 - dec10($"l_discount")))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy($"n_name")
    },

    Q("join_left",
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).join(orders(s, d), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey", $"c_name")
        .agg(
          count($"o_orderkey").as("n_orders"),
          coalesce(dsum($"o_totalprice"), lit(0.0)).as("total_spend"))
        .orderBy($"c_custkey")
    },

    Q("join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d), $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name").orderBy($"c_custkey")
    },

    // Anti join against the F-status slice so the result is non-trivial
    // (every customer has *some* order in the test data).
    Q("join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(orders(s, d).filter($"o_orderstatus" === "F"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name").orderBy($"c_custkey")
    },

    // Explicit broadcast hint on the dimension — at 100 TB the fact side
    // never shuffles for this join.
    Q("join_broadcast",
      """SELECT n_name, count(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_customers"), dsum($"c_acctbal").as("total_acctbal"))
        .orderBy($"n_name")
    },

    // TPC-H Q9-shaped star join over the two otherwise-uncovered dims
    // (supplier, part): revenue by supplier nation × order year for one part
    // family. Both dims broadcast; the fact side shuffles once for the agg.
    Q("join_star",
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) *
        |          (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN part     ON l_partkey = p_partkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, o_year ORDER BY n_name, o_year""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .join(broadcast(supplier(s, d)), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(part(s, d).filter($"p_name".like("%red%"))),
          $"l_partkey" === $"p_partkey")
        .join(orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", year($"o_orderdate").cast(IntegerType).as("o_year"))
        .agg(
          sum(dec10($"l_extendedprice") * (one10 - dec10($"l_discount")))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy($"n_name", $"o_year")
    },

    // Explicit cartesian of two bounded dims (25×5) — the one place a
    // cross join is the right plan; anything larger pairs via keys.
    Q("join_cross",
      """SELECT n_name, r_name FROM nation CROSS JOIN region
        |ORDER BY n_name, r_name""".stripMargin) { (s, d) =>
      nation(s, d).select($"n_name")
        .crossJoin(region(s, d).select($"r_name"))
        .orderBy($"n_name", $"r_name")
    },

    // Non-equi band join: successor events within 5 minutes, same user.
    // INTERVAL-BUCKETED: the join key is (user_id, floor(ts/5min)) with the
    // probe side exploded into its own bucket and the next one, so the band
    // predicate becomes a residual over candidates that are already
    // time-local. Why it matters at scale: an equi-join on user_id alone is
    // all-pairs WITHIN a user — one hot user (a bot, a load tester) with 1M
    // events costs 10^12 residual evaluations in a single task. Bucketing
    // caps candidates per a-row at the events of one user inside two 5-min
    // buckets, which is bounded by event rate, not by history length. The
    // 2× key duplication (probe side only — keys, not payloads) is the
    // whole price. Same bucketing trick as dedup_substring's span hashes.
    // Correctness: b_ts ∈ (a_ts, a_ts+300s] ⟹ floor(b/300) ∈
    // {floor(a/300), floor(a/300)+1}, so the two-bucket explode loses
    // nothing and the residual removes the rest.
    Q("join_theta_range",
      """SELECT a.user_id AS user_id, count(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts > a.ts
        | AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |GROUP BY a.user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val e = events(s, d)
      def bucket(ts: Column): Column = floor(unix_timestamp(ts) / 300L)
      val a = e.select($"user_id", $"ts".as("a_ts"),
        explode(array(bucket($"ts"), bucket($"ts") + 1L)).as("bkt"))
      val b = e.select($"user_id".as("b_user"), $"ts".as("b_ts"),
        bucket($"ts").as("b_bkt"))
      a.join(b, $"user_id" === $"b_user" && $"bkt" === $"b_bkt" &&
          $"b_ts" > $"a_ts" && $"b_ts" <= $"a_ts" + expr("INTERVAL 5 MINUTES"))
        .groupBy($"user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy($"user_id")
    },

    // As-of join: for each purchase, the latest click by the same user at or
    // before it. Implemented scalably as a single sorted pass (union + running
    // last_value with IGNORE NULLS) — no pairwise join, one shuffle on
    // user_id. (/root/reference/docs/draft.md:201-211 is the reference's only
    // join-like concept; as-of is the north-star extension.)
    Q("join_asof",
      """SELECT event_id, user_id, matched_click FROM (
        |  SELECT event_id, user_id, is_p,
        |    last_value(click_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_click
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN event_type = 'click' THEN event_id END AS click_id,
        |      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        |    FROM events WHERE event_type IN ('click', 'purchase')) u
        |) WHERE is_p = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"user_id", $"ts", $"event_id",
          when($"event_type" === "click", $"event_id").as("click_id"),
          when($"event_type" === "purchase", lit(1)).otherwise(0).as("is_p"))
        .withColumn("matched_click", last($"click_id", ignoreNulls = true).over(w))
        .filter($"is_p" === 1)
        .select($"event_id", $"user_id", $"matched_click")
        .orderBy($"event_id")
    },

    // Tolerance-bounded as-of join (the market-data shape: a match expires
    // after 30 minutes). Same single sorted pass as join_asof — the
    // tolerance is a pure post-window filter on exact epoch-µs integers,
    // so the no-pairwise-join scaling argument is unchanged.
    Q("join_asof_tolerance",
      """SELECT event_id, user_id,
        |  CASE WHEN epoch_us(ts) - epoch_us(click_ts) <= 1800000000
        |       THEN matched_click END AS matched_click
        |FROM (
        |  SELECT event_id, user_id, ts, is_p,
        |    last_value(click_id IGNORE NULLS) OVER w AS matched_click,
        |    last_value(CASE WHEN click_id IS NOT NULL THEN ts END IGNORE NULLS)
        |      OVER w AS click_ts
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN event_type = 'click' THEN event_id END AS click_id,
        |      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        |    FROM events WHERE event_type IN ('click', 'purchase')) u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |) WHERE is_p = 1 ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"user_id", $"ts", $"event_id",
          when($"event_type" === "click", $"event_id").as("click_id"),
          when($"event_type" === "purchase", lit(1)).otherwise(0).as("is_p"))
        .withColumn("matched_click", last($"click_id", ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when($"click_id".isNotNull, $"ts"), ignoreNulls = true).over(w))
        .filter($"is_p" === 1)
        .select($"event_id", $"user_id",
          when(unix_micros($"ts") - unix_micros($"click_ts") <= 1800000000L,
            $"matched_click").as("matched_click"))
        .orderBy($"event_id")
    },

    // TPC-H Q3-shaped, implemented ENTIRELY through spark.sql over temp
    // views — the SQL entry point is first-class next to the DataFrame API.
    // ONE shared SQL text is both the Spark query and the DuckDB oracle:
    // the hash match literally proves both engines agree on the statement.
    Q("sql_q3", Q3Sql) { (s, d) =>
      customer(s, d).createOrReplaceTempView("customer")
      orders(s, d).createOrReplaceTempView("orders")
      lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(Q3Sql)
    },

    Q("sql_q5", Q5Sql) { (s, d) =>
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q5Sql)
    },

    Q("sql_q18", Q18Sql) { (s, d) =>
      Seq("customer", "orders", "lineitem")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q18Sql)
    },

    Q("sql_q6", Q6Sql) { (s, d) =>
      lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql(Q6Sql)
    },

    Q("sql_q10", Q10Sql) { (s, d) =>
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q10Sql)
    },

    Q("sql_q4", Q4Sql) { (s, d) =>
      Seq("orders", "lineitem")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q4Sql)
    },

    Q("sql_q14", Q14Sql) { (s, d) =>
      Seq("lineitem", "part")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q14Sql)
    },

    Q("sql_q19", Q19Sql) { (s, d) =>
      Seq("lineitem", "part")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q19Sql)
    },

    Q("sql_q7", Q7Sql) { (s, d) =>
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q7Sql)
    },

    Q("sql_q15", Q15Sql) { (s, d) =>
      Seq("lineitem", "supplier")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q15Sql)
    },

    Q("sql_q22", Q22Sql) { (s, d) =>
      Seq("customer", "orders")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q22Sql)
    },

    Q("sql_q8", Q8Sql) { (s, d) =>
      Seq("part", "lineitem", "supplier", "orders", "customer", "nation",
        "region").foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q8Sql)
    },

    Q("sql_q13", Q13Sql) { (s, d) =>
      Seq("customer", "orders")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q13Sql)
    },

    Q("sql_q17", Q17Sql) { (s, d) =>
      Seq("lineitem", "part")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q17Sql)
    },

    Q("sql_q2", Q2Sql) { (s, d) =>
      Seq("part", "supplier", "nation", "region")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q2Sql)
    },

    Q("sql_q9", Q9Sql) { (s, d) =>
      Seq("part", "lineitem", "supplier", "orders", "nation")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q9Sql)
    },

    Q("sql_q11", Q11Sql) { (s, d) =>
      Seq("part", "supplier", "nation")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q11Sql)
    },

    Q("sql_q12", Q12Sql) { (s, d) =>
      Seq("orders", "lineitem")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q12Sql)
    },

    Q("sql_q16", Q16Sql) { (s, d) =>
      Seq("part", "supplier")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q16Sql)
    },

    Q("sql_q20", Q20Sql) { (s, d) =>
      Seq("part", "supplier", "lineitem", "nation")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q20Sql)
    },

    Q("sql_q21", Q21Sql) { (s, d) =>
      Seq("supplier", "lineitem", "orders", "nation")
        .foreach(t => Tables.t(s, d, t).createOrReplaceTempView(t))
      s.sql(Q21Sql)
    },

    // ───────────────────── aggregations ─────────────────────
    // TPC-H Q1-shaped: partial (map-side) agg + final agg over 2 shuffle keys.
    Q("agg_group",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |          (100 - CAST(CAST(l_discount AS DECIMAL(10,2)) * 100 AS BIGINT))) AS DOUBLE)
        |    / 10000.0 AS sum_disc_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |          (100 - CAST(CAST(l_discount AS DECIMAL(10,2)) * 100 AS BIGINT)) *
        |          (100 + CAST(CAST(l_tax AS DECIMAL(10,2)) * 100 AS BIGINT))) AS DOUBLE)
        |    / 1000000.0 AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // sum_disc_price/sum_charge in exact INTEGER units (cents × pct ×
      // pct), summed as DECIMAL(38,0) — exact and overflow-safe — with ONE
      // double division at the end. Per-row products are ~1e11, so a raw
      // BIGINT sum wraps silently around 9e7 rows/group (sf~60-100) while
      // DuckDB promotes SUM(BIGINT) to INT128; DECIMAL(38,0) matches that
      // headroom (1e38 » 1e23 at 1e12 rows). Scale-0 decimals avoid the
      // earlier engine divergence (DuckDB's int128→double then ÷10^scale
      // double-rounds where Spark's BigDecimal→double rounds once — found
      // at sf1 where sum_charge ≈ 5.2e10 · 10^6 units): an exact integer
      // sum casts to double correctly-rounded in both engines, and the
      // single explicit division of identical operands is too.
      val extC = (dec($"l_extendedprice", 2) * 100).cast(LongType)
      val disc100 = lit(100L) - (dec($"l_discount", 2) * 100).cast(LongType)
      val tax100 = lit(100L) + (dec($"l_tax", 2) * 100).cast(LongType)
      val big = DecimalType(38, 0)
      lineitem(s, d).groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          (sum((extC * disc100).cast(big)).cast(DoubleType) / 10000.0).as("sum_disc_price"),
          (sum((extC * disc100 * tax100).cast(big)).cast(DoubleType) / 1000000.0).as("sum_charge"),
          davg($"l_quantity").as("avg_qty"),
          davg($"l_extendedprice").as("avg_price"),
          davg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    Q("agg_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag")
    },

    // HLL++ sketch with a DRIVER-CHECKABLE contract: the estimate itself
    // is engine-specific (DuckDB cannot replay Spark's HLL++), so the
    // checked surface is (exact count, estimate-within-envelope boolean).
    // The `*_ok` columns are computed from the sketch on the Spark side
    // and pinned `true` in the oracle — a sketch drifting past 4×rsd
    // flips them and fails the hash compare, which rows-only could never
    // catch. Robustly deterministic: HLL++ is order-insensitive, and the
    // booleans hold under the estimator's guarantee regardless of
    // partitioning. ApproxDistinctSpec still bounds the raw estimates.
    Q("agg_approx_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  true AS parts_ok, true AS orders_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val tol = 4 * 0.05 // 4× the default HLL++ rsd
      def ok(approx: Column, exact: Column): Column =
        abs(approx - exact).cast(DoubleType) <= exact.cast(DoubleType) * tol
      lineitem(s, d).groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("exact_parts"),
          countDistinct($"l_orderkey").as("exact_orders"),
          approx_count_distinct($"l_partkey").as("ap"),
          approx_count_distinct($"l_orderkey").as("ao"))
        .select($"l_returnflag", $"exact_parts", $"exact_orders",
          ok($"ap", $"exact_parts").as("parts_ok"),
          ok($"ao", $"exact_orders").as("orders_ok"))
        .orderBy($"l_returnflag")
    },

    // Two-level sketch MERGE — the 100 TB re-aggregation pattern: build
    // DataSketches HLL sketches at a fine grain (returnflag × shipmode),
    // then union them to the coarse grain WITHOUT touching raw rows again.
    // On a real warehouse the fine-grained sketch table is a materialized
    // rollup: any coarser distinct-count query becomes a cheap
    // vocabulary-sized merge instead of a fact-table rescan. The merge is
    // register-wise max so accuracy survives re-aggregation (the estimate
    // differs slightly from a direct one-level sketch because union
    // invalidates the HIP estimator — ApproxDistinctSpec bounds both
    // against exact). Sketch internals are engine-specific, so — like
    // agg_approx_distinct — the checked surface is (exact count, sketch
    // count, merged-estimate-within-envelope boolean), with the oracle
    // pinning `union_ok = true`: a merge bug that breaks the composite
    // estimator now fails the hash compare.
    Q("agg_hll_union",
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        |  count(DISTINCT date_trunc('month', l_shipdate)) AS n_sketches,
        |  true AS union_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val fine = lineitem(s, d)
        .groupBy($"l_returnflag", date_trunc("month", $"l_shipdate").as("ship_month"))
        .agg(hll_sketch_agg($"l_orderkey").as("sk"))
      val merged = fine.groupBy($"l_returnflag")
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_orders"),
          count(lit(1)).as("n_sketches"))
      val exact = lineitem(s, d).groupBy($"l_returnflag")
        .agg(countDistinct($"l_orderkey").as("exact_orders"))
      // lgK=12 ≈ 1.6% rse; 5% leaves no flake room (ApproxDistinctSpec)
      merged.join(exact, "l_returnflag")
        .select($"l_returnflag", $"exact_orders", $"n_sketches",
          (abs($"est_orders" - $"exact_orders").cast(DoubleType) <=
            $"exact_orders".cast(DoubleType) * 0.05).as("union_ok"))
        .orderBy($"l_returnflag")
    },

    // Exact percentiles with linear interpolation. Quantities are scaled to
    // exact ints and the quantile fractions are exact binary (k/4), so the
    // interpolation a + (b−a)·frac is bit-identical in Spark (`percentile`)
    // and DuckDB (`quantile_cont`). At 100 TB swap `percentile` for
    // `percentile_approx` (t-digest sketch, mergeable map-side).
    Q("agg_percentile",
      """SELECT l_returnflag,
        |  quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.25) AS p25,
        |  quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.5)  AS p50,
        |  quantile_cont(CAST(round(l_quantity*100) AS BIGINT), 0.75) AS p75,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      lineitem(s, d)
        // round BEFORE the int cast: DuckDB rounds double→BIGINT, Spark
        // truncates — after round() both see the same exact integer
        .withColumn("q100", round($"l_quantity" * 100).cast(LongType))
        .groupBy($"l_returnflag")
        .agg(
          percentile($"q100", lit(0.25)).as("p25"),
          percentile($"q100", lit(0.5)).as("p50"),
          percentile($"q100", lit(0.75)).as("p75"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag")
    },

    // Argmax/argmin aggregates: the per-group extremum carrier row without
    // a self-join or window (one shuffle, partial-aggregable).
    Q("agg_arg_max",
      """SELECT o_orderpriority,
        |  arg_max(o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT)*10000000000 + o_orderkey) AS max_price_key,
        |  arg_min(o_orderkey,
        |    CAST(round(o_totalprice*100) AS BIGINT)*10000000000 - o_orderkey) AS min_price_key,
        |  CAST(max(o_totalprice) AS DOUBLE) AS max_price,
        |  CAST(min(o_totalprice) AS DOUBLE) AS min_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // total ordering key folds the key-tiebreak into one exact BIGINT
      // (price cents ×1e10 ± key): max by (price, key), min by (price, -key)
      // — DuckDB's arg_max/arg_min take only scalar ordering keys, so struct
      // ordering can't be mirrored. Domain headroom: cents ≤ ~6e7 (TPC-H
      // totalprice cap) so cents×1e10 ≤ 6e17 < 2^63, and keys stay below the
      // 1e10 multiplier through ~sf1600 (orderkey ≈ 6e6·sf) — neither term
      // bleeds into the other at any scale this engine targets.
      val cents = round($"o_totalprice" * 100).cast(LongType)
      orders(s, d).groupBy($"o_orderpriority")
        .agg(
          max_by($"o_orderkey", cents * 10000000000L + $"o_orderkey").as("max_price_key"),
          min_by($"o_orderkey", cents * 10000000000L - $"o_orderkey").as("min_price_key"),
          max($"o_totalprice").cast(DoubleType).as("max_price"),
          min($"o_totalprice").cast(DoubleType).as("min_price"))
        .orderBy($"o_orderpriority")
    },

    Q("agg_rollup",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d).rollup($"l_returnflag", $"l_linestatus")
        .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("cnt"),
          grouping($"l_returnflag").cast(IntegerType).as("g_rf"),
          grouping($"l_linestatus").cast(IntegerType).as("g_ls"))
        .select($"l_returnflag", $"l_linestatus", $"g_rf", $"g_ls", $"sum_qty", $"cnt")
        .orderBy($"g_rf", $"g_ls", $"l_returnflag", $"l_linestatus")
    },

    Q("agg_cube",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d).cube($"l_returnflag", $"l_linestatus")
        .agg(dsum($"l_extendedprice").as("sum_price"), count(lit(1)).as("cnt"),
          grouping($"l_returnflag").cast(IntegerType).as("g_rf"),
          grouping($"l_linestatus").cast(IntegerType).as("g_ls"))
        .select($"l_returnflag", $"l_linestatus", $"g_rf", $"g_ls", $"sum_price", $"cnt")
        .orderBy($"g_rf", $"g_ls", $"l_returnflag", $"l_linestatus")
    },

    Q("agg_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq($"l_returnflag"), Seq($"l_linestatus"), Seq.empty[Column]),
          $"l_returnflag", $"l_linestatus")
        .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("cnt"),
          grouping($"l_returnflag").cast(IntegerType).as("g_rf"),
          grouping($"l_linestatus").cast(IntegerType).as("g_ls"))
        .select($"l_returnflag", $"l_linestatus", $"g_rf", $"g_ls", $"sum_qty", $"cnt")
        .orderBy($"g_rf", $"g_ls", $"l_returnflag", $"l_linestatus")
    },

    // Pivot: long→wide on the 3 return-flag values. Spark plans it as one
    // aggregation with conditional sums — same shape as the CASE mirror, so
    // one shuffle regardless of pivot-column cardinality.
    Q("agg_pivot",
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
        |  CAST(SUM(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
        |  CAST(SUM(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy($"l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum($"l_quantity"))
        .select($"l_linestatus", $"A".as("qty_a"), $"N".as("qty_n"), $"R".as("qty_r"))
        .orderBy($"l_linestatus")
    },

    // Unpivot (melt): wide→long over the two order-money columns; Spark's
    // native Expand node — each input row fans out map-side, no shuffle
    // until the ORDER BY.
    Q("fn_unpivot",
      """SELECT o_orderkey, m, v FROM (
        |  SELECT o_orderkey, 'custkey' AS m, CAST(o_custkey AS DOUBLE) AS v FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'totalprice' AS m, o_totalprice AS v FROM orders)
        |ORDER BY o_orderkey, m""".stripMargin) { (s, d) =>
      orders(s, d)
        .select($"o_orderkey", $"o_custkey".cast(DoubleType).as("custkey"),
          $"o_totalprice".as("totalprice"))
        .unpivot(Array($"o_orderkey"), Array($"custkey", $"totalprice"), "m", "v")
        .orderBy($"o_orderkey", $"m")
    },

    // ──────────────────── window functions ────────────────────
    Q("win_rank",
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(RANK()       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS INT) AS rnk,
        |  CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS INT) AS drnk,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |FROM orders ORDER BY o_orderpriority, rn""".stripMargin) { (s, d) =>
      val wv = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice".desc)
      val wr = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice".desc, $"o_orderkey")
      orders(s, d).select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
          rank().over(wv).as("rnk"),
          dense_rank().over(wv).as("drnk"),
          row_number().over(wr).as("rn"))
        .orderBy($"o_orderpriority", $"rn")
    },

    // Distribution + navigation functions: ntile/percent_rank/cume_dist are
    // exact rank arithmetic (no float accumulation), first/nth_value pin the
    // frame explicitly — all deterministic under the total per-partition
    // order.
    Q("win_distribution",
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  first_value(o_orderkey) OVER wf AS first_key,
        |  nth_value(o_orderkey, 2) OVER wf AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey),
        |       wf AS (PARTITION BY o_orderpriority
        |              ORDER BY o_totalprice DESC, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // rank-family functions require the default RANGE frame; the value
      // navigators get an explicit ROWS frame
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d).select($"o_orderkey", $"o_orderpriority",
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          first($"o_orderkey").over(wf).as("first_key"),
          nth_value($"o_orderkey", 2).over(wf).as("second_key"))
        .orderBy($"o_orderkey")
    },

    Q("win_lag_lead",
      """SELECT event_id, user_id, value,
        |  lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_val,
        |  lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_val,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      events(s, d).select($"event_id", $"user_id", $"value",
          lag($"value", 1).over(w).as("prev_val"),
          lead($"value", 1).over(w).as("next_val"),
          lag($"event_type", 1).over(w).as("prev_type"))
        .orderBy($"event_id")
    },

    Q("win_running_sum",
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d).select($"event_id", $"user_id",
          count(lit(1)).over(w).cast(LongType).as("run_cnt"),
          sum(dec($"value")).over(w).cast(DoubleType).as("run_sum"))
        .orderBy($"event_id")
    },

    Q("win_topk_per_group",
      """SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY c_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      orders(s, d)
        .select($"o_custkey".as("c_custkey"), $"o_orderkey", $"o_totalprice",
          row_number().over(w).as("rn"))
        .filter($"rn" <= 3)
        .orderBy($"c_custkey", $"rn")
    },

    // ─────────────────── sort / limit / top-k ───────────────────
    // Spark plans TakeOrderedAndProject: per-partition top-N, no full sort.
    Q("sort_limit",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      orders(s, d).select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey").limit(100)
    },

    Q("topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin) { (s, d) =>
      lineitem(s, d).select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber").limit(10)
    },

    // ───────────────────── set operations ─────────────────────
    Q("set_union",
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal < 1000
        |ORDER BY k""".stripMargin) { (s, d) =>
      orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey".as("k"))
        .union(customer(s, d).filter($"c_acctbal" < 1000).select($"c_custkey".as("k")))
        .distinct()
        .orderBy($"k")
    },

    Q("set_union_all",
      """SELECT src, k, count(*) AS cnt FROM (
        |  SELECT 'f' AS src, o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'c' AS src, c_custkey AS k FROM customer WHERE c_acctbal < 1000)
        |GROUP BY src, k ORDER BY src, k""".stripMargin) { (s, d) =>
      orders(s, d).filter($"o_orderstatus" === "F")
        .select(lit("f").as("src"), $"o_custkey".as("k"))
        .unionAll(customer(s, d).filter($"c_acctbal" < 1000)
          .select(lit("c").as("src"), $"c_custkey".as("k")))
        .groupBy($"src", $"k").agg(count(lit(1)).as("cnt"))
        .orderBy($"src", $"k")
    },

    Q("set_intersect",
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY k""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      o.filter($"o_orderstatus" === "F").select($"o_custkey".as("k"))
        .intersect(o.filter($"o_orderstatus" === "O").select($"o_custkey".as("k")))
        .orderBy($"k")
    },

    Q("set_except",
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin) { (s, d) =>
      customer(s, d).select($"c_custkey".as("k"))
        .except(orders(s, d).filter($"o_orderstatus" === "F")
          .select($"o_custkey".as("k")))
        .orderBy($"k")
    },

    // Null-safe equality join (`IS NOT DISTINCT FROM` / `<=>`): NULL keys
    // MATCH each other instead of vanishing — the semantics dimension
    // lookups with "unknown" buckets need. Still hash-joinable (null-safe
    // equality is an equi-key to Spark), unlike an OR-of-IS-NULL rewrite.
    Q("join_null_safe",
      """WITH l AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_discount = 0 THEN NULL
        |         ELSE CAST(round(l_discount * 100) AS BIGINT) END AS disc_pct
        |  FROM lineitem),
        |dim AS (
        |  SELECT CAST(NULL AS BIGINT) AS disc_pct, 'none' AS label
        |  UNION ALL SELECT 5, 'mid' UNION ALL SELECT 10, 'high')
        |SELECT l.l_orderkey, l.l_linenumber, dim.label
        |FROM l JOIN dim ON l.disc_pct IS NOT DISTINCT FROM dim.disc_pct
        |ORDER BY l_orderkey, l_linenumber, label""".stripMargin) { (s, d) =>
      val l = lineitem(s, d).select($"l_orderkey", $"l_linenumber",
        when($"l_discount" === 0, lit(null).cast(LongType))
          .otherwise(round($"l_discount" * 100).cast(LongType)).as("disc_pct"))
      val dim = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(null, "none"),
          org.apache.spark.sql.Row(java.lang.Long.valueOf(5L), "mid"),
          org.apache.spark.sql.Row(java.lang.Long.valueOf(10L), "high")),
        StructType(Seq(
          StructField("disc_pct", LongType, nullable = true),
          StructField("label", StringType, nullable = false))))
      l.join(dim, l("disc_pct") <=> dim("disc_pct"))
        .select($"l_orderkey", $"l_linenumber", $"label")
        // label tiebreak: (l_orderkey, l_linenumber) duplicates exist in
        // the generated lineitem with different discounts (sf1 finding)
        .orderBy($"l_orderkey", $"l_linenumber", $"label")
    },

    // Symmetric difference — the membership-mismatch audit (who is in
    // exactly one of two populations). Composed as (A∖B) ∪ (B∖A); both
    // sides hash-shuffle once on the key.
    Q("set_symmetric_diff",
      """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
        |b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
        |SELECT k FROM (
        |  SELECT k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
        |  UNION
        |  SELECT k FROM (SELECT k FROM b EXCEPT SELECT k FROM a))
        |ORDER BY k""".stripMargin) { (s, d) =>
      val a = customer(s, d).filter($"c_acctbal" > 5000).select($"c_custkey".as("k"))
      val b = orders(s, d).filter($"o_orderstatus" === "F")
        .select($"o_custkey".as("k")).distinct()
      a.except(b).union(b.except(a)).distinct().orderBy($"k")
    },

    // Bag semantics: multiplicities min(l,r) / l−r, preserved per row.
    Q("set_intersect_all",
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE o_totalprice > 50000
        |ORDER BY k""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      o.filter($"o_orderstatus" === "F").select($"o_custkey".as("k"))
        .intersectAll(o.filter($"o_totalprice" > 50000).select($"o_custkey".as("k")))
        .orderBy($"k")
    },

    Q("set_except_all",
      """SELECT o_custkey AS k FROM orders WHERE o_totalprice > 10000
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      o.filter($"o_totalprice" > 10000).select($"o_custkey".as("k"))
        .exceptAll(o.filter($"o_orderstatus" === "F").select($"o_custkey".as("k")))
        .orderBy($"k")
    }
  )

  // $"…" sugar without a SparkSession-bound `implicits` import.
  private implicit class Interp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
