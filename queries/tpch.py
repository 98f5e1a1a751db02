"""TPC-H queries: Q1 through the Beam transforms, Q3 and Q6
through Catalyst SQL, the rest as passthrough SQL whose oracle
is the very text the query runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_spark.pipeline import Pipeline
from apache_beam_spark.sources.tables import load_table
from apache_beam_spark.operators.combine import Combine

from queries import query, register
from queries.shared import (
    _davg, _disc_price, _dsum, _sql_davg, _SQL_DISC_PRICE, _sql_dsum,
)


@query(headline=True, oracle=f"""
            SELECT l_returnflag, l_linestatus,
                   {_sql_dsum('l_quantity', 'sum_qty')},
                   {_sql_dsum('l_extendedprice', 'sum_base_price')},
                   CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
                   {_sql_davg('l_quantity', 'avg_qty')},
                   {_sql_davg('l_extendedprice', 'avg_price')},
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""")
def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary (Combine.perKey over a
    pushed-down filter; reference pattern: Combine.java:153)."""
    p = Pipeline(spark)
    li = p.from_df(load_table(spark, "lineitem", sf_dir))
    out = (
        li.where("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'")
        | Combine.per_key(
            ["l_returnflag", "l_linestatus"],
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            _davg("l_quantity", "avg_qty"),
            _davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out.df


_Q3_SQL = """
    SELECT l_orderkey,
           CAST(SUM({disc}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10"""

_Q6_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24"""


_Q5_SQL = """
    SELECT n_name,
           CAST(SUM({disc}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

_Q10_SQL = """
    SELECT c_custkey, c_name,
           CAST(SUM({disc}) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""

_Q14_SQL = """
    SELECT CAST(100.00 * SUM(CASE WHEN p_type = 'PROMO' THEN {disc}
                                  ELSE CAST(0 AS DECIMAL(18,2)) END)
                / SUM({disc}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'"""

_Q18_SQL = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100"""


_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year, {disc} AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year"""

_Q8_SQL = """
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year, {disc} AS volume,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year ORDER BY o_year"""

_Q17_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0 AS DOUBLE)
           AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey)"""

_Q19_SQL = """
    SELECT CAST(SUM({disc}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 30)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 40)"""

# Q2 adapted (no partsupp table in the reduced schema): the
# supplier-part relation and supply cost are derived from lineitem as
# MIN(unit price) per (part, supplier); the correlated min-cost
# subquery shape of the original is preserved verbatim.
_Q2_SQL = """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) / l_quantity,
                       4)) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           CAST(ps_supplycost AS DOUBLE) AS supp_cost
    FROM part
    JOIN ps ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size = 10 AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost) FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100"""

# Q9 adapted: ps_supplycost -> 5% of p_retailprice as the unit cost.
_Q9_SQL = """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                - 0.05 * p_retailprice * l_quantity
                AS DECIMAL(18,4))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)"""

# Q11 adapted: "stock value" of a part held by one nation's suppliers
# := their lineitem revenue for it; the correlated global-fraction
# HAVING of the original becomes the scalar subquery on the CTE.  The
# threshold is 2.4x the mean part value, so it scales with the number
# of parts as TPC-H's 0.0001/SF fraction does (a fixed fraction of the
# total keeps no part at all at sf0.1).
_Q11_SQL = """
    WITH val AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3' GROUP BY l_partkey)
    SELECT l_partkey AS ps_partkey, CAST(value AS DOUBLE) AS part_value
    FROM val WHERE value > (SELECT SUM(value) * 2.4 / COUNT(*) FROM val)"""

# Q16 adapted: the supplier-part relation comes from lineitem; the
# "customer complaints" NOT IN exclusion becomes negative-balance
# suppliers.
_Q16_SQL = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size"""

# Q20 adapted: availqty -> shipped quantity in the window; a supplier
# qualifies when it carried >30% of some matching part's 1996 volume.
_Q20_SQL = """
    WITH sp AS (
      SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2)))
                 AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%gear%'
        AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_suppkey, l_partkey),
    pt AS (SELECT l_partkey, SUM(qty) AS total FROM sp GROUP BY l_partkey)
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5' AND s_suppkey IN (
      SELECT l_suppkey FROM sp JOIN pt USING (l_partkey)
      WHERE qty > 0.3 * total)"""

# Q21 adapted (no receipt/commit dates): "kept waiting" := shipped more
# than 60 days after the order date; the EXISTS / NOT EXISTS
# multi-supplier-order shape of the original is preserved.
_Q21_SQL = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100"""

# Q13 adapted to the reduced schema: orders has no o_comment, so the
# "not like '%special%requests%'" exclusion becomes an o_orderpriority
# filter — same plan shape (left outer join with a pushed filter on the
# right side, then a two-level aggregation over the count distribution).
_Q13_SQL = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

# Q15 verbatim modulo the date window (data spans 1995..2001): CTE
# revenue view, scalar-subquery max, join back to supplier.  Decimal
# sums keep the max-equality comparison exact in both engines.
_Q15_SQL = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, SUM({disc}) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey"""

# Q4 adapted: lineitem has no l_commitdate/l_receiptdate, so "late
# lineitem exists" becomes "lineitem shipped after the order date" —
# same plan shape (EXISTS semi-join into a priority-distribution agg).
_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""

# Q12 adapted: no l_shipmode column, so l_returnflag plays the
# two-valued mode dimension; the high/low priority split and the
# join+filter+conditional-agg shape are verbatim.  COUNT(CASE) rather
# than SUM(CASE) keeps both engines in BIGINT (DuckDB SUM(int) is
# HUGEINT, which pandas floats).
_Q12_SQL = """
    SELECT l_returnflag AS shipmode,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('R', 'A')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag"""

# Q22 adapted: customer has no c_phone, so the country-code prefix
# grouping becomes c_nationkey and the "never ordered" anti-join becomes
# "has no URGENT order" (every sf's customer set has at least one order,
# which would make the verbatim predicate vacuous).  Plan shape is
# preserved: uncorrelated scalar-subquery average + NOT EXISTS anti-join
# + final aggregation.
_Q22_SQL = """
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(CAST(c_acctbal AS DOUBLE))
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY cntrycode"""


def _sql_passthrough(name, sql_tmpl, headline=False):
    """Register TPC-H passthrough SQL as query ``name``: register views,
    run the exact text Catalyst-side; the oracle is the SAME text, run
    in DuckDB."""
    def fn(spark, sf_dir):
        from apache_beam_spark.sources.tables import register_views

        register_views(spark, sf_dir)
        return spark.sql(sql_tmpl.format(disc=_SQL_DISC_PRICE))
    fn.__doc__ = ("TPC-H query: identical SQL text planned by Catalyst and "
                  "by DuckDB (the strongest parity form — zero "
                  "translation surface).")
    register(name, fn, oracle=sql_tmpl.format(disc=_SQL_DISC_PRICE),
             headline=headline)


_sql_passthrough("q5_local_supplier", _Q5_SQL, headline=True)
_sql_passthrough("q7_volume_shipping", _Q7_SQL)
_sql_passthrough("q8_market_share", _Q8_SQL)
_sql_passthrough("q10_returned_items", _Q10_SQL, headline=True)
_sql_passthrough("q14_promo_effect", _Q14_SQL)
_sql_passthrough("q17_small_qty", _Q17_SQL)
_sql_passthrough("q18_large_volume", _Q18_SQL, headline=True)
_sql_passthrough("q19_discounted", _Q19_SQL)
_sql_passthrough("q13_customer_distribution", _Q13_SQL, headline=True)
_sql_passthrough("q15_top_supplier", _Q15_SQL)
_sql_passthrough("q22_global_sales", _Q22_SQL)
_sql_passthrough("q4_order_priority", _Q4_SQL, headline=True)
_sql_passthrough("q12_shipmode_priority", _Q12_SQL, headline=True)
_sql_passthrough("q2_min_cost_supplier", _Q2_SQL)
_sql_passthrough("q9_product_profit", _Q9_SQL, headline=True)
_sql_passthrough("q11_important_stock", _Q11_SQL)
_sql_passthrough("q16_parts_suppliers", _Q16_SQL)
_sql_passthrough("q20_potential_promotion", _Q20_SQL)
_sql_passthrough("q21_waiting_suppliers", _Q21_SQL, headline=True)


@query(oracle=_Q3_SQL.format(disc=_SQL_DISC_PRICE))
def _q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 via the SQL passthrough surface (Pipeline.sql /
    register_views): 3-way join + agg + top-10, all planned by Catalyst
    from SQL text."""
    from apache_beam_spark.sources.tables import load_table as _lt

    for t in ("customer", "orders", "lineitem"):
        _lt(spark, t, sf_dir).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL.format(disc=_SQL_DISC_PRICE))


@query(oracle=_Q6_SQL)
def _q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-agg — every predicate pushed to the
    parquet scan."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)
