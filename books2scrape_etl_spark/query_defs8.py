"""Wave-8 qnames (round 5): TPC-H completion to all 22 query shapes.

Q1/Q3-Q7/Q10/Q12-Q15/Q17-Q19 exist already; this module adds the final
eight — Q2, Q8, Q9, Q11, Q16, Q20, Q21, Q22 — each exercising a
remaining optimizer capability:

- Q2  correlated MIN subquery containing its own join tree
- Q8  market share: conditional share of a grouped total (two exact
      sums, one IEEE division)
- Q9  profit by (nation, year) over a LIKE-filtered part set
- Q11 GROUP BY ... HAVING against a scalar subquery over the same
      aggregate (share-of-total threshold)
- Q16 NOT IN subquery + COUNT(DISTINCT) per attribute group
- Q20 nested IN chains (part set -> supplier set)
- Q21 EXISTS and NOT EXISTS against the same fact (argmax-per-group
      via anti-quantifier)
- Q22 NOT EXISTS anti-join + scalar average threshold

Schema adaptations (TESTDATA.md has no partsupp/phone/commitdate): the
supplier-part relation derives from lineitem (``ps`` CTE: per
(partkey, suppkey) min unit price as the cost proxy and summed
quantity as availability); country codes derive from ``c_custkey % 10``;
Q21's late-supplier predicate becomes max-quantity-line-per-order.
Plan shapes are unchanged.

Engine strategy: each query is ONE SQL string in the common
Spark-SQL / DuckDB dialect (EXTRACT, CAST, DECIMAL, LIKE, EXISTS —
no engine-specific functions), written as a template whose ``{table}``
placeholders the Spark side binds to the testdata frames
(``io.sql_over_tables``) and the oracle fills in with the table names
(``io.table_sql``) — the dialect-shared text IS the cross-engine
contract, and Catalyst still plans it (decorrelation, semi/anti joins,
pushdown) exactly as it plans the DataFrame forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from books2scrape_etl_spark.io import sql_over_tables, table_sql
from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.suites import register_suite, width
from books2scrape_etl_spark.query_defs import _utc

# supplier-part relation derived from the fact (partsupp stand-in):
# min unit price = cost proxy, summed quantity = availability
_PS_CTE = """
ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS min_cost,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS avail_qty
  FROM {lineitem}
  GROUP BY l_partkey, l_suppkey)
"""


_Q2_SQL = f"""
WITH {_PS_CTE}
SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
       floor(ps.min_cost * 10000 + 0.5) / 10000 AS cost
FROM {{part}} p
JOIN ps ON ps.l_partkey = p.p_partkey
JOIN {{supplier}} s ON s.s_suppkey = ps.l_suppkey
JOIN {{nation}} n ON n.n_nationkey = s.s_nationkey
JOIN {{region}} r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size = 25
  AND r.r_name = 'EUROPE'
  AND ps.min_cost = (
    SELECT MIN(ps2.min_cost)
    FROM ps ps2
    JOIN {{supplier}} s2 ON s2.s_suppkey = ps2.l_suppkey
    JOIN {{nation}} n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN {{region}} r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
ORDER BY p.p_partkey, s.s_name
"""


@register("tpch_q2", table_sql(_Q2_SQL))
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): a correlated MIN
    subquery that contains its own 3-join tree — the heaviest
    decorrelation case; Catalyst rewrites it to a per-part aggregate
    over the joined ps relation, joined back on (partkey, cost). Cost
    equality compares per-row IEEE divisions that are bit-identical on
    both engines (no summation order involved in MIN)."""
    _utc(spark)
    return sql_over_tables(spark, _Q2_SQL, sf_dir)


_Q8_SQL = """
WITH all_sales AS (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM {lineitem} l
  JOIN {part} p ON p.p_partkey = l.l_partkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
  JOIN {customer} c ON c.c_custkey = o.o_custkey
  JOIN {nation} n1 ON n1.n_nationkey = c.c_nationkey
  JOIN {region} r ON r.r_regionkey = n1.n_regionkey
  JOIN {nation} n2 ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
SELECT o_year,
       round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                           THEN CAST(volume AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE), 6)
         AS mkt_share
FROM all_sales
GROUP BY o_year
ORDER BY o_year
"""


@register("tpch_q8", table_sql(_Q8_SQL))
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): an 8-table join feeding
    a conditional-share aggregate. Both numerator and denominator are
    exact-decimal sums; the single IEEE division and round(6) make the
    ratio cross-engine stable. Region/type filters prune the dims
    before the fact join; the order-date range is sargable."""
    _utc(spark)
    return sql_over_tables(spark, _Q8_SQL, sf_dir)


_Q9_SQL = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
       round(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           - l.l_tax * l.l_quantity
                           AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_profit
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {orders} o ON o.o_orderkey = l.l_orderkey
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%e%'
GROUP BY n.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER)
ORDER BY nation, o_year DESC
"""


@register("tpch_q9", table_sql(_Q9_SQL))
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): LIKE-filtered part set,
    profit per (supplier nation, order year). The testdata has no
    supplycost, so profit = discounted revenue minus tax*quantity —
    the documented stand-in keeps the expression shape (a two-term
    measure inside an exact-decimal sum). Year extraction appears only
    in output/grouping, never as a filter."""
    _utc(spark)
    return sql_over_tables(spark, _Q9_SQL, sf_dir)


_Q11_SQL = f"""
WITH {_PS_CTE},
nat_ps AS (
  SELECT ps.l_partkey, ps.avail_qty
  FROM ps
  JOIN {{supplier}} s ON s.s_suppkey = ps.l_suppkey
  JOIN {{nation}} n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_4')
SELECT l_partkey AS p_partkey,
       round(CAST(SUM(CAST(avail_qty AS DECIMAL(18,2))) AS DOUBLE), 2) AS value
FROM nat_ps
GROUP BY l_partkey
HAVING CAST(SUM(CAST(avail_qty AS DECIMAL(18,2))) AS DOUBLE) >
       0.002 * (SELECT CAST(SUM(CAST(avail_qty AS DECIMAL(18,2))) AS DOUBLE)
               FROM nat_ps)
ORDER BY value DESC, p_partkey
"""


@register("tpch_q11", table_sql(_Q11_SQL))
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): HAVING against a scalar
    subquery over the SAME aggregate input — share-of-total
    thresholding. Both the per-part sums and the grand total are
    exact-decimal, so the 0.01x comparison is deterministic; the CTE
    is consumed twice (grouped and total) exactly like Q15's."""
    _utc(spark)
    return sql_over_tables(spark, _Q11_SQL, sf_dir)


_Q16_SQL = f"""
WITH {_PS_CTE}
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN {{part}} p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
  AND ps.l_suppkey NOT IN
      (SELECT s_suppkey FROM {{supplier}} WHERE s_name LIKE '%7%')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@register("tpch_q16", table_sql(_Q16_SQL))
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-count by part attributes): NOT IN
    subquery (null-safe here — s_suppkey is non-null, so the anti-join
    rewrite is legal and Catalyst takes it), attribute-set IN filter,
    and COUNT(DISTINCT) per group. The LIKE'd supplier exclusion
    stands in for the complaints predicate."""
    _utc(spark)
    return sql_over_tables(spark, _Q16_SQL, sf_dir)


_Q20_SQL = f"""
WITH {_PS_CTE}
SELECT s.s_name, n.n_name
FROM {{supplier}} s
JOIN {{nation}} n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_5'
  AND s.s_suppkey IN (
    SELECT ps.l_suppkey FROM ps
    WHERE ps.l_partkey IN
          (SELECT p_partkey FROM {{part}} WHERE p_name LIKE '%o%')
    GROUP BY ps.l_suppkey
    HAVING CAST(SUM(CAST(avail_qty AS DECIMAL(18,2))) AS DOUBLE) > 100.0)
ORDER BY s.s_name
"""


@register("tpch_q20", table_sql(_Q20_SQL))
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-supply suppliers): nested IN chains —
    a part set feeding a grouped-HAVING supplier set feeding the outer
    semi-join. Catalyst turns both INs into left-semi joins; the
    availability threshold is exact-decimal."""
    _utc(spark)
    return sql_over_tables(spark, _Q20_SQL, sf_dir)


_Q21_SQL = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM {lineitem} l1
JOIN {supplier} s ON s.s_suppkey = l1.l_suppkey
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
JOIN {orders} o ON o.o_orderkey = l1.l_orderkey
WHERE n.n_name = 'NATION_6'
  AND o.o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM {lineitem} l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM {lineitem} l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_quantity > l1.l_quantity)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
"""


@register("tpch_q21", table_sql(_Q21_SQL))
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): EXISTS and
    NOT EXISTS against the same fact — a semi-join AND an anti-join on
    l_orderkey in one query, the quantifier-pair Catalyst plans as
    consecutive left-semi/left-anti joins. (No receipt/commit dates in
    the testdata: 'the slowest line on a multi-supplier order' becomes
    'the strictly-largest-quantity line' — same quantifier structure,
    and the strictness makes ties drop out deterministically on both
    engines.)"""
    _utc(spark)
    return sql_over_tables(spark, _Q21_SQL, sf_dir)


_Q22_SQL = """
WITH pos AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_bal
  FROM {customer} WHERE c_acctbal > 0.0)
SELECT CAST(c.c_custkey % 10 AS INTEGER) AS cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       round(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS totacctbal
FROM {customer} c
WHERE c.c_custkey % 10 IN (1, 3, 5, 7)
  AND c.c_acctbal > (SELECT avg_bal FROM pos)
  AND NOT EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
GROUP BY CAST(c.c_custkey % 10 AS INTEGER)
ORDER BY cntrycode
"""


@register("tpch_q22", table_sql(_Q22_SQL))
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): a scalar average
    threshold (exact-decimal sum / count — identical on both engines)
    plus a NOT EXISTS anti-join to orders, grouped by a derived
    country code (custkey mod 10 stands in for the phone prefix). The
    anti-join is the shape: customers with money and no orders."""
    _utc(spark)
    return sql_over_tables(spark, _Q22_SQL, sf_dir)


# =====================================================================
# tpch_suite3 — Q2/Q8/Q9/Q11/Q16/Q20/Q21/Q22 in one window slot; with
# tpch_suite and tpch_suite2 this completes all 22 TPC-H query shapes
# =====================================================================

register_suite("tpch_suite3", width(3, 2, 1), {
    "tpch_q2": {
        "s1": "p_brand", "s2": "s_name", "s3": "n_name",
        "n1": "p_partkey", "d1": "cost",
    },
    "tpch_q8": {"n1": "o_year", "d1": "mkt_share"},
    "tpch_q9": {"s1": "nation", "n1": "o_year", "d1": "sum_profit"},
    "tpch_q11": {"n1": "p_partkey", "d1": "value"},
    "tpch_q16": {
        "s1": "p_brand", "s2": "p_type", "n1": "p_size", "n2": "supplier_cnt",
    },
    "tpch_q20": {"s1": "s_name", "s2": "n_name"},
    "tpch_q21": {"s1": "s_name", "n1": "numwait"},
    "tpch_q22": {"n1": "cntrycode", "n2": "numcust", "d1": "totacctbal"},
})
