"""Wave-7 qnames (round 5): the classic TPC-H optimizer shapes still
missing after Q1/Q3/Q4/Q5/Q6/Q10/Q12/Q14/Q18 — each exercises a
DISTINCT Catalyst capability:

- Q7  volume shipping: 6-table join with a disjunctive nation-pair
  predicate (pre-filtered dims + per-year conditional aggregation).
- Q13 customer distribution: LEFT OUTER join with a join-side filter,
  then a histogram over the group counts (aggregate of an aggregate).
- Q15 top supplier: aggregate CTE consumed twice — once as the join
  input, once inside a scalar MAX subquery.
- Q17 small-quantity revenue: correlated scalar AVG subquery per part
  (Catalyst decorrelates to an aggregate + join).
- Q19 disjunctive predicates: OR-of-ANDs across both join sides — the
  shape that tests predicate pushdown through a disjunction.

Adapted to the driver testdata columns (TESTDATA.md; no partsupp /
shipmode / phone), keeping each plan shape intact. All exact-decimal
money math; year extraction only as an OUTPUT column (filters stay
sargable half-open timestamp ranges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import oracle_sum_exact, sum_exact
from books2scrape_etl_spark.io import read_table, sql_over_tables, table_sql
from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.suites import register_suite, width
from books2scrape_etl_spark.query_defs import _utc
from books2scrape_etl_spark.query_defs6 import _ts_year_range


@register(
    "tpch_q7",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           round({oracle_sum_exact("volume", 4)}, 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(strftime(l.l_shipdate, '%Y') AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00') v
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations): the
    nation dims are pre-filtered to the two names BEFORE the joins —
    explicit pushdown of what the disjunction only implies — so the
    supplier/customer joins semi-reduce the fact early and both
    nation sides broadcast. The pair predicate keeps only the two
    directed combinations; revenue is an exact-decimal sum per
    (supp_nation, cust_nation, ship-year). Year extraction happens on
    OUTPUT rows only; the time filter is a sargable range."""
    _utc(spark)
    names = ("NATION_1", "NATION_2")
    li = read_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = read_table(spark, "supplier", sf_dir)
    o = read_table(spark, "orders", sf_dir)
    c = read_table(spark, "customer", sf_dir)
    n = read_table(spark, "nation", sf_dir).where(F.col("n_name").isin(*names))
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == names[0]) & (F.col("cust_nation") == names[1])
    ) | ((F.col("supp_nation") == names[1]) & (F.col("cust_nation") == names[0]))
    return (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q13",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order distribution): LEFT OUTER join
    whose filter lives in the JOIN CONDITION (a WHERE would silently
    turn it inner and drop zero-order customers), per-customer count
    including the zero group, then a histogram over the counts — an
    aggregate of an aggregate, two shuffles by construction (custkey,
    then c_count)."""
    c = read_table(spark, "customer", sf_dir)
    o = read_table(spark, "orders", sf_dir)
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q15_REV_SQL = """
      SELECT l_suppkey AS supplier_no,
             round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
"""

_Q15_SQL = """
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM {supplier} s JOIN {rev} r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM {rev})
    ORDER BY s.s_suppkey
    """


@register("tpch_q15", f"\n    WITH rev AS ({_Q15_REV_SQL}){table_sql(_Q15_SQL)}")
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the quarterly revenue aggregate
    is consumed TWICE — as the join input and inside the scalar MAX
    subquery. Revenue is rounded exact-decimal, so the cross-engine
    equality in `total_revenue = MAX(...)` compares identical doubles
    (never compare raw float sums for equality). Spark binds the
    aggregate frame to both consumers of one SQL text, which the oracle
    runs after the ``rev`` CTE; Catalyst turns the scalar subquery into
    a one-row broadcast."""
    _utc(spark)
    li = read_table(spark, "lineitem", sf_dir)
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 4
            ).alias("total_revenue")
        )
    )
    return sql_over_tables(spark, _Q15_SQL, sf_dir, rev=rev)


_Q17_SQL = """
    SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE) / 7.0, 4) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < 0.2 * (
            SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*)
            FROM {lineitem} l2 WHERE l2.l_partkey = p.p_partkey)
    """


@register("tpch_q17", table_sql(_Q17_SQL))
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    scalar AVG subquery per part — the decorrelation benchmark;
    Catalyst rewrites it to a per-part aggregate joined back. The
    threshold average is exact-decimal-sum / count on BOTH engines
    (raw AVG over doubles is summation-order-dependent and could flip
    a boundary row), so the 0.2x comparison is bit-identical."""
    return sql_over_tables(spark, _Q17_SQL, sf_dir)


@register(
    "tpch_q19",
    f"""
    SELECT round({oracle_sum_exact("l.l_extendedprice * (1 - l.l_discount)", 4)}, 4)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    OR-of-ANDs spanning both join sides. Catalyst derives the
    single-side implications (brand IN the three brands; quantity in
    the envelope 1..40) and pushes them into both scans while the full
    disjunction evaluates after the join — exactly the plan a hand
    optimizer would build."""
    li = read_table(spark, "lineitem", sf_dir)
    p = read_table(spark, "part", sf_dir)
    arm = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .where(
            arm("Brand#1", 1, 15, 1, 20)
            | arm("Brand#2", 10, 30, 10, 30)
            | arm("Brand#3", 20, 50, 20, 40)
        )
        .agg(
            F.round(
                sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# =====================================================================
# tpch_suite2 — Q7 + Q13 + Q15 + Q17 + Q19 in one window slot: five
# distinct optimizer shapes (disjunctive multi-join, outer-join
# histogram, twice-consumed aggregate, correlated-AVG decorrelation,
# OR-of-ANDs pushdown) under one value hash
# =====================================================================

register_suite("tpch_suite2", width(2, 2, 1), {
    "tpch_q7": {
        "s1": "supp_nation", "s2": "cust_nation", "n1": "l_year", "d1": "revenue",
    },
    "tpch_q13": {"n1": "c_count", "n2": "custdist"},
    "tpch_q15": {"s1": "s_name", "n1": "s_suppkey", "d1": "total_revenue"},
    "tpch_q17": {"n1": "n_lines", "d1": "avg_yearly"},
    "tpch_q19": {"n1": "n_lines", "d1": "revenue"},
})


# =====================================================================
# approx_bounds — error-bound invariants for the approximate aggregates
# (agg_approx / bin_quantile_scale were rows-only because HLL++ and
# Greenwald-Khanna internals differ across engines; what IS portable is
# the published error bound — pin it as a constant-oracle row)
# =====================================================================


@register(
    "approx_bounds",
    """
    SELECT 'hll_orderkey' AS metric, TRUE AS ok
    UNION ALL SELECT 'hll_partkey', TRUE
    UNION ALL SELECT 'median_price', TRUE
    UNION ALL SELECT 'q25_q75_quantity', TRUE
    ORDER BY metric
    """,
)
def q_approx_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-error-bound invariants for the sketch aggregates,
    computed in one plan against their exact twins:

    - HLL++ distinct counts (default rsd 0.05) must land within 15%
      (3 sigma) of the exact COUNT(DISTINCT) for two key columns.
    - percentile_approx (Greenwald-Khanna, accuracy 10000 -> rank
      error <= n/10000) must produce a median between the exact 45th
      and 55th percentiles, and quartiles between their +/-5-point
      rank neighbors.

    A regression in sketch wiring (wrong column, wrong accuracy, a
    broken merge) blows the bound and flips the boolean; the oracle is
    constant TRUE."""
    li = read_table(spark, "lineitem", sf_dir)
    agg = li.agg(
        F.approx_count_distinct("l_orderkey").alias("a_ord"),
        F.countDistinct("l_orderkey").alias("e_ord"),
        F.approx_count_distinct("l_partkey").alias("a_part"),
        F.countDistinct("l_partkey").alias("e_part"),
        F.percentile_approx("l_extendedprice", 0.5).alias("a_med"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("e_med_lo"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("e_med_hi"),
        F.percentile_approx("l_quantity", F.array(F.lit(0.25), F.lit(0.75))).alias("a_q"),
        F.expr("percentile(l_quantity, array(0.20, 0.30, 0.70, 0.80))").alias("e_q"),
    )
    within = lambda a, e: (a >= 0.85 * e) & (a <= 1.15 * e)  # noqa: E731
    rows = [
        agg.select(
            F.lit("hll_orderkey").alias("metric"),
            within(F.col("a_ord"), F.col("e_ord")).alias("ok"),
        ),
        agg.select(
            F.lit("hll_partkey").alias("metric"),
            within(F.col("a_part"), F.col("e_part")).alias("ok"),
        ),
        agg.select(
            F.lit("median_price").alias("metric"),
            (
                (F.col("a_med") >= F.col("e_med_lo"))
                & (F.col("a_med") <= F.col("e_med_hi"))
            ).alias("ok"),
        ),
        agg.select(
            F.lit("q25_q75_quantity").alias("metric"),
            (
                (F.element_at("a_q", 1) >= F.element_at("e_q", 1))
                & (F.element_at("a_q", 1) <= F.element_at("e_q", 2))
                & (F.element_at("a_q", 2) >= F.element_at("e_q", 3))
                & (F.element_at("a_q", 2) <= F.element_at("e_q", 4))
            ).alias("ok"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out.orderBy("metric")
