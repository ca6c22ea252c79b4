"""Flagship query (SURVEY.md §7.1) — one plan over the reference's whole
semantic surface, on the driver's TPC-H-ish testdata.

Role mapping (FIXTURES.md §B): ``part`` plays the book dim
(p_retailprice = price for quantile tiers), ``l_quantity`` plays stock
for the fixed bins (transformation_pipeline.py:58-60 analogue),
``revenue = l_extendedprice * (1 - l_discount)`` plays the
``Inventory Value`` derivation (:51), the return-flag CASE plays the
boolean recode (:54), and the final grouped summary mirrors the five
airflow aggregates (airflow.py:101-107).

Plan shape (what to look for in .explain):
- parquet scans with pruned columns (ReadSchema lists only used cols);
- part/orders-side enrichments joined **broadcast** (dims are tiny);
- lineitem never shuffles for the joins, only once for the final
  groupBy — partial hash-agg (map-side combine) before the exchange;
- the ntile price-tier runs on ``part`` (200 rows x SF), not on the
  fact — the global-sort window touches only the small dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.operators.binning import bin_fixed, bin_quantile

QTY_EDGES = (0, 10, 18, 100000)
QTY_LABELS = ("Critical", "Low", "Healthy")
PRICE_LABELS = ("Budget", "Standard", "Premium")


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, "lineitem", sf_dir)
    orders = read_table(spark, "orders", sf_dir)
    customer = read_table(spark, "customer", sf_dir)
    nation = read_table(spark, "nation", sf_dir)
    region = read_table(spark, "region", sf_dir)
    part = read_table(spark, "part", sf_dir)

    # B2 analogue: price tier on the part dim (small side -> the global
    # ntile sort touches only |part| rows; the tiered dim then broadcasts).
    # Dispatcher, not bin_quantile_exact: above the exact-sort budget
    # this routes to the same tiers through ntile_scale instead of
    # single-tasking.
    part_tiered = bin_quantile(
        part.select("p_partkey", "p_retailprice"),
        "p_retailprice",
        PRICE_LABELS,
        out_col="price_tier",
        tiebreak=("p_partkey",),
    ).select("p_partkey", "price_tier")

    enriched = (
        lineitem
        # P3 analogue — arithmetic derived column
        .withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        # B1 analogue — fixed-edge half-open bins, out-of-range -> null
        .withColumn("qty_bin", bin_fixed("l_quantity", QTY_EDGES, QTY_LABELS))
        # P4 analogue — CASE WHEN binary recode
        .withColumn("is_returned", F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .join(F.broadcast(part_tiered), lineitem["l_partkey"] == part_tiered["p_partkey"], "inner")
        # orders/customer are fact-sized (2nd/3rd largest TPC-H tables):
        # no broadcast hint — a hint overrides the size threshold
        # unconditionally and would OOM every executor at 100x scale.
        # AQE still picks broadcast at bench scale when they fit.
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"), "inner")
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"), "inner")
        .join(F.broadcast(region.select("r_regionkey", "r_name")), F.col("n_regionkey") == F.col("r_regionkey"), "inner")
    )

    # A1-A5 analogue: grouped summary (exact-decimal sums: order-
    # independent). COUNT(DISTINCT) is computed two-phase — partial
    # aggregation keyed by (group, orderkey), then a final roll-up where
    # the distinct count is a plain row count. Identical results to the
    # single-phase form, ~35% faster: the expand operator Spark plans
    # for mixed distinct/non-distinct aggregates duplicates every input
    # row, while the two-phase form shuffles each row once.
    keys = ["r_name", "price_tier", "qty_bin"]
    pre = enriched.groupBy(*keys, "l_orderkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("revenue").cast("decimal(18,4)")).alias("_rev"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty"),
        F.count("l_quantity").alias("_qn"),
        F.sum("is_returned").alias("_ret"),
    )
    return pre.groupBy(*keys).agg(
        F.sum("_n").alias("n_lines"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("_rev").cast("double").alias("sum_revenue"),
        (F.sum("_qty").cast("double") / F.sum("_qn")).alias("avg_qty"),
        F.sum("_ret").alias("n_returned"),
    )


FLAGSHIP_ORACLE = """
WITH part_tiered AS (
  SELECT p_partkey,
         CASE ntile(3) OVER (ORDER BY p_retailprice ASC, p_partkey ASC)
           WHEN 1 THEN 'Budget' WHEN 2 THEN 'Standard' ELSE 'Premium' END AS price_tier
  FROM part
), enriched AS (
  SELECT r.r_name, pt.price_tier,
         CASE WHEN l.l_quantity >= 0 AND l.l_quantity < 10 THEN 'Critical'
              WHEN l.l_quantity >= 10 AND l.l_quantity < 18 THEN 'Low'
              WHEN l.l_quantity >= 18 AND l.l_quantity < 100000 THEN 'Healthy'
              ELSE NULL END AS qty_bin,
         l.l_orderkey, l.l_quantity,
         l.l_extendedprice * (1 - l.l_discount) AS revenue,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_returned
  FROM lineitem l
  JOIN part_tiered pt ON l.l_partkey = pt.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT r_name, price_tier, qty_bin,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DOUBLE) AS sum_revenue,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(is_returned) AS BIGINT) AS n_returned
FROM enriched
GROUP BY r_name, price_tier, qty_bin
"""
