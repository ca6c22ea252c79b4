"""Wave-37: dynamic partition pruning (SURVEY §4.2's "static + dynamic
(DPP)" promise — the static half is ``partition_pruning``; this is the
dynamic half, the one §4.2-promised optimization that had no qname).

Shape: the fact (lineitem) lands Hive-partitioned by a dim-derived key
(``ship_month``, 83 directories at any SF); the query joins it to a
month dim filtered on an attribute (``ship_quarter``) the fact does
NOT carry. Static pruning cannot help — the fact-side predicate only
exists at runtime, as the set of months that survive the dim filter.
Catalyst's PartitionPruning rule plants a DynamicPruningExpression
(an IN-subquery over the reused broadcast exchange of the dim) into
the fact scan's PartitionFilters, so only the 3 matching month
directories are read out of 83.

At 100 TB this is the difference between scanning one quarter and
scanning seven years: a date-partitioned fact joined through a
filtered calendar/dim is THE canonical warehouse access path, and
without DPP every such query degrades to a full scan. The plan test
(tests/test_plans.py) pins ``dynamicpruningexpression`` in the fact
scan's partition filters; the value oracle is the identical join run
unpartitioned in DuckDB — pruning is a pure optimization, so
bit-identical results ARE the correctness claim (the join_bloom rule).

Reference parity: the reference re-reads its whole CSV per run
(extract_pipeline.py:60-74 -> transformation_pipeline.py); partition
layout + runtime pruning is the Spark-native replacement for that
full-rescan pattern at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import oracle_sum_exact, sum_exact
from books2scrape_etl_spark.functions.util import land_once
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import register

_JOIN_DPP_SQL = f"""
    WITH f AS (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                      l_extendedprice
               FROM lineitem),
         d AS (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS ship_month,
                      concat(CAST(year(l_shipdate) AS VARCHAR), '-Q',
                             CAST(quarter(l_shipdate) AS VARCHAR)) AS ship_quarter
               FROM lineitem)
    SELECT f.ship_month, COUNT(*) AS n,
           {oracle_sum_exact('f.l_extendedprice', 2)} AS sum_price
    FROM f JOIN d ON f.ship_month = d.ship_month
    WHERE d.ship_quarter = '1995-Q1'
    GROUP BY f.ship_month
    ORDER BY f.ship_month
    """


def build_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DPP plan builder, shared by the qname and the plan test
    (the test needs the DataFrame pre-collect to inspect the physical
    plan for the runtime pruning subquery)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = read_table(spark, "lineitem", sf_dir)
    month = F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")

    # Land the fact partitioned by the dim-derived key. The write is
    # part of the query by design (the partition_pruning layout).
    base = land_once(
        spark,
        "dpp",
        sf_dir,
        lambda base: li.select(month, "l_extendedprice")
        .write.mode("overwrite")
        .partitionBy("ship_month")
        .parquet(base),
    )

    # Month dim (83 rows — auto-broadcast; DPP's default
    # reuseBroadcastOnly=true makes the pruning subquery FREE: it
    # reuses the join's own broadcast exchange instead of running a
    # second dim job).
    dim = li.select(
        month,
        F.concat(
            F.year("l_shipdate").cast("string"),
            F.lit("-Q"),
            F.quarter("l_shipdate").cast("string"),
        ).alias("ship_quarter"),
    ).distinct()

    fact = spark.read.parquet(base)
    return (
        fact.join(dim.where(F.col("ship_quarter") == "1995-Q1"), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            sum_exact("l_extendedprice", 2).alias("sum_price"),
        )
        .orderBy("ship_month")
    )


@register("join_dpp", _JOIN_DPP_SQL)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.2 dynamic partition pruning — dim-filtered join over a
    partitioned fact reads only the partitions the runtime dim filter
    selects (DynamicPruningExpression in the fact scan, plan-pinned).
    Oracle: the identical join, unpartitioned."""
    return build_dpp_join(spark, sf_dir)
