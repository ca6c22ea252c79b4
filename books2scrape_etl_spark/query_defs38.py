"""Wave-38: cost-based-optimizer join reordering (the last SURVEY §4.2
row with no dedicated qname — "join reordering -> CBO with stats /
ANALYZE TABLE or rely on AQE", SURVEY.md:364; VERDICT r10 item 2).

Shape: land lineitem / orders / customer as catalog tables, ANALYZE
them FOR ALL COLUMNS (row counts + per-column NDV/min/max — the
selectivity inputs CostBasedJoinReorder needs), enable
``spark.sql.cbo.enabled`` + ``spark.sql.cbo.joinReorder.enabled``
under ``functions.util.conf_guard``, then
run a three-table join written in a DELIBERATELY bad order:

    (lineitem JOIN orders) JOIN customer[c_mktsegment = 'BUILDING']

i.e. fact-x-fact first, the tiny filtered dim last. With stats, the
optimizer's join-reorder DP flips the tree to

    lineitem JOIN (orders JOIN customer_filtered)

so the ~1/5-selective customer filter prunes orders BEFORE the
expensive fact join — measured on this corpus the intermediate drops
from |lineitem| rows to |orders|/5. At 100 TB the written order is a
catastrophe (a full fact-fact join materialized only to be filtered);
reordering is the difference between shuffling 100 TB and shuffling
the filtered slice. tests/test_plans.py pins the reordered tree (the
TOPMOST optimized-plan join keys on l_orderkey with CBO on, on
c_custkey with it off) — and, like join_dpp / join_bloom, reordering
is a pure optimization, so the value oracle is the SAME join: a
reorder that changes one value breaks the hash.

The eager localCheckpoint inside the guard is load-bearing: Catalyst
optimizes at ACTION time, so a lazily returned plan would optimize
only after the guard restored ``cbo.enabled=false``.

Reference parity: the reference joins its dims in whatever order the
pandas merges were written (transformation_pipeline.py:96-99 — four
chained merges, order fixed by the source text); a cost model
choosing the order from statistics is the Spark-native upgrade.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import oracle_sum_exact, sum_exact
from books2scrape_etl_spark.functions.util import conf_guard, land_once
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import register

# spark.sql.cbo.* is SESSION-global. Applied only through
# functions.util.conf_guard, whose one lock serializes it with every
# other guarded section (ADVICE r11: a concurrent query optimized while
# CBO is on is value-safe, reordering is a pure optimization, but
# plan-pin tests could flake under threaded runs).
_CBO_CONFS = {
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


def land_cbo_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Land the three join inputs as external catalog tables and
    ANALYZE them (CBO reads stats from the catalog, so plain parquet
    scans can't feed it), once per session through ``land_once``; the
    stats stay in the session catalog for every later call."""
    cols = {
        "lineitem": ["l_orderkey", "l_extendedprice"],
        "orders": ["o_orderkey", "o_custkey", "o_orderpriority"],
        "customer": ["c_custkey", "c_mktsegment"],
    }

    def names(base: str) -> tuple[str, str, str]:
        tag = _os.path.basename(base)
        return (f"{tag}_li", f"{tag}_o", f"{tag}_c")

    def land(base: str) -> None:
        for name, (t, cs) in zip(names(base), cols.items()):
            (
                read_table(spark, t, sf_dir)
                .select(*cs)
                .write.mode("overwrite")
                .format("parquet")
                .option("path", _os.path.join(base, name))
                .saveAsTable(name)
            )
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")

    return names(land_once(spark, "cbo", sf_dir, land))


def build_cbo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deliberately-bad-order join (lazy), shared by the qname and
    the plan test (which inspects the optimized logical plan both with
    and without the conf guard)."""
    li_t, o_t, c_t = land_cbo_tables(spark, sf_dir)
    l = spark.table(li_t)
    o = spark.table(o_t)
    c = spark.table(c_t).where(F.col("c_mktsegment") == "BUILDING")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            sum_exact("l_extendedprice", 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


_JOIN_REORDER_SQL = f"""
    SELECT o.o_orderpriority, COUNT(*) AS n,
           {oracle_sum_exact('l.l_extendedprice', 2)} AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """


@register("join_reorder_cbo", _JOIN_REORDER_SQL)
def q_join_reorder_cbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.2 CBO join reordering — ANALYZE'd tables + cost-based
    reorder of a deliberately mis-ordered 3-table join (reordered tree
    plan-pinned; oracle = the identical join, reordering is a pure
    optimization)."""
    with conf_guard(spark, _CBO_CONFS):
        return build_cbo_join(spark, sf_dir).localCheckpoint(eager=True)
