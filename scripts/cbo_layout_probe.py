"""CBO join reordering measured ON the composed warehouse layout
(VERDICT r11 item 6, option B): statistics-driven logical reordering
x partition pruning x bucket-local physical joins, in ONE plan.

The r11 probes proved the pillars separately: cbo_reorder_probe (stats
flip a deliberately bad join tree, 20.3x intermediate reduction) and
dpp_bucket_probe (partition pruning + bucket-local SMJ + salting
compose in one layout). The open question for the 100 TB warehouse is
whether the LOGICAL optimization still composes with the PHYSICAL
layout: CBO's reorder changes which join executes first, so the
bucket-co-located (lineitem x orders) join the written order would
have exploited no longer exists as a tree node. Does the layout still
pay off, or does reordering disable it?

Layout (the dpp_bucket_probe warehouse):

    lineitem -> partitionBy(ship_month) + bucketBy(8, l_orderkey)
    orders   -> bucketBy(8, o_orderkey)
    customer -> plain
    ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS on all three

Query, written in the deliberately bad order (fact x fact first, tiny
filtered dim last), with a static partition filter on the fact:

    (lineitem[ship_month LIKE '1995-%'] JOIN orders)
        JOIN customer[c_mktsegment = 'BUILDING']

The filter width is load-bearing: a 3-month filter shrinks the fact
slice BELOW the customer-filtered orders slice, and the reorder DP
correctly keeps the written order. Twelve months keeps the fact slice
the largest input, so the stats-driven flip genuinely pays and the
probe can assert it fired. BOTH regimes are exercised on every run:
the year query asserts the flip, and a Q1 negative-control leg
asserts the DP keeps the written order when it is already optimal
(identical first-join output with CBO off and on) — the cost model is
choosing, not pattern-matching.

Run twice under forced-SMJ (autoBroadcastJoinThreshold=-1, the
cluster-scale shape where join order is wire bytes, not probe CPU):

    cbo_off  — executes as written: the bucket layout makes the
               fact-fact join shuffle-free, but it materializes EVERY
               surviving lineitem match before the 1/5-selective
               customer filter prunes anything.
    cbo_on   — stats flip the tree to lineitem JOIN (orders JOIN
               customer'): the first join is now the small slice; the
               lineitem-side join key is still l_orderkey, so the
               bucketed fact scan STILL satisfies the join's required
               distribution — the fact is never shuffled, only the
               filtered orders slice is.

Asserts, on the executed plans:

1. cbo_on's deepest join output is a fraction of cbo_off's (the
   reorder fired on catalog tables carrying the composed layout);
2. in BOTH variants no Exchange hash-partitions the lineitem side
   (the bucket layout survives the reorder — grep the shuffle lines
   for the fact's columns; with the flipped tree the fact-side join
   key is still l_orderkey, so the bucketed scan keeps satisfying the
   SMJ's required distribution and only the filtered orders slice is
   exchanged);
3. the static partition filter pruned the fact scan to exactly the
   1995 month directories in both variants (scan metric
   numPartitions);
4. values cbo_on == cbo_off == a plain-parquet twin (no layout, no
   stats, CBO off) via order-independent sum_exact — layout, stats,
   and reorder are all pure optimizations.

Total shuffle bytes per variant are REPORTED, not asserted: the
bucket layout already deletes the written order's dominant exchange
(the fact join), so the byte delta between variants is the small
slice-vs-slice difference — the 1.7x wire-byte reorder win on
unbucketed tables is cbo_reorder_probe's (shuffle-mode) measurement.

    python scripts/cbo_layout_probe.py                   # sf0.01
    CBO_LAYOUT_SF_DIR=/root/testdata/sf0.1 python ...    # scale point

Prints one JSON line; exit 0 iff all five assertions hold.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from cbo_reorder_probe import plan_metrics  # noqa: E402  (the shared executed-plan walker)

from books2scrape_etl_spark.functions.agg import sum_exact  # noqa: E402
from books2scrape_etl_spark.functions.util import conf_guard  # noqa: E402
from books2scrape_etl_spark.query_defs38 import _CBO_CONFS  # noqa: E402

SF_DIR = os.environ.get("CBO_LAYOUT_SF_DIR", "/root/testdata/sf0.01")
SCRATCH = "/tmp/spark_graft_scratch/cbo_layout_probe"
YEAR = "1995"


def scan_partitions_read(df) -> int | None:
    """numPartitions metric of the partitioned fact scan. Unlike the
    DPP case (which adds staticFilesNum/staticFilesSize), a statically
    pruned scan carries only the plain partitioned-scan driver metrics
    — so match any Scan node exposing numPartitions; the fact is the
    probe's only partitioned table, so at most one node matches."""
    jplan = df._jdf.queryExecution().executedPlan()
    if "Adaptive" in jplan.getClass().getSimpleName():
        jplan = jplan.executedPlan()
    stack = [jplan]
    while stack:
        node = stack.pop()
        if "Scan" in node.nodeName():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numPartitions":
                    return int(kv._2().value())
        if "QueryStage" in node.getClass().getSimpleName():
            stack.append(node.plan())
        ch = node.children().iterator()
        while ch.hasNext():
            stack.append(ch.next())
    return None


def shuffle_lines(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l or "Exchange rangepartitioning" in l
    ]


def main() -> int:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        # 8 = the bucket count, so the bucketed scan satisfies the
        # SMJ's required distribution without an Exchange
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.warehouse.dir", os.path.join(SCRATCH, "wh"))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for t in ("cbol_fact", "cbol_orders", "cbol_cust"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    li_raw = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    month = F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    o_raw = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c_raw = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )

    t0 = time.time()
    (
        li_raw.select("l_orderkey", "l_extendedprice", month)
        .write.mode("overwrite")
        .format("parquet")
        .partitionBy("ship_month")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(SCRATCH, "fact"))
        .saveAsTable("cbol_fact")
    )
    (
        o_raw.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(SCRATCH, "orders"))
        .saveAsTable("cbol_orders")
    )
    (
        c_raw.write.mode("overwrite")
        .format("parquet")
        .option("path", os.path.join(SCRATCH, "cust"))
        .saveAsTable("cbol_cust")
    )
    for t in ("cbol_fact", "cbol_orders", "cbol_cust"):
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
    t_land = time.time() - t0

    def query(fact, orders, cust, month_filter=None):
        # written order: fact x fact first, filtered dim last — the
        # shape only statistics can rescue. month_filter defaults to
        # the 12-month year slice; the negative control passes the
        # narrow Q1 filter instead.
        if month_filter is None:
            month_filter = F.col("ship_month").startswith(YEAR)
        return (
            fact.where(month_filter)
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(
                cust.where(F.col("c_mktsegment") == "BUILDING"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                sum_exact("l_extendedprice", 2).alias("sum_price"),
            )
            .orderBy("o_orderpriority")
        )

    def run(cbo: bool, month_filter=None):
        t0 = time.time()

        def body():
            df = query(
                spark.table("cbol_fact"),
                spark.table("cbol_orders"),
                spark.table("cbol_cust"),
                month_filter,
            )
            rows = df.collect()
            return df, rows

        if cbo:
            with conf_guard(spark, _CBO_CONFS):
                df, rows = body()
        else:
            df, rows = body()
        joins, sh_bytes = plan_metrics(df)
        sls = shuffle_lines(df)
        return {
            "wall_sec": round(time.time() - t0, 2),
            "first_join_rows": joins[-1][1] if joins else None,
            "joins": [f"{n}:{r}" for n, r in joins],
            "shuffle_bytes": sh_bytes,
            "fact_side_shuffled": any(
                "l_orderkey" in l or "l_extendedprice" in l for l in sls
            ),
            "parts_read": scan_partitions_read(df),
            "result": sorted(map(tuple, rows)),
        }

    off = run(cbo=False)
    on = run(cbo=True)

    # Negative control, executed every invocation (not just observed
    # once during development): with a 3-month filter the fact slice
    # drops BELOW the customer-filtered orders slice, so the written
    # order is already optimal and the DP must KEEP it — identical
    # first-join output with CBO off and on. A cost model that flipped
    # the tree unconditionally would fail this leg.
    q1 = F.col("ship_month").isin(f"{YEAR}-01", f"{YEAR}-02", f"{YEAR}-03")
    ctl_off = run(cbo=False, month_filter=q1)
    ctl_on = run(cbo=True, month_filter=q1)
    control_kept_order = (
        ctl_off["first_join_rows"] == ctl_on["first_join_rows"]
        and ctl_off.pop("result") == ctl_on.pop("result")
    )

    # plain twin: raw parquet, no layout, no stats, CBO off
    plain = (
        query(
            li_raw.select("l_orderkey", "l_extendedprice", month),
            o_raw,
            c_raw,
        )
        .collect()
    )
    plain_rows = sorted(map(tuple, plain))
    values_equal = off.pop("result") == on.pop("result") == plain_rows

    month_list = [
        r[0] for r in li_raw.select(month).distinct().collect()
    ]
    parts_total = len(month_list)
    parts_expected = sum(1 for m in month_list if m.startswith(YEAR))
    reduction = (
        round(off["first_join_rows"] / on["first_join_rows"], 1)
        if off["first_join_rows"] and on["first_join_rows"]
        else None
    )
    out = {
        "sf_dir": SF_DIR,
        "cbo_off": off,
        "cbo_on": on,
        "intermediate_reduction": reduction,
        "shuffle_bytes_ratio_off_over_on": (
            round(off["shuffle_bytes"] / on["shuffle_bytes"], 2)
            if on["shuffle_bytes"]
            else None
        ),
        "parts_expected": parts_expected,
        "parts_total": parts_total,
        "land_sec": round(t_land, 2),
        "values_equal_plain": values_equal,
        "control_first_join_rows": [
            ctl_off["first_join_rows"],
            ctl_on["first_join_rows"],
        ],
        "control_kept_order": control_kept_order,
    }
    print(json.dumps(out))
    ok = (
        values_equal
        and reduction is not None
        and reduction > 1.5
        and not off["fact_side_shuffled"]
        and not on["fact_side_shuffled"]
        and off["parts_read"] == on["parts_read"] == parts_expected
        and parts_expected < parts_total
        and control_kept_order
    )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
