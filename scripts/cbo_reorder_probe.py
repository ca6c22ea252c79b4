"""CBO join-reorder win, measured (round 11): how much intermediate
volume does the optimizer's reorder of `join_reorder_cbo`'s
deliberately bad join order actually save?

The qname + plan test prove the TREE flips (query_defs38); this probe
reads the executed plan's join metrics to quantify it. The written
order joins fact x fact first and filters through the tiny dim last,
so its FIRST join materializes every lineitem match; the reordered
plan pushes the ~1/5-selective customer filter through orders before
lineitem ever joins. At 100 TB the difference is materializing (and,
in a shuffle join, exchanging) the full fact-fact join versus a
filtered slice — the first-join output row count below IS that ratio.

    python scripts/cbo_reorder_probe.py                  # sf0.01
    CBO_PROBE_SF_DIR=/root/testdata/sf0.1 python ...     # scale point
    CBO_PROBE_NO_BROADCAST=1 python ...                  # shuffle mode

`CBO_PROBE_NO_BROADCAST=1` disables auto-broadcast so both joins run
as shuffle joins — the cluster-scale shape where the written order's
waste is WIRE bytes, not just probe CPU; the probe then also sums
shuffle bytes written across the plan's exchanges per variant.

Prints one JSON line: per-variant wall seconds, the first (deepest)
join's output rows, shuffle bytes (no-broadcast mode), and the
value-equality check (reorder is a pure optimization).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CBO_PROBE_SF_DIR", "/root/testdata/sf0.01")
NO_BROADCAST = os.environ.get("CBO_PROBE_NO_BROADCAST", "0") == "1"


def _walk(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        if "QueryStage" in n.getClass().getSimpleName():
            stack.append(n.plan())
        ch = n.children().iterator()
        while ch.hasNext():
            stack.append(ch.next())


def plan_metrics(df) -> tuple[list[tuple[str, int]], int]:
    """((join node name, numOutputRows) deepest-last, total shuffle
    bytes written across the plan's exchanges)."""
    jplan = df._jdf.queryExecution().executedPlan()
    if "Adaptive" in jplan.getClass().getSimpleName():
        jplan = jplan.executedPlan()
    joins: list[tuple[str, int]] = []
    shuffle_bytes = 0
    for n in _walk(jplan):
        name = n.nodeName()
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if "Join" in name and kv._1() == "numOutputRows":
                joins.append((name, int(kv._2().value())))
            if "Exchange" in name and kv._1() == "shuffleBytesWritten":
                shuffle_bytes += int(kv._2().value())
    return joins, shuffle_bytes


def main() -> int:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if NO_BROADCAST:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    from books2scrape_etl_spark.functions.util import conf_guard
    from books2scrape_etl_spark.query_defs38 import _CBO_CONFS, build_cbo_join

    def run(label: str, guard):
        t0 = time.time()
        if guard:
            with conf_guard(spark, _CBO_CONFS):
                df = build_cbo_join(spark, SF_DIR)
                rows = df.collect()
                joins, sh = plan_metrics(df)
        else:
            df = build_cbo_join(spark, SF_DIR)
            rows = df.collect()
            joins, sh = plan_metrics(df)
        return {
            "wall_sec": round(time.time() - t0, 2),
            # the deepest join executes first; its output is the
            # intermediate the next join consumes
            "first_join_rows": joins[-1][1] if joins else None,
            "joins": [f"{n}:{r}" for n, r in joins],
            "shuffle_bytes": sh if NO_BROADCAST else None,
            "result": sorted(map(tuple, rows)),
        }

    off = run("cbo_off", guard=False)
    on = run("cbo_on", guard=True)
    same = off.pop("result") == on.pop("result")
    out = {
        "sf_dir": SF_DIR,
        "cbo_off": off,
        "cbo_on": on,
        "intermediate_reduction": (
            round(off["first_join_rows"] / on["first_join_rows"], 1)
            if off["first_join_rows"] and on["first_join_rows"]
            else None
        ),
        "values_equal": same,
    }
    print(json.dumps(out))
    spark.stop()
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
