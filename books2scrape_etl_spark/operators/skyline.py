"""2-D Pareto skyline (dominance frontier) — the classic OLAP
"best tradeoff" operator: keep every point not dominated by another
(here: minimize ``x``, maximize ``y``; a point is dominated when some
other point is <= on x AND >= on y with at least one strict).

Scale construction (no global sort, no all-pairs join):

1. collapse to one CANDIDATE per distinct x — ``max(y)`` (anything
   below the per-x max is dominated by it) plus a count of collapsed
   rows. One map-side-combining aggregate; output cardinality is the
   x-domain granularity (e.g. distinct prices), data-size-independent.
2. bucket candidates by a fixed-width range on x; the within-bucket
   dominance test is a PARTITIONED window (prefix max of y over
   strictly-smaller x inside the bucket) — each task sees one bucket's
   candidates, never the world.
3. cross-bucket dominance via the offsets pattern
   (operators/scale.py:dense_ids_scale): per-bucket ``max(y)`` is one
   tiny row per bucket; prefix-max them on the driver in bucket order
   and broadcast-join back. A candidate survives iff its y strictly
   exceeds BOTH the within-bucket prefix max and every strictly-lower
   bucket's max.

Bucket boundaries are value-based (``x DIV width``), so every point in
a strictly lower bucket has strictly smaller x — the two levels
compose into exactly the global "max y over all strictly smaller x"
test, bit-identical to a single global window, and one SQL oracle
verifies both formulations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import stage


def skyline_2d(
    df: DataFrame,
    x: str,
    y: str,
    bucket_width: int = 100,
) -> DataFrame:
    """Skyline of (minimize ``x``, maximize ``y``); returns
    ``(x, y, n_rows)`` — the frontier points plus the size of the
    per-x group each one collapsed (every input row sharing that x,
    frontier or not). Duplicate frontier points (same x AND y) are
    mutually non-dominating and fold into one output row."""
    # consumed twice (bucket-max action + final filter): stage the
    # domain-sized rollup instead of re-scanning the input
    cand = stage(
        df.select(F.col(x).alias("x"), F.col(y).alias("y"))
        .groupBy("x")
        .agg(F.max("y").alias("y"), F.count(F.lit(1)).alias("n_rows"))
    )
    bucketed = cand.withColumn(
        "__b", F.col("x").cast("bigint") - (F.col("x").cast("bigint") % bucket_width)
    )
    w = (
        Window.partitionBy("__b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn("__lm", F.max("y").over(w))
    # one tiny row per bucket -> prefix-max on the driver, broadcast back
    bmax = sorted(
        (r["__b"], r["m"])
        for r in bucketed.groupBy("__b").agg(F.max("y").alias("m")).collect()
    )
    prev, acc = [], None
    for b, m in bmax:
        prev.append((b, acc))
        acc = m if acc is None else max(acc, m)
    offsets = df.sparkSession.createDataFrame(
        prev, "__b long, __pm long"
    )
    keep = (
        local.join(F.broadcast(offsets), "__b")
        .where(
            (F.col("__lm").isNull() | (F.col("y") > F.col("__lm")))
            & (F.col("__pm").isNull() | (F.col("y") > F.col("__pm")))
        )
        .select("x", "y", "n_rows")
    )
    return keep
