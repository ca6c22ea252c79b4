"""Binning / bucketing operators (SURVEY.md §2.3, B1-B2).

These are the reference's signature derived-dimension ops:
``pd.cut`` fixed-edge binning (transformation_pipeline.py:58-60) and
``pd.qcut`` quantile binning (:63). Both are re-expressed as Catalyst
expressions. An exact ntile needs a global order — the one place
reference semantics and 100 TB scale genuinely tension (SURVEY.md
§7.4) — so the quantile op takes the window form below the exact-sort
budget and :func:`operators.scale.ntile_scale` above it: the same
tiers either way, with no single-task sort at scale. The sketch-edge
variant :func:`bin_quantile_approx` stays as an explicit operator for
callers that accept approximate value edges.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import to_col


def bin_fixed(
    col: Column | str,
    edges: Sequence[float],
    labels: Sequence[str],
    right: bool = False,
) -> Column:
    """B1 — fixed-edge binning as a chained CASE.

    Parity with ``pd.cut(bins=edges, labels=labels, right=False)``
    (transformation_pipeline.py:58-60): half-open ``[lo, hi)`` intervals
    when ``right=False`` (so stock=10 -> 'Low', 18 -> 'Healthy'),
    out-of-range values -> null (pd.cut NaN semantics). Pure expression:
    codegen'd, no shuffle, no UDF.
    """
    if len(labels) != len(edges) - 1:
        raise ValueError("need len(labels) == len(edges) - 1")
    c = to_col(col)
    out = None
    for lo, hi, label in zip(edges, edges[1:], labels):
        if right:
            cond = (c > F.lit(lo)) & (c <= F.lit(hi))
        else:
            cond = (c >= F.lit(lo)) & (c < F.lit(hi))
        out = F.when(cond, label) if out is None else out.when(cond, label)
    return out.otherwise(F.lit(None))


def bin_quantile_exact(
    df: DataFrame,
    col: str,
    labels: Sequence[str],
    out_col: str = "tier",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """B2 (exact) — equal-frequency n-tile labels via ``ntile`` window.

    Parity target: ``pd.qcut(price, q=len(labels), labels=...)``
    (transformation_pipeline.py:63). Deviation noted per SURVEY.md §7.4:
    qcut bins by value edges (ties share a bin) while ntile splits ties
    across bins; the engine defines the semantics as ntile with a
    deterministic ORDER BY (col, *tiebreak) — the same thing DuckDB's
    ``ntile`` does, which is what the oracle checks.

    Scale note: an unpartitioned window is a single-task global sort —
    fine at test SF, wrong at 100 TB. Use :func:`bin_quantile` there,
    which takes :func:`operators.scale.ntile_scale` above the budget.
    """
    order = [to_col(col).asc(), *[to_col(t).asc() for t in tiebreak]]
    w = Window.orderBy(*order)
    n = len(labels)
    # materialize the tile once, then label it: referencing ntile() inside
    # each CASE branch makes Spark evaluate N window expressions per row
    # (visible as _we0.._weN in the plan)
    tiled = df.withColumn("__tile", F.ntile(n).over(w))
    return tiled.withColumn(out_col, _tile_label(labels, F.col("__tile"))).drop("__tile")


def _tile_label(labels: Sequence[str], tile: Column) -> Column:
    """The 1-based ``tile``'s label."""
    return F.element_at(F.array(*[F.lit(x) for x in labels]), tile)


def bin_quantile_approx(
    df: DataFrame,
    col: str,
    labels: Sequence[str],
    out_col: str = "tier",
    relative_error: float = 0.001,
) -> DataFrame:
    """B2 (scale variant) — approxQuantile edges + CASE, no global sort.

    Computes n-1 interior quantile edges with the Greenwald-Khanna sketch
    (one pass, mergeable across partitions, no shuffle of the data
    itself), then labels rows with a broadcastable CASE expression. This
    is the 100 TB path: the exact ntile's single-task sort disappears;
    the cost is edge-approximation bounded by ``relative_error``.
    """
    n = len(labels)
    probs = [i / n for i in range(1, n)]
    c = to_col(col)
    edges = df.select(c.alias("__q")).approxQuantile("__q", probs, relative_error)
    expr = None
    for i, lab in enumerate(labels):
        if i < len(edges):
            cond = c <= F.lit(edges[i])
        else:
            cond = F.lit(True)
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
    return df.withColumn(out_col, expr)


def bin_quantile(
    df: DataFrame,
    col: str,
    labels: Sequence[str],
    out_col: str = "tier",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """B2 — exact ntile tiers at any input size (VERDICT r6 item 6):
    the window form (:func:`bin_quantile_exact`) below the
    exact-global-sort budget, :func:`operators.scale.ntile_scale` above
    it, so no caller can accidentally single-task-sort a 100 TB fact by
    asking for quantile tiers. Both branches order by
    ``(col, *tiebreak)`` and split ties across tiers identically, so no
    tier depends on which side of the budget the input falls.

    The budget is ``operators.scale.EXACT_SORT_BUDGET`` rows (10M);
    the row probe early-stops (see
    :func:`operators.scale.exceeds_exact_sort_budget`)."""
    from books2scrape_etl_spark.operators.scale import exceeds_exact_sort_budget, ntile_scale

    if exceeds_exact_sort_budget(df):
        tiled = ntile_scale(df, [col, *tiebreak], len(labels), out_col="__tile")
        tile = F.col("__tile").cast("int")
        return tiled.withColumn(out_col, _tile_label(labels, tile)).drop("__tile")
    return bin_quantile_exact(df, col, labels, out_col, tiebreak)
