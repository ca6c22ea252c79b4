"""Star-schema builder (SURVEY.md §2.4-2.5: D1-D3, J1-J4).

The reference's core deliverable: 4 dimension tables built by
drop_duplicates + index-as-id (transformation_pipeline.py:72-93) and a
fact table built by 4 chained pandas merges (:96-99) projected to 12
columns (:102-115).

Spark-first design decisions (vs the pandas original):

- **Surrogate keys** (D3): the reference's ``reset_index()+1`` ids depend
  on first-occurrence input order — meaningless under parallelism. We
  assign ``row_number() OVER (ORDER BY natural_key)``: dense, 1-based,
  deterministic, reproducible. Ids are opaque; the preserved invariant is
  referential integrity (every fact row joins back to exactly one dim
  row). ``monotonically_increasing_id`` rejected — non-dense, partition-
  dependent.
- **Dim builds shuffle once** (the distinct) and are tiny relative to the
  fact; at 100 TB the fact side never shuffles for the join because every
  dim is **broadcast** (J1-J3). A dim too big to broadcast would fall
  back to sort-merge automatically via AQE.
- **Null-safe key join** (J4): pd.cut can emit null bins
  (transformation_pipeline.py:60) and pandas merge matches NaN == NaN
  (:99). Spark's ``=`` drops null keys, so the stock-tier join uses
  ``eqNullSafe`` — semantic parity, not a perf choice.
- The window in the surrogate-key assignment is unpartitioned — a global
  sort. That is correct here because dims are small *by construction*
  (distinct of a low-cardinality key). For a high-cardinality dim, switch
  to zipWithIndex-style per-partition offsets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import stage, to_col


def build_dim(
    df: DataFrame,
    natural_key: Sequence[str],
    id_col: str,
    over_budget: bool | None = None,
) -> DataFrame:
    """D1/D2 (distinct) + D3 (surrogate key) in one plan.

    distinct() matches pandas drop_duplicates (nulls compare equal in
    both); row_number over the natural-key order gives dense 1-based ids
    (transformation_pipeline.py:72-93 analogue, determinism fixed).

    Guardrail (VERDICT r6 item 6): when the INPUT exceeds the
    exact-global-sort budget (``operators.scale.EXACT_SORT_BUDGET``,
    10M rows — probed with an early-stopping zero-column scan), the id assignment
    routes to :func:`operators.scale.dense_ids_scale`, whose range-
    partition + offset construction is bit-identical to the global
    row_number — same ids, no single-task sort. The input count is a
    conservative upper bound on the distinct-key count, so a 100 TB
    fact with a tiny dim key routes to the scale path too: correct
    either way, and the probe never shuffles the data. Ids stay int
    for schema stability, with an in-plan raise_error past 2^31-1
    (a dim that wide must call dense_ids_scale directly for long ids).

    ``over_budget`` lets a caller that already probed the same input
    (build_star probes once for the whole star) skip the per-dim
    re-probe; None keeps the self-probing behavior.
    """
    from books2scrape_etl_spark.operators.scale import (
        dense_ids_scale,
        exceeds_exact_sort_budget,
    )

    cols = list(natural_key)
    if over_budget is None:
        over_budget = exceeds_exact_sort_budget(df)
    if over_budget:
        keyed = dense_ids_scale(df, cols, id_col)
        guarded = F.when(
            F.col(id_col) > F.lit(2_147_483_647),
            F.raise_error(
                F.lit(
                    f"build_dim: >2^31-1 distinct keys for {id_col}; "
                    "use dense_ids_scale directly for long ids"
                )
            ).cast("long"),
        ).otherwise(F.col(id_col))
        return keyed.select(
            guarded.cast("int").alias(id_col), *cols
        )
    w = Window.orderBy(*[to_col(c).asc_nulls_first() for c in cols])
    return (
        df.select(*[to_col(c).alias(c) for c in cols])
        .distinct()
        .withColumn(id_col, F.row_number().over(w).cast("int"))
        .select(id_col, *cols)
    )


def build_dims_one_pass(
    df: DataFrame, dim_specs: dict[str, tuple[Sequence[str], str]]
) -> dict[str, DataFrame]:
    """All dims of a star in ONE pass over the input (exact path).

    ``build_dim`` per dim costs one full input scan plus one distinct
    shuffle EACH. Here every dim's natural key becomes one grouping set
    of a single aggregation: one scan, one Expand (x n_dims on the
    projected key columns only), one map-side-combining aggregate, one
    shuffle — and because every dim branch filters the SAME aggregate
    subtree by grouping_id, Catalyst's ReuseExchange collapses the n
    branch copies into one executed exchange. Per-dim id assignment is
    the identical row_number-over-sorted-distinct as build_dim's exact
    path, so results are bit-identical dim by dim.

    Exact path only: callers route fact-sized inputs through
    ``build_dim``'s budget guard / ``dense_ids_scale`` instead (the
    per-dim global sort here is correct only for dim-sized key sets).

    Dims sharing the same natural-key SET (including permuted column
    orders) share ONE grouping set: duplicate grouping sets would give
    the shared grouping_id two copies of every key row, silently
    doubling each such dim (ADVICE r12). Each dim still gets its own
    column order and its own row_number assignment over the shared
    rows — bit-identical to its build_dim result.
    """
    all_cols: list[str] = []
    for natural_key, _ in dim_specs.values():
        for c in natural_key:
            if c not in all_cols:
                all_cols.append(c)
    # one grouping set per UNIQUE key set (set-wise: permutations share)
    set_cols: dict[frozenset, list[str]] = {}
    for natural_key, _ in dim_specs.values():
        set_cols.setdefault(frozenset(natural_key), list(natural_key))
    sets = list(set_cols.values())
    # staged: the per-dim grouping_id filters would otherwise be pushed
    # BELOW the aggregate (each branch gets its own filtered copy of the
    # scan+Expand+agg subtree — three full input scans again, and the
    # differing pushed filters defeat exchange reuse). The cached frame is the union of the distinct key sets —
    # dim-sized by the exact-path contract — so every dim branch reads
    # the one materialized aggregate instead of re-scanning the input;
    # a rebuild of the same star retires the previous cache entry.
    g = stage(df.groupingSets(sets, *all_cols).agg(F.grouping_id().alias("__gid")))
    dims: dict[str, DataFrame] = {}
    for name, (natural_key, id_col) in dim_specs.items():
        s = set_cols[frozenset(natural_key)]
        # grouping_id: bit j (MSB-first over all_cols) set when the
        # column is AGGREGATED (not in this dim's set)
        gid = 0
        for j, c in enumerate(all_cols):
            if c not in s:
                gid |= 1 << (len(all_cols) - 1 - j)
        dvals = g.where(F.col("__gid") == gid).select(*natural_key)
        w = Window.orderBy(*[to_col(c).asc_nulls_first() for c in natural_key])
        dims[name] = dvals.withColumn(
            id_col, F.row_number().over(w).cast("int")
        ).select(id_col, *natural_key)
    return dims


def join_dim(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    null_safe: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """J1-J4 — inner equi-join of the fact against one dim.

    ``broadcast=True`` pins a broadcast-hash join (dims are small by
    construction; belt-and-braces on top of AQE). ``null_safe=True``
    switches every key predicate to ``eqNullSafe`` for pandas
    NaN-matches-NaN parity (J4, transformation_pipeline.py:99).
    """
    d = F.broadcast(dim) if broadcast else dim
    if not null_safe:
        return fact.join(d, on=list(on), how="inner")
    cond = None
    for c in on:
        pred = fact[c].eqNullSafe(d[c])
        cond = pred if cond is None else cond & pred
    joined = fact.join(d, cond, "inner")
    # drop the dim-side duplicate key columns, keep fact side
    for c in on:
        joined = joined.drop(d[c])
    return joined


def build_star(
    cleaned: DataFrame,
    dim_specs: dict[str, tuple[Sequence[str], str]],
    measures: Sequence[str],
    null_safe_dims: Sequence[str] = (),
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Build all dims then the fact in one composed plan.

    ``dim_specs``: dim name -> (natural key cols, id col name).
    ``measures``: fact-side columns carried into the fact table.
    Returns (dims, fact). Fact = cleaned joined to every dim (broadcast),
    projected to ids + measures — the projection is pushed below the
    joins by Catalyst (column pruning), unlike the reference which
    carries all columns through 4 merges (SURVEY.md §4.1).
    """
    from books2scrape_etl_spark.operators.scale import exceeds_exact_sort_budget

    # ONE budget probe for the whole star (build_dim would re-probe the
    # same input once per dim — the probe result is passed down so the
    # over-budget branch also pays exactly one probe); under budget all
    # dims come from the single-pass grouping-sets build, over budget
    # each routes through build_dim's dense_ids_scale path as before.
    if exceeds_exact_sort_budget(cleaned):
        dims = {
            name: build_dim(cleaned, natural_key, id_col, over_budget=True)
            for name, (natural_key, id_col) in dim_specs.items()
        }
    else:
        dims = build_dims_one_pass(cleaned, dim_specs)
    fact = cleaned
    for name, (natural_key, id_col) in dim_specs.items():
        fact = join_dim(fact, dims[name], natural_key, null_safe=name in null_safe_dims)
    id_cols = [id_col for (_, id_col) in dim_specs.values()]
    fact = fact.select(*id_cols, *[to_col(m).alias(m) for m in measures])
    return dims, fact
