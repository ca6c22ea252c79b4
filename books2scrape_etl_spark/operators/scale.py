"""Scale-path operators (SURVEY.md §7.4.2/§7.4.6): the distributed
replacements for the two global-sort constructs, plus skew handling.

These exist because two reference semantics — dense surrogate keys
(transformation_pipeline.py:73-91) and quantile tiers (:63) — naively
need a global sort, which single-tasks at 100 TB. ``plans/star.py``
uses the exact forms on dimension-sized data (correct there by
construction); this module provides the fact-sized variants. The four
ordered operators are lazy plans — building one starts no Spark job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import conf_guard, stage, to_col

# Cap on order-bucket count (VERDICT r12 item 3 / ADVICE r12). The
# bucket id counts the boundaries at-or-below the key, evaluated per
# row, so its cost is O(n_boundaries): uncapped it tracks
# defaultParallelism, and on a several-thousand-core cluster that is
# O(n) work per row where a range partitioner binary-searches in
# O(log n). 256 buckets keeps it a few hundred struct comparisons per
# row and the per-bucket counts table at most 256 rows per partition
# value; balance degrades gracefully (each bucket simply holds 1/256th
# of the sampled mass).
_MAX_ORDER_BUCKETS = 256


def _q(col: str) -> str:
    """``col`` as a SQL identifier (the reference's column names hold
    spaces and dots)."""
    return "`" + col.replace("`", "``") + "`"


def _key_struct(key_cols: Sequence[str]) -> str:
    return "struct(" + ", ".join(_q(c) for c in key_cols) + ")"


def _order_bounds(
    df: DataFrame, key_cols: Sequence[str], n_buckets: int, per_bucket: int = 64
) -> DataFrame:
    """One row, one column ``__b``: ``n_buckets - 1`` key structs, sorted,
    to use as bucket boundaries (``n_buckets`` clamped to
    ``[2, _MAX_ORDER_BUCKETS]``).

    The sample is the ``per_bucket * n_buckets`` rows of smallest
    ``xxhash64(keys)`` — a TakeOrderedAndProject (a per-partition heap
    plus a small merge, never a global sort); hashing is uniform over
    distinct keys, so its order statistics estimate the key-space
    quantiles. The keys break hash ties, so the sample, and with it
    every boundary, is a deterministic function of the input rows: each
    branch of the plan that reads the boundaries sees the same ones.
    ``sort_array`` orders the sampled structs by Spark's struct
    ordering (field by field, nulls first — ``asc_nulls_first``), and
    every ``len/n``-th of them is a boundary.

    Boundaries steer BALANCE only, never values: the consumer buckets
    keys by the monotone count of boundaries at-or-below the key, so any
    boundary set whatsoever yields the same final ids (see
    dense_ids_scale). A skewed sample costs balance, not correctness.
    """
    n = max(2, min(n_buckets, _MAX_ORDER_BUCKETS))
    # an empty sample gives no boundaries: the index sequence is
    # filtered first, so the element lookup never runs on an empty array
    return (
        df.selectExpr(f"{_key_struct(key_cols)} AS __k")
        .orderBy(F.expr("xxhash64(__k)"), F.col("__k"))
        .limit(per_bucket * n)
        .agg(F.expr("sort_array(collect_list(__k)) AS __s"))
        .selectExpr(
            f"transform(filter(sequence(1, {n - 1}), __i -> size(__s) > 0),"
            f" __i -> __s[(__i * size(__s)) div {n}]) AS __b"
        )
    )


def _bucket_ranked(
    df: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[str],
    num_partitions: int | None,
    local: Sequence[str] = (),
    totals: Sequence[str] = (),
) -> DataFrame:
    """The shared two-phase construction, as one lazy plan. ``_RANK``
    over the result is the row's 1-based rank within its partition
    (rows with equal ``part_cols``) in ``order_cols`` order, nulls
    first; ``__tot0`` is the partition's row count.

    1. Bucket the rows by an order-monotone int ``__bkt`` over
       ``(*part_cols, *order_cols)``: the number of boundary structs
       (:func:`_order_bounds`, a one-row broadcast cross-joined onto
       every row) at or below the row's key struct. Equal keys share a
       bucket and bucket i's keys precede bucket i+1's, so a partition
       spans a run of consecutive buckets. Number each bucket's rows in
       key order, ``__rn``: ONE hash exchange, and no task holds more
       than a bucket. Each ``local`` SQL window function (``__cum{i}``)
       runs over the same running frame: the bucket's rows so far
       (callers pass them only without ``part_cols``).
    2. Per (partition, bucket) take the first and last row numbers
       (their span is the row count) and each ``totals`` SQL aggregate
       (``__t{i}``, i from 1). A broadcast self-join of that table (at
       most 256 rows per partition) gives ``__off0``, the row count of
       the partition's earlier buckets, ``__off{i}``, the sum of their
       ``__t{i}``, and ``__tot0``, the partition's row count; it is
       joined back, broadcast. No window runs over the counts.

    The ranked rows are staged (``functions.util.stage``, a lazy
    persist: building still starts no job). The per-bucket counts and
    the rows joined back read that one cache, so only the boundary
    sample and the ranking read the input; the counts add one small
    exchange of per-bucket partial aggregates, which both sides of the
    self-join share.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    key = _key_struct([*part_cols, *order_cols])
    over = (
        "OVER (PARTITION BY __bkt ORDER BY "
        + ", ".join(f"{_q(c)} ASC NULLS FIRST" for c in (*part_cols, *order_cols))
        + " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    bucketed = df.crossJoin(F.broadcast(_order_bounds(df, [*part_cols, *order_cols], n)))
    ranked = stage(
        bucketed.selectExpr(
            *[_q(c) for c in df.columns],
            f"size(filter(__b, __bound -> __bound <= {key})) AS __bkt",
        ).selectExpr(
            "*",
            f"row_number() {over} AS __rn",
            *[f"{f} {over} AS __cum{i}" for i, f in enumerate(local)],
        )
    )
    parts = [f"__p{j}" for j in range(len(part_cols))]
    sums = [f"__t{i + 1}" for i in range(len(totals))]
    # the count as a row-number span over the staged rows
    per = (
        ranked.groupBy(*[F.col(_q(c)) for c in part_cols], F.col("__bkt"))
        .agg(F.expr("min(__rn)"), F.expr("max(__rn)"), *[F.expr(t) for t in totals])
        .toDF(*parts, "__obkt", "__first", "__last", *sums)
    )
    other = per.toDF(*[f"{c}o" for c in per.columns])
    same_part = " AND ".join(["true", *[f"{p} <=> {p}o" for p in parts]])
    # both sides keep every column of ``per`` (the offsets group by all
    # of them), so they read one aggregate and share its exchange
    counts = ["(__lasto - __firsto + 1)", *[f"{t}o" for t in sums]]
    offsets = (
        per.join(F.broadcast(other), F.expr(same_part))
        .groupBy(*per.columns)
        .agg(
            *[F.expr(f"sum(IF(__obkto < __obkt, {t}, 0)) AS __off{i}") for i, t in enumerate(counts)],
            F.expr(f"sum({counts[0]}) AS __tot0"),
        )
    )
    on = " AND ".join(
        ["__bkt = __obkt", *[f"{_q(c)} <=> {p}" for c, p in zip(part_cols, parts)]]
    )
    return ranked.join(F.broadcast(offsets), F.expr(on))


_RANK = "(__off0 + __rn - __first + 1)"


def dense_ids_scale(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense, 1-based, deterministic ids over distinct keys WITHOUT a
    single-task global sort — the 100 TB replacement for
    ``row_number() OVER (ORDER BY keys)``.

    Two-phase construction (:func:`_bucket_ranked`): bucket the
    distinct keys by an order-MONOTONE bucket column (bucket i holds
    keys below all of bucket i+1 by construction) and rank within each
    bucket; the per-bucket counts, prefix-summed by a broadcast
    self-join, are the offsets: id = offset[bucket] + local_rank.

    The result is bit-identical to the exact global row_number (the
    buckets concatenated in bucket-id order ARE the total order — ANY
    boundary set yields the same ids, boundaries only balance the
    buckets), so the same SQL oracle verifies both forms. Work per task
    is bounded by the largest bucket; no task ever sees the whole key
    set. Building it starts no Spark job.
    """
    cols = [_q(c) for c in key_cols]
    d = df.selectExpr(*cols).distinct()
    ranked = _bucket_ranked(d, [], key_cols, num_partitions)
    return ranked.selectExpr(f"CAST({_RANK} AS BIGINT) AS {_q(id_col)}", *cols)


def percent_rank_scale(
    df: DataFrame,
    group_col: str,
    order_cols: Sequence[str],
    out_col: str = "q",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group percent_rank WITHOUT one-task-per-group windows — the
    100 TB replacement for ``percent_rank() OVER (PARTITION BY g ORDER
    BY ...)`` when the group column is low-cardinality (each exact-form
    window partition would be a single task holding a whole group).

    The :func:`dense_ids_scale` construction with the group as the
    partition column: a group spans a RUN of consecutive buckets, each
    task bounded by the bucket size; rank = offset + local_rank,
    q = (rank-1)/(n_group-1).

    ``order_cols`` must be a total order within each group (include a
    tiebreak key); then the global rank is bit-identical to the exact
    window form and the SAME oracle verifies both. Single-row groups
    get q = 0.0 (the engines' own percent_rank convention).
    """
    ranked = _bucket_ranked(df, [group_col], order_cols, num_partitions)
    q = (
        f"IF(__tot0 > 1, CAST({_RANK} - 1 AS DOUBLE) / CAST(__tot0 - 1 AS DOUBLE), 0.0)"
    )
    return ranked.selectExpr(*[_q(c) for c in df.columns], f"{q} AS {_q(out_col)}")


def ntile_scale(
    df: DataFrame,
    order_cols: Sequence[str],
    n_tiles: int,
    out_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``ntile(n) OVER (ORDER BY order_cols)`` WITHOUT a
    single-task window — bit-identical to the exact window form, so the
    same SQL oracle verifies both (the dense_ids_scale guarantee).

    The :func:`dense_ids_scale` construction kept row-preserving (no
    distinct): the global rank = offset + local rank, and the total is
    the sum of the bucket counts. The rank maps to the tile with
    ntile's own split rule — the first ``total % n`` tiles hold
    ``total DIV n + 1`` rows, the rest ``total DIV n`` — in exact
    integer arithmetic (``ceil(a/b) = (a+b-1) DIV b``); with fewer rows
    than tiles each row gets its own tile.

    ``order_cols`` must be a total order (include a tiebreak key); ties
    then split across tiles deterministically, exactly as the window
    form with the same ORDER BY does.
    """
    ranked = _bucket_ranked(df, [], order_cols, num_partitions)
    q = f"(__tot0 div {n_tiles})"
    big = f"((__tot0 % {n_tiles}) * ({q} + 1))"  # rows in the (q+1)-sized tiles
    tile = (
        f"CASE WHEN {q} = 0 THEN {_RANK}"
        f" WHEN {_RANK} <= {big} THEN ({_RANK} + {q}) div ({q} + 1)"
        f" ELSE __tot0 % {n_tiles} + ({_RANK} - {big} + {q} - 1) div {q} END"
    )
    return ranked.selectExpr(
        *[_q(c) for c in df.columns], f"CAST({tile} AS BIGINT) AS {_q(out_col)}"
    )


def prefix_sums_scale(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running SUMs over a total order WITHOUT a single-task
    window — the 100 TB replacement for
    ``sum(x) OVER (ORDER BY keys ROWS UNBOUNDED PRECEDING)``.

    The :func:`dense_ids_scale` construction with sums in place of
    counts: cumulative-sum each ``sum_cols`` within its bucket, and add
    the bucket totals of the earlier buckets:
    running = offset[bucket] + local_running. Adds ``cum_<c>`` per
    sum column.

    Integer sums only (the caller guarantees BIGINT columns): integer
    addition is associative, so the result is bit-identical to the
    exact global window and the same SQL oracle verifies both forms.
    ``order_cols`` must be a total order (include a tiebreak key) for
    the row-frame cumulative to be deterministic.
    """
    sums = [f"sum({_q(c)})" for c in sum_cols]
    ranked = _bucket_ranked(df, [], order_cols, num_partitions, sums, sums)
    return ranked.selectExpr(
        *[_q(c) for c in df.columns],
        *[
            f"CAST(__off{i + 1} + __cum{i} AS BIGINT) AS {_q('cum_' + c)}"
            for i, c in enumerate(sum_cols)
        ],
    )


def _topk_prune_fn(n_groups: int, k: int):
    """mapInArrow body for topk_per_group_scale's local prune. Rows
    arrive sorted DESC by the candidate struct (Spark's OWN struct
    ordering — the sort runs in the JVM before the boundary), so
    keeping a group's global top-k candidates is just "pass the first
    k rows per group": Python does no ordering work at all, only a
    per-group counter keyed on group-value equality. State is one int
    per distinct group in the partition; output is ≤ k rows per
    (partition, group).
    """

    def canon(v):
        # grouping EQUALITY only (never ordering): fold float NaNs into
        # one key, matching Spark's grouping which treats NaNs as equal
        if isinstance(v, float) and v != v:
            return "__nan__"
        return v

    def prune(batches):
        import pyarrow as pa

        counts: dict = {}
        for batch in batches:
            gvals = [batch.column(i).to_pylist() for i in range(n_groups)]
            mask = []
            append = mask.append
            for t in zip(*gvals):
                key = tuple(canon(v) for v in t)
                c = counts.get(key, 0)
                if c < k:
                    counts[key] = c + 1
                    append(True)
                else:
                    append(False)
            if all(mask):
                yield batch
            else:
                yield batch.filter(pa.array(mask, type=pa.bool_()))

    return prune


def topk_per_group_scale(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    k: int,
) -> DataFrame:
    """Per-group top-k WITHOUT a per-group window sort over all rows —
    the 100 TB replacement for
    ``row_number() OVER (PARTITION BY g ORDER BY o DESC) <= k``
    when groups are huge: the ONLY exchange carries at most k rows per
    (input-partition, group), never the group's full contents.

    Two-phase construction:
    1. local prune BEFORE any exchange: sort each input partition DESC
       by the candidate struct (JVM local sort — no shuffle), then an
       Arrow-batched streaming counter (``mapInArrow``) passes the
       first k rows per group per partition. Ordering stays entirely
       Spark's (the counter never compares values, guide §8's
       "decide with small state" shape); the earlier all-JVM form
       shipped complete per-(partition, group) ``collect_list``
       buffers through an extra exchange — unbounded bytes, and a
       single giant buffer row for a hot group.
    2. regroup the ≤ k-per-partition candidates by group alone and
       take the global top-k of the flattened candidates
       (``slice(sort_array(collect_list(...), desc), 1, k)`` over
       ≤ k x n_partitions rows per group).

    Ordering is DESC-lexicographic over ``order_cols`` in the given
    field order (append a unique tiebreak column for determinism) —
    bit-identical to the window form's ``ORDER BY o1 DESC, o2 DESC``,
    so the same SQL oracle verifies both: any row pruned locally has k
    candidates at-or-above it in its own partition, so it can never
    appear in the global top-k (with ties, only equal-valued — hence
    interchangeable — candidate structs substitute for each other).
    Returns the group columns plus ``rank`` (1-based) and the order
    columns.
    """
    if not group_cols:
        raise ValueError("topk_per_group_scale requires group_cols")
    groups = [to_col(c).alias(c) for c in group_cols]
    o_struct = F.struct(*[to_col(c).alias(c) for c in order_cols])
    staged = df.select(*groups, o_struct.alias("__c")).sortWithinPartitions(
        F.col("__c").desc()
    )
    local = staged.mapInArrow(_topk_prune_fn(len(group_cols), k), staged.schema)
    merged = local.groupBy(*group_cols).agg(
        F.slice(F.sort_array(F.collect_list("__c"), asc=False), 1, k).alias("__top")
    )
    exploded = merged.select(
        *group_cols, F.posexplode("__top").alias("__pos", "__c")
    )
    return exploded.select(
        *group_cols,
        (F.col("__pos") + 1).cast("bigint").alias("rank"),
        *[F.col(f"__c.{c}").alias(c) for c in order_cols],
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
    salt_src: Sequence[str] = (),
) -> DataFrame:
    """Skew-safe equi-join: explode the small side ``salt_buckets``
    times, salt the big side deterministically, join on (key, salt).

    A hot key that would land its entire volume on one reducer is
    spread across ``salt_buckets`` tasks; join semantics are unchanged
    (every big row still meets exactly one copy of its small-side
    match). AQE's skew-join split handles moderate skew automatically —
    salting is the explicit tool for the pathological keys you know
    about (and it composes with AQE). Salt is ``xxhash64`` of
    ``salt_src`` columns (deterministic, reproducible), not rand().
    """
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in (salt_src or [key])]), F.lit(salt_buckets)
    ).cast("int")
    big_salted = big.withColumn("__salt", salt)
    small_exploded = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return big_salted.join(small_exploded, on=[key, "__salt"]).drop("__salt")


def write_bucketed(
    df: DataFrame, name: str, key: str, buckets: int, path: str
) -> None:
    """Persist ``df`` as a bucketed+sorted parquet table: rows are
    hash-partitioned into ``buckets`` files on ``key`` at WRITE time and
    the layout is recorded in the catalog. Two tables bucketed the same
    way join WITHOUT a shuffle — the one-time write cost amortizes over
    every subsequent join, the right trade for repeatedly-joined 100 TB
    facts (the equivalent of the reference materializing its star CSVs,
    but with a layout that pre-pays the join). External path keeps data
    placement explicit; ``mode(overwrite)`` makes re-landing idempotent.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    )


def bucketed_join(
    spark,
    left_name: str,
    right_name: str,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Join two pre-bucketed tables on their bucket keys. With equal
    bucket counts the sort-merge join reads each bucket pair directly —
    zero Exchange on either input (assert via .explain; the plan test
    pins it). The ``merge`` hint keeps the strategy stable at test
    scale where AQE would otherwise broadcast."""
    left = spark.table(left_name).hint("merge")
    right = spark.table(right_name)
    return left.join(right, F.col(left_key) == F.col(right_key))


_BLOOM_CONFS = {
    # inject a bloom filter from the filtered (creation) side into the
    # fact-side scan; thresholds opened up so the injection also fires
    # at test scale (the defaults target multi-GB plans)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # force the shuffle join: a broadcast join already semi-filters the
    # fact side, so bloom injection targets non-broadcast plans only
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_pruned_join(spark, fact: DataFrame, dim: DataFrame, fact_key, dim_key) -> DataFrame:
    """Runtime bloom-filter-pruned shuffle join (Spark's AQE runtime
    filter): the selective dim side builds a `bloom_filter_agg` over its
    join keys and the optimizer injects `BloomFilterMightContain` into
    the fact scan — fact rows that cannot match are dropped BEFORE the
    shuffle. At 100 TB this is the difference between shuffling the
    whole fact table and shuffling the ~matching fraction, for joins
    where the dim is too big to broadcast.

    Bloom injection is a pure optimization (false positives only ever
    let extra rows through to the exact join), so results are
    bit-identical to the plain join — which is exactly what the oracle
    pairing checks. The confs are session-wide, so the join is
    materialized eagerly under the conf guard and every previous value
    restored after."""
    with conf_guard(spark, _BLOOM_CONFS):
        joined = fact.join(dim, to_col(fact_key) == to_col(dim_key))
        return joined.localCheckpoint(eager=True)


def bloom_plan_text(spark, fact: DataFrame, dim: DataFrame, fact_key, dim_key) -> str:
    """Optimized-plan text of the bloom-pruned join under the conf
    guard (for the plan test pinning `bloom_filter_agg` injection)."""
    with conf_guard(spark, _BLOOM_CONFS):
        joined = fact.join(dim, to_col(fact_key) == to_col(dim_key))
        return joined._jdf.queryExecution().optimizedPlan().toString()


_SKEW_CONFS = {
    # AQE skew-join handling with thresholds opened up so the split also
    # fires at test scale (defaults target 256MB+ partitions); the
    # mechanism — detect an oversized shuffle partition, split it, and
    # replicate the matching side — is scale-invariant
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    # keep it a sort-merge join: broadcast would dodge the skew entirely
    # (which is the right call for broadcastable dims — this operator is
    # for the non-broadcastable case)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def skew_join(spark, left: DataFrame, right: DataFrame, left_key, right_key) -> DataFrame:
    """AQE-handled skewed sort-merge join: when one join key dominates,
    the shuffle puts its rows in one oversized partition and the whole
    stage waits on that task. AQE's skew-join rule detects the oversized
    partition at runtime, splits it into advisory-sized slices, and
    replicates the matching partition of the other side — the built-in
    runtime alternative to manual salting (:func:`salted_join`), with no
    key rewrite and no fan-out of the small side to every salt.

    Skew handling is a pure physical optimization (each slice joins
    against a full copy of its matching partition), so results are
    bit-identical to the plain join — which is what the oracle pairing
    checks; the `skew=true` marker on the join node is pinned by a plan
    test. Confs are session-wide, so the join is materialized eagerly
    under the conf guard and every previous value restored after.

    Caveat discovered empirically: AQE splits a skewed reduce partition
    along MAP-OUTPUT block boundaries, so a skewed stage fed by a
    single map task cannot be split at all (the rule logs 0 skewed
    partitions despite a max/median ratio in the millions). At cluster
    scale the fact side always has thousands of mappers; at test scale
    callers must ensure the skewed input has several partitions (the
    demo query repartitions its scan first)."""
    with conf_guard(spark, _SKEW_CONFS):
        joined = left.join(right, to_col(left_key) == to_col(right_key))
        return joined.localCheckpoint(eager=True)


def skew_join_plan_text(spark, left: DataFrame, right: DataFrame, left_key, right_key) -> str:
    """Final (post-AQE) executed-plan text of the skewed join — requires
    running the query, since skew handling is a runtime re-plan (for the
    plan test pinning ``skew=true`` on the SortMergeJoin node)."""
    with conf_guard(spark, _SKEW_CONFS):
        joined = left.join(right, to_col(left_key) == to_col(right_key))
        # collect() executes joined's OWN QueryExecution; count() would
        # build a new one and leave this plan un-replanned (AQE final
        # plans exist only per-execution)
        joined.collect()
        return joined._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------
# Exact-global-sort budget (VERDICT r6 item 6): the guard that keeps
# callers from accidentally single-tasking a 100 TB fact through the
# two oracle-parity exact paths (ntile tiers, row_number surrogate
# keys). Above the budget, dispatchers route to the distributed
# variants in this module / binning.py. The budget is a fixed row
# count: the input's size picks the path, no setting does.
# ---------------------------------------------------------------------

EXACT_SORT_BUDGET = 10_000_000


def exceeds_exact_sort_budget(df: DataFrame, max_rows: int | None = None) -> bool:
    """True when ``df`` has more than ``max_rows`` rows
    (:data:`EXACT_SORT_BUDGET` when None).

    The probe is an early-stopping LocalLimit scan: every task stops
    producing after max_rows+1 zero-column rows, so at 100 TB this
    reads a bounded prefix instead of the table — the whole point is
    that the probe must be radically cheaper than the global sort it
    prevents. (A plain count() would scan everything; a collect() would
    move data. The shuffled rows are bare 1-literals, at most
    max_rows+1 of them.)"""
    if max_rows is None:
        max_rows = EXACT_SORT_BUDGET
    probe = df.select(F.lit(1).alias("__one")).limit(max_rows + 1).count()
    return probe > max_rows
