"""Scale-path operators (SURVEY.md §7.4.2/§7.4.6): the distributed
replacements for the two global-sort constructs, plus skew handling.

These exist because two reference semantics — dense surrogate keys
(transformation_pipeline.py:73-91) and quantile tiers (:63) — naively
need a global sort, which single-tasks at 100 TB. ``plans/star.py``
uses the exact forms on dimension-sized data (correct there by
construction); this module provides the fact-sized variants.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import conf_guard, stage, to_col

# Cap on order-bucket count (VERDICT r12 item 3 / ADVICE r12). The
# bucket id is a count-of-boundaries-below expression evaluated per
# row, so its size is O(n_boundaries x n_key_cols): uncapped it tracks
# defaultParallelism, and on a several-thousand-core cluster that is a
# multi-thousand-node expression — past whole-stage-codegen's 64KB
# method limit (interpreted fallback) and O(n) per row where a range
# partitioner binary-searches in O(log n). 256 buckets keeps the
# expression a few hundred codegen-friendly nodes; balance degrades
# gracefully (each bucket simply holds 1/256th of the sampled mass,
# and the per-bucket offsets stay a 256-row driver collect).
_MAX_ORDER_BUCKETS = 256

def _sample_order_boundaries(
    d: DataFrame, key_cols: Sequence[str], n_buckets: int, per_bucket: int = 64
) -> list[tuple]:
    """Sample ``n_buckets - 1`` ordered key tuples to use as bucket
    boundaries, with ONE bounded job: ``ORDER BY xxhash64(keys) LIMIT
    per_bucket * n_buckets`` compiles to TakeOrderedAndProject (a
    per-partition heap + small driver merge — never a global sort, and
    at most ``per_bucket * n_buckets`` rows reach the driver). Hashing
    is uniform over distinct keys, so the sample's order statistics
    estimate the key-space quantiles.

    Boundaries steer BALANCE only, never values: the consumer buckets
    keys by a monotone count-of-boundaries-below expression, so any
    boundary set whatsoever yields the same final ids (see
    dense_ids_scale). A skewed sample costs balance, not correctness —
    which is also why ``n_buckets`` is capped at ``_MAX_ORDER_BUCKETS``
    (the bucket expression is O(n_boundaries) per row; see the cap's
    comment) and why callers may sample from the RAW input rather than
    its distinct projection (duplicates weight the quantiles by row
    frequency; the bucket runs stay monotone either way).
    """
    n_buckets = min(n_buckets, _MAX_ORDER_BUCKETS)
    if n_buckets <= 1:
        return []
    cols = [to_col(c) for c in key_cols]
    samp = (
        d.select(*cols, F.xxhash64(*cols).alias("__h"))
        .orderBy("__h")
        .limit(per_bucket * n_buckets)
        .collect()
    )
    # sort the sample lexicographically, nulls first (matches
    # asc_nulls_first): per-column key (0,) for null / (1, value).
    def key_fn(row):
        return tuple(
            (0,) if row[c] is None else (1, row[c]) for c in key_cols
        )

    rows = sorted(samp, key=key_fn)
    if not rows:
        return []
    out, seen = [], set()
    for i in range(1, n_buckets):
        r = rows[(i * len(rows)) // n_buckets]
        t = tuple(r[c] for c in key_cols)
        if t not in seen:  # duplicate boundaries add nothing
            seen.add(t)
            out.append(t)
    return out


def _order_bucket_expr(key_cols: Sequence[str], boundaries: list[tuple]):
    """Monotone bucket id: count of boundary tuples lexicographically
    BELOW the key (nulls-first order). Monotone in key order and equal
    on equal keys, so buckets are contiguous runs of the sorted key
    sequence — the property the offset prefix-sum construction needs.
    """
    bucket = F.lit(0)
    for b in boundaries:
        # key >lex b, nulls-first semantics
        gt = F.lit(False)
        eq_prefix = F.lit(True)
        for c, bv in zip(key_cols, b):
            col = to_col(c)
            if bv is None:
                col_gt = col.isNotNull()
                col_eq = col.isNull()
            else:
                col_gt = F.coalesce(col > F.lit(bv), F.lit(False))
                col_eq = col.eqNullSafe(F.lit(bv))
            gt = gt | (eq_prefix & col_gt)
            eq_prefix = eq_prefix & col_eq
        bucket = bucket + (gt | eq_prefix).cast("int")  # >= b, i.e. b <= key
    return bucket


def dense_ids_scale(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense, 1-based, deterministic ids over distinct keys WITHOUT a
    single-task global sort — the 100 TB replacement for
    ``row_number() OVER (ORDER BY keys)``.

    Two-phase construction:
    1. bucket the distinct keys by an order-MONOTONE bucket column
       (count of sampled boundary tuples at-or-below the key — bucket i
       holds keys < all of bucket i+1 by construction), rank within
       each bucket via a partitioned window (ONE hash exchange);
    2. collect only the per-bucket COUNTS (one tiny row per bucket),
       prefix-sum them on the driver, and broadcast-join the offsets
       back: id = offset[bucket] + local_rank.

    The result is bit-identical to the exact global row_number (the
    bucket order concatenated in bucket-id order IS the total order —
    ANY boundary set yields the same ids, boundaries only balance the
    buckets), so the same SQL oracle verifies both forms. Work per task
    is bounded by the largest bucket; no task ever sees the whole key
    set.

    Plan economics vs the earlier repartitionByRange construction: the
    bucket id is a deterministic COLUMN, so the window's required
    clustering is satisfied by its own single hash exchange — no range
    exchange, no extra hashpartitioning(spark_partition_id()) exchange
    on top of it, and no hidden range-boundary sampling job that
    re-executes the whole distinct. Three shuffles of the key set
    became one.
    """
    spark = df.sparkSession
    cols = [to_col(c).alias(c) for c in key_cols]
    d = df.select(*cols).distinct()
    n = num_partitions or spark.sparkContext.defaultParallelism
    # boundaries come from the RAW projected input, not the distinct:
    # sampling d would force a full distinct materialization before the
    # counts job even starts (sample-then-rescan — two passes where one
    # suffices). Boundaries steer balance only (any boundary set yields
    # the same ids), so the frequency-weighted raw sample is value-safe;
    # the ONE distinct shuffle now runs inside the counts job below.
    boundaries = _sample_order_boundaries(df.select(*cols), key_cols, n)
    staged = d.withColumn("__bkt", _order_bucket_expr(key_cols, boundaries))
    w = Window.partitionBy("__bkt").orderBy(
        *[to_col(c).asc_nulls_first() for c in key_cols]
    )
    # staged: the ranked table is consumed twice (counts, final join);
    # boundaries are plan literals, so a recompute is value-safe — the
    # cache only saves the second window pass.
    ranked = stage(staged.withColumn("__rn", F.row_number().over(w)))
    # tiny action: one row per bucket
    counts = sorted(
        (r["__bkt"], r["cnt"])
        for r in ranked.groupBy("__bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for bkt, cnt in counts:
        offsets[bkt] = acc
        acc += cnt
    offsets_df = spark.createDataFrame(
        [(bkt, off) for bkt, off in offsets.items()], "__bkt int, __off long"
    )
    return (
        ranked.join(F.broadcast(offsets_df), "__bkt")
        .withColumn(id_col, (F.col("__off") + F.col("__rn")).cast("long"))
        .select(id_col, *key_cols)
    )


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

    Same two-phase construction as :func:`dense_ids_scale`, group-aware:

    1. bucket on an order-monotone column over (group, *order) — a
       group spans a RUN of consecutive buckets, each task bounded by
       the bucket size, and rank within (bucket, group);
    2. collect only the per-(bucket, group) COUNTS (tiny: at most
       buckets + groups rows), prefix-sum per group in bucket order on
       the driver, broadcast the offsets back:
       rank = offset + local_rank, q = (rank-1)/(n_group-1).

    ``order_cols`` must be a total order within each group (include a
    tiebreak key); then the global rank is bit-identical to the exact
    window form and the SAME oracle verifies both. Single-row groups
    get q = 0.0 (the engines' own percent_rank convention).

    Plan economics: the bucket id is an order-monotone COLUMN over
    (group, *order) — see dense_ids_scale — so the window's own hash
    exchange on (__bkt, group) is the ONLY shuffle; the earlier
    repartitionByRange form paid a range exchange, a second
    hashpartitioning(spark_partition_id()) exchange AND a hidden
    boundary-sampling pass over the input.
    """
    key_cols = [group_col, *order_cols]
    order = [to_col(c).asc_nulls_first() for c in order_cols]
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    boundaries = _sample_order_boundaries(df, key_cols, n)
    staged = df.withColumn("__bkt", _order_bucket_expr(key_cols, boundaries))
    w = Window.partitionBy("__bkt", group_col).orderBy(*order)
    # staged: the ranked table is consumed twice (counts, final join);
    # boundaries are plan literals, so a recompute is value-safe — the
    # cache only saves the second pass.
    ranked = stage(staged.withColumn("__rn", F.row_number().over(w)))
    counts = sorted(
        (r["__bkt"], r[group_col], r["cnt"])
        for r in ranked.groupBy("__bkt", group_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    totals: dict = {}
    for _, g, cnt in counts:
        totals[g] = totals.get(g, 0) + cnt
    offsets, acc = [], {}
    for bkt, g, cnt in counts:  # sorted by (bkt, g): bucket order per group
        offsets.append((bkt, g, acc.get(g, 0), totals[g]))
        acc[g] = acc.get(g, 0) + cnt
    g_type = df.schema[group_col].dataType.simpleString()
    off_df = spark.createDataFrame(
        offsets, f"__bkt int, {group_col} {g_type}, __off long, __n long"
    )
    rank = F.col("__off") + F.col("__rn")
    q = F.when(F.col("__n") > 1, (rank - 1).cast("double") / (F.col("__n") - 1).cast("double")).otherwise(0.0)
    return (
        ranked.join(F.broadcast(off_df), ["__bkt", group_col])
        .withColumn(out_col, q)
        .drop("__bkt", "__rn", "__off", "__n")
    )


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

    Same two-phase construction as :func:`dense_ids_scale`, kept
    row-preserving (no distinct): bucket on an order-monotone column
    over the order columns, rank within each bucket, collect only
    per-bucket COUNTS, prefix-sum on the driver, broadcast offsets
    back. The global rank
    then maps to the tile with ntile's own split rule — the first
    ``total % n`` tiles hold ``total DIV n + 1`` rows, the rest
    ``total DIV n`` — in exact integer arithmetic
    (``ceil(a/b) = (a+b-1) DIV b``).

    ``order_cols`` must be a total order (include a tiebreak key); ties
    then split across tiles deterministically, exactly as the window
    form with the same ORDER BY does. This is the 100 TB routing for
    rfm_segments' quintiles (VERDICT r8 item 7) — unlike bin_quantile's
    exact/approx dispatcher there is nothing to dispatch: this form IS
    exact, it just never sorts the world in one task.
    """
    order = [to_col(c).asc_nulls_first() for c in order_cols]
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # order-monotone bucket column instead of repartitionByRange +
    # spark_partition_id: one hash exchange (the window's own) instead
    # of a range exchange + a pid exchange + a hidden sampling pass
    # (see dense_ids_scale — boundaries steer balance, never values)
    boundaries = _sample_order_boundaries(df, list(order_cols), n)
    staged = df.withColumn("__bkt", _order_bucket_expr(list(order_cols), boundaries))
    w = Window.partitionBy("__bkt").orderBy(*order)
    # staged: consumed twice (counts, final join); boundaries are plan
    # literals, so a recompute is value-safe
    ranked = stage(staged.withColumn("__rn", F.row_number().over(w)))
    counts = sorted(
        (r["__bkt"], r["cnt"])
        for r in ranked.groupBy("__bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for bkt, cnt in counts:
        offsets.append((bkt, acc))
        acc += cnt
    total = acc
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__bkt int, __off long")
    rank = F.col("__off") + F.col("__rn")  # 1-based exact global rank
    q, r = divmod(total, n_tiles)

    def _ceil_div(a, b: int):
        # exact integer ceil(a/b) for Column longs: make the numerator
        # exactly divisible first, so the double division is exact
        num = a + F.lit(b - 1)
        return ((num - num % F.lit(b)) / F.lit(b)).cast("long")

    if q == 0:
        # fewer rows than tiles: ntile gives each row its own tile
        tile = rank
    else:
        big = r * (q + 1)  # rows covered by the (q+1)-sized tiles
        tile = F.when(rank <= F.lit(big), _ceil_div(rank, q + 1)).otherwise(
            F.lit(r) + _ceil_div(rank - F.lit(big), q)
        )
    return (
        ranked.join(F.broadcast(off_df), "__bkt")
        .withColumn(out_col, tile.cast("long"))
        .drop("__bkt", "__rn", "__off")
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

    Same two-phase construction as :func:`dense_ids_scale`:

    1. bucket on an order-monotone column over ``order_cols`` (bucket
       i's keys precede bucket i+1's), cumulative-sum each ``sum_cols``
       within each bucket;
    2. collect only the per-bucket TOTALS (one tiny row per bucket),
       prefix-sum them on the driver, broadcast the offsets back:
       running = offset[bucket] + local_running.

    Integer sums only (the caller guarantees BIGINT columns): integer
    addition is associative, so the result is bit-identical to the
    exact global window and the same SQL oracle verifies both forms.
    ``order_cols`` must be a total order (include a tiebreak key) for
    the row-frame cumulative to be deterministic.
    """
    order = [to_col(c).asc_nulls_first() for c in order_cols]
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # order-monotone bucket column instead of repartitionByRange +
    # spark_partition_id — one hash exchange (the window's own) instead
    # of range + pid exchanges + a hidden sampling pass (dense_ids_scale)
    boundaries = _sample_order_boundaries(df, list(order_cols), n)
    staged = df.withColumn("__bkt", _order_bucket_expr(list(order_cols), boundaries))
    w = (
        Window.partitionBy("__bkt")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = staged
    for c in sum_cols:
        cum = cum.withColumn(f"__cum_{c}", F.sum(to_col(c)).over(w))
    # staged: consumed twice (totals, final join); boundaries are plan
    # literals, so a recompute is value-safe
    cum = stage(cum)
    totals = sorted(
        (r["__bkt"], tuple(r[f"t_{c}"] for c in sum_cols))
        for r in cum.groupBy("__bkt")
        .agg(*[F.sum(to_col(c)).alias(f"t_{c}") for c in sum_cols])
        .collect()
    )
    offsets, acc = [], [0] * len(sum_cols)
    for bkt, ts in totals:
        offsets.append((bkt, *acc))
        acc = [a + (t or 0) for a, t in zip(acc, ts)]
    off_schema = "__bkt int, " + ", ".join(f"__off_{c} long" for c in sum_cols)
    off_df = spark.createDataFrame(offsets, off_schema)
    out = cum.join(F.broadcast(off_df), "__bkt")
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}", (F.col(f"__off_{c}") + F.col(f"__cum_{c}")).cast("long")
        ).drop(f"__cum_{c}", f"__off_{c}")
    return out.drop("__bkt")


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
# variants in this module / binning.py.
# ---------------------------------------------------------------------

EXACT_SORT_BUDGET_CONF = "spark.books2scrape_etl.maxExactGlobalSortRows"
EXACT_SORT_BUDGET_DEFAULT = 10_000_000


def exact_sort_budget(spark) -> int:
    """Row budget for unpartitioned-window exact paths, settable per
    session via ``spark.books2scrape_etl.maxExactGlobalSortRows``."""
    return int(spark.conf.get(EXACT_SORT_BUDGET_CONF, str(EXACT_SORT_BUDGET_DEFAULT)))


def exceeds_exact_sort_budget(df: DataFrame, max_rows: int | None = None) -> bool:
    """True when ``df`` has more than ``max_rows`` rows (conf default
    when None).

    The probe is an early-stopping LocalLimit scan: every task stops
    producing after max_rows+1 zero-column rows, so at 100 TB this
    reads a bounded prefix instead of the table — the whole point is
    that the probe must be radically cheaper than the global sort it
    prevents. (A plain count() would scan everything; a collect() would
    move data. The shuffled rows are bare 1-literals, at most
    max_rows+1 of them.)"""
    if max_rows is None:
        max_rows = exact_sort_budget(df.sparkSession)
    probe = df.select(F.lit(1).alias("__one")).limit(max_rows + 1).count()
    return probe > max_rows
