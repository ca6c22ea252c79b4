"""KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
2002; Beyer et al. 2007 "On Synopses for Distinct-Value Estimation") —
the NOTES.md "mergeable-state sketch" item, done without Scala.

Spark ships HLL++ (``approx_count_distinct``) but its sketch internals
are engine-private, so the qname can only ever be rows-only. KMV is the
sketch whose STATE is plain data: the k smallest distinct hash values
of the key. That buys two things HLL can't give here:

- **a hard oracle** — any engine that agrees on the hash function
  derives the identical k-minimum set, so the driver value-matches the
  sketch itself AND the estimate (portable md5-prefix hash, the same
  rule as :func:`operators.sampling.hash_bucket`);
- **transparent mergeability** — merge(A, B) = the k smallest of
  A ∪ B: associative, commutative, idempotent. That is exactly the
  shape of a partial aggregate, which is why KMV scales: every
  partition reduces its rows to ≤ k longs before anything shuffles.

Estimator: with hashes uniform on [0, 2^32) and h_(k) the k-th
smallest, E[distinct] ≈ (k-1) · 2^32 / h_(k); below k distincts the
sketch is exact (it holds every hash).

Scale notes (100 TB posture): the implementation is
distinct → per-group k-smallest (row_number window) → one-row-per-group
aggregate. The distinct is a partial (map-side) aggregation, so the
shuffle carries distinct (group, hash) pairs only — never rows; the
window then ranks per group. At extreme cardinalities the production
form replaces the window with per-partition top-k partials merged
associatively (the sketch property above); the declarative form here is
chosen because it is oracle-replayable line for line. The estimate is
within ~1/sqrt(k-1) relative error (≈6% at k=256) with the k-th hash
value exposed so downstream can re-derive or merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import stage, to_col

# 2^32 — the hash space of the md5-prefix rule (8 hex digits).
_HASH_SPACE = 4294967296.0


def portable_hash32(key: Column | str) -> Column:
    """First 8 hex digits of md5(key) as bigint in [0, 2^32) — shared
    engine-portable rule (DuckDB twin:
    ``CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(to_col(key).cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


def kmv_distinct(
    df: DataFrame,
    key: Column | str,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """Per-group KMV distinct-count estimate for ``key``.

    Returns (group..., k_used, kth_hash, est_dv, exact_dv): the sketch
    size actually filled, the k-th smallest hash (the sketch boundary —
    enough to merge or re-derive), the KMV estimate, and the exact
    distinct count for calibration (the exact count shares the one
    distinct pass, so it is one extra aggregate, not an extra scan).
    """
    groups = group_cols or []
    hashes = stage(df.select(*groups, portable_hash32(key).alias("hv")).distinct())
    exact = hashes.groupBy(*groups).agg(F.count(F.lit(1)).alias("exact_dv"))
    if groups:
        # per-group k-smallest via a window; parallelism = group count
        # (fine for low-cardinality groups, which is what grouped
        # sketching is for — per-key cardinality wants the KMV merge
        # form instead).
        w = Window.partitionBy(*groups).orderBy("hv")
        topk = hashes.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= k
        )
    else:
        # orderBy+limit plans as TakeOrderedAndProject: each partition
        # keeps its own k smallest before the single merge — never a
        # one-task global sort (which Window.partitionBy(lit) would be).
        topk = hashes.orderBy("hv").limit(k)
    sk = topk.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("k_used"), F.max("hv").alias("kth_hash")
    )
    est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(F.lit((k - 1) * _HASH_SPACE) / F.col("kth_hash").cast("double"))
    joined = sk.join(exact, groups) if groups else sk.crossJoin(exact)
    return joined.select(
        *groups, "k_used", "kth_hash", est.alias("est_dv"), "exact_dv"
    )


def kmv_set_ops(
    df: DataFrame,
    key: Column | str,
    label_col: str,
    label_a: str,
    label_b: str,
    k: int = 64,
) -> DataFrame:
    """KMV sketch ALGEBRA (Beyer et al. 2007 §4): union and intersection
    estimates for two labeled subsets, derived purely from the two
    sketches — the reason mergeable sketches matter at 100 TB: the
    exact sets never co-locate; only 2k longs do.

    - union sketch U = k smallest of (A ∪ B sketch values); by the KMV
      law this IS the sketch of the union, so est_union follows the
      standard estimator;
    - Jaccard estimate ρ = |{v ∈ U : v ∈ A and v ∈ B}| / |U| (the
      union sketch is a uniform sample of the union's hash space);
    - est_intersection = ρ · est_union (inclusion through the sample).

    Returns ONE row: per-sketch fill/boundary (k_a, kth_a, k_b, kth_b,
    k_u, kth_u), n_shared, the three estimates, and the exact union /
    intersection distinct counts for calibration. Every sketch value
    uses the portable md5 rule, so the whole derivation — sketches,
    estimates, exacts — replays in oracle SQL.
    """
    lab = to_col(label_col)
    hashes = stage(
        df.where(lab.isin(label_a, label_b))
        .select(lab.alias("lab"), portable_hash32(key).alias("hv"))
        .distinct()
    )
    ska = stage(hashes.where(F.col("lab") == label_a).select("hv").orderBy("hv").limit(k))
    skb = stage(hashes.where(F.col("lab") == label_b).select("hv").orderBy("hv").limit(k))
    u = stage(ska.union(skb).distinct().orderBy("hv").limit(k))
    one = F.count(F.lit(1))
    agg_a = ska.agg(one.alias("k_a"), F.max("hv").alias("kth_a"))
    agg_b = skb.agg(one.alias("k_b"), F.max("hv").alias("kth_b"))
    agg_u = u.agg(one.alias("k_u"), F.max("hv").alias("kth_u"))
    shared = (
        u.join(ska, "hv", "left_semi")
        .join(skb, "hv", "left_semi")
        .agg(one.alias("n_shared"))
    )
    exact_u = hashes.select("hv").distinct().agg(one.alias("exact_union"))
    exact_i = (
        hashes.groupBy("hv")
        .agg(F.count_distinct("lab").alias("nl"))
        .where(F.col("nl") == 2)
        .agg(one.alias("exact_inter"))
    )
    row = (
        agg_a.crossJoin(agg_b).crossJoin(agg_u).crossJoin(shared)
        .crossJoin(exact_u).crossJoin(exact_i)
    )
    est_union = F.when(F.col("k_u") < k, F.col("k_u").cast("double")).otherwise(
        F.lit(float((k - 1) * 4294967296)) / F.col("kth_u").cast("double")
    )
    est_j = F.col("n_shared").cast("double") / F.col("k_u").cast("double")
    return row.select(
        "k_a", "kth_a", "k_b", "kth_b", "k_u", "kth_u", "n_shared",
        est_union.alias("est_union"),
        est_j.alias("est_jaccard"),
        (est_j * est_union).alias("est_intersection"),
        "exact_union", "exact_inter",
    )
