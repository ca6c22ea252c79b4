"""Rolling-hash document fingerprinting by winnowing (SURVEY.md §2.11
L4 extension; Schleimer/Wilkerson/Aiken 2003, "Winnowing: Local
Algorithms for Document Fingerprinting" — the MOSS scheme). The
reference's only fingerprint is a whole-document hash
(transformation_pipeline.py has no sub-document identity at all); the
whole-doc form lives in :mod:`operators.text`. Winnowing adds LOCAL
fingerprints: k-gram hashes subsampled so that any sufficiently long
shared substring between two documents is guaranteed to surface as a
shared fingerprint — the primitive behind contained-copy and
partial-overlap detection that whole-doc hashing cannot see.

Algorithm per document: normalize → all character k-grams → portable
64-bit hash per gram → for every position, the minimum hash among the
last ``w`` grams → the DISTINCT set of those window minima. Expected
density 2/(w+1), i.e. ~2n/(w+1) fingerprints for n grams.

Engine-parity contract: the gram hash is the md5-prefix rule shared
with :func:`operators.sampling.hash_bucket` (DuckDB twin:
``CAST(('0x' || substr(md5(g),1,8)) AS BIGINT)``), and the window rule
is plain ``min() OVER (ROWS BETWEEN w-1 PRECEDING AND CURRENT ROW)`` —
so a DuckDB oracle re-derives the exact fingerprint multiset and the
driver gets value-level evidence for an operator family that is
usually "trust me" territory. Positions 1..w-1 use the available
prefix window (both engines identically), so every document with at
least one gram emits at least one fingerprint.

Scale notes (100 TB posture):

- The whole pipeline is map-side: normalize/gram/hash are chained
  Catalyst higher-order functions (each ``transform`` evaluates its
  collection argument ONCE per row; lambda bodies touch only lambda
  variables — the expression-re-inlining hazard applies to OUTER column
  references inside lambdas, which this shape avoids by zipping k
  shifted char arrays instead of indexing the string per element).
- The sliding-window minimum is the one step with no shuffle-free
  Catalyst form (a window over exploded grams would shuffle ~16 bytes
  per CHARACTER of corpus); it runs as an Arrow-batched pandas UDF
  (array<long> → array<long>) with numpy ``sliding_window_view`` — no
  per-element Python, no shuffle, no explode until after the per-doc
  distinct has cut volume to ~2/(w+1).
- Candidate pairing joins on fingerprint value — an equi-join like the
  LSH band join, never all-pairs — with a document-frequency cap
  (``max_df``) that removes ubiquitous fragments (boilerplate); that cap
  is simultaneously the skew guard: the hottest possible bucket is
  bounded by max_df, so the pair fan-out per fingerprint is ≤
  max_df·(max_df-1)/2 by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from books2scrape_etl_spark.functions.util import stage
from books2scrape_etl_spark.operators.text import normalize_for_fingerprint


def _portable_hash(g: Column) -> Column:
    """First 8 hex digits of md5 as bigint — the engine-portable hash
    shared with sampling.hash_bucket (its DuckDB twin is exact)."""
    return F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint")


def gram_hashes(col: Column, k: int) -> Column:
    """array<bigint> of hashes of all character ``k``-grams of ``col``.

    Grams are built by zipping ``k`` shifted single-char arrays (the
    normalized text expression is referenced k+2 times TOTAL — not once
    per element, which is what naive ``transform(sequence(1, n),
    i -> substring(s, i, k))`` would cost after Catalyst inlines the
    outer reference into the lambda: O(n) normalization re-runs per
    row). Documents shorter than ``k`` yield an empty array.
    """
    n_grams = F.length(col) - F.lit(k - 1)
    shifted = [
        F.split(F.substring(col, F.lit(j + 1), n_grams), "").alias(f"c{j}")
        for j in range(k)
    ]
    grams = F.transform(
        F.arrays_zip(*shifted), lambda s: F.concat(*[s[f"c{j}"] for j in range(k)])
    )
    hashes = F.transform(grams, _portable_hash)
    return F.when(n_grams >= 1, hashes).otherwise(
        F.lit(None).cast(ArrayType(LongType()))
    )


def _winnow_udf(w: int):
    @F.pandas_udf(ArrayType(LongType()))
    def winnow_minima(hashes: pd.Series) -> pd.Series:
        def one(arr) -> list:
            if arr is None or len(arr) == 0:
                return []
            h = np.asarray(arr, dtype=np.int64)
            # positions 1..w-1: prefix windows (running min);
            # positions w..n: full windows via a stride view.
            prefix = np.minimum.accumulate(h[: w - 1])
            if len(h) >= w:
                full = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
                mins = np.concatenate([prefix, full])
            else:
                mins = prefix
            return np.unique(mins).tolist()

        return hashes.apply(one)

    return winnow_minima


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 8,
) -> DataFrame:
    """(id, fp) — the distinct winnowing fingerprints of each document.

    Documents whose normalized form is shorter than ``k`` characters
    emit no rows (nothing to fingerprint) — same rule on the oracle
    side.
    """
    norm = normalize_for_fingerprint(F.col(text_col))
    hashed = docs.select(
        F.col(id_col), _winnow_udf(w)(gram_hashes(norm, k)).alias("fps")
    )
    return hashed.select(id_col, F.explode("fps").alias("fp"))


def decontaminate(
    docs: DataFrame,
    bench_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 8,
    min_shared: int = 3,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: training documents that share ≥
    ``min_shared`` winnowing fingerprints with ANY document of the
    held-out set selected by ``bench_pred`` — the standard pre-training
    hygiene pass (eval n-grams must not leak into the training corpus).

    Returns (id, n_shared) for contaminated training docs. One
    fingerprint pass over the full corpus, split by the predicate, then
    an equi-join of training fingerprints against the (small, distinct)
    benchmark fingerprint set — which AQE broadcasts, so the training
    side never shuffles. Winnowing's guarantee makes the check sound:
    any shared normalized substring of length ≥ k + w - 1 surfaces as a
    shared fingerprint.

    Pass precomputed ``fps`` to share one fingerprint pass across
    several winnow consumers (the suite pattern).
    """
    if fps is None:
        fps = stage(winnow_fingerprints(docs, text_col, id_col, k, w))
    bench_fps = fps.where(bench_pred).select("fp").distinct()
    train_fps = fps.where(~bench_pred)
    return (
        train_fps.join(bench_fps, "fp")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 8,
    max_df: int = 50,
    min_shared: int = 3,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Partial-overlap candidate pairs: documents sharing ≥
    ``min_shared`` winnowing fingerprints, counted over fingerprints
    that appear in 2..``max_df`` documents.

    The ``max_df`` cap drops boilerplate fragments shared by everything
    (they carry no pairing signal) AND bounds the join fan-out per
    fingerprint — the equi-join analogue of the LSH band join, with the
    skew bomb defused by construction. Returns (id_a, id_b, shared),
    id_a < id_b.

    Pass precomputed ``fps`` to share one fingerprint pass across
    several winnow consumers (the suite pattern).
    """
    if fps is None:
        fps = stage(winnow_fingerprints(docs, text_col, id_col, k, w))
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    kept = fps.join(keep, "fp")
    a = kept.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = kept.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
