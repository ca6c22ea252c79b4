"""Similarity search over embeddings (SURVEY.md §2.11 L3/L6).

``embeddings.embedding`` is array<float> (dim 64). All kernels use
higher-order functions with **double** accumulation in index order —
deterministic, engine-portable, no UDF, no Python crossing.

Scale design:

- **Brute-force top-k** is the correctness baseline: |Q| query vectors
  broadcast against N stored vectors -> per-row cosine -> per-query
  top-k via window. Cost O(|Q| * N * d) but embarrassingly parallel and
  shuffle-free until the tiny top-k exchange. Right answer for small
  |Q| even at huge N.
- **LSH-bucketed ANN** (random-hyperplane signs) is the scale path:
  vectors hash to sign-pattern buckets; queries probe only their own
  bucket -> candidate set shrinks by ~2^bits; the equi-join on bucket
  replaces the cross product. Hyperplanes are deterministic
  (md5-seeded) so results are reproducible run to run.
- **IVF variant**: coarse centroids via spark.ml k-means (trained on a
  sample), then the same equi-join shape as LSH but on learned list
  ids: assignment is a pure Catalyst argmin over ``n_lists`` dot
  products (no UDF on the corpus side), queries probe their
  ``n_probe`` nearest lists. Data-adaptive bucketing beats random
  hyperplanes when the embedding distribution is clustered; probing
  all lists recovers the exact result (tested).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import stage


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, double accumulation, index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def embed_norms(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L6 — per-vector norm / mean / dim, one codegen'd projection."""
    v = F.col(vec_col)
    d = F.size(v)
    return emb.select(
        "vec_id",
        d.alias("dim"),
        F.round(l2_norm(v), 6).alias("l2_norm"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double")) / d.cast("double"),
            6,
        ).alias("mean_val"),
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """L3 baseline — exact cosine top-k neighbors per query vector.

    ``queries``: (q_id, q_vec). The query side is broadcast (small by
    contract); the big side streams through a single projection; the
    only shuffle is the per-query top-k window over |Q| * N candidate
    rows pre-filtered to k per partition by Catalyst's window top-k
    (rank pushdown in AQE) — and ties break on vec_id for determinism.

    Norms are precomputed per SIDE, not per candidate: each embedding's
    ``l2_norm`` is one array fold in the scan projection (N rows) and
    each query's in the broadcast build (|Q| rows), so the |Q| * N
    scoring pass runs ONE fold (the dot product) per candidate instead
    of three. ``dot(a,b) / (l2_norm(a) * l2_norm(b))`` evaluates the
    identical double expression tree either way — bit-identical scores.
    """
    e = emb.withColumn("__vn", l2_norm(F.col(vec_col)))
    q = queries.withColumn("__qn", l2_norm(F.col("q_vec")))
    cand = e.join(F.broadcast(q), e["vec_id"] != q["q_id"])
    scored = cand.select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col(vec_col)) / (F.col("__qn") * F.col("__vn")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from md5 bytes —
    reproducible across runs/engines without RNG state."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"plane:{seed}:{i}".encode()).digest()
        for j in range(0, 16, 2):
            if len(vals) >= dim:
                break
            u = int.from_bytes(h[j : j + 2], "big") / 65535.0  # [0,1]
            vals.append(2.0 * u - 1.0)
        i += 1
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def lsh_bucket(vec_col: Column, dim: int, bits: int = 8) -> Column:
    """Random-hyperplane sign bucket id (0 .. 2^bits - 1)."""
    bucket = F.lit(0)
    for b in range(bits):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, b)])
        sign = F.when(dot(vec_col, plane) >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        bucket = bucket + sign
    return bucket


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 6,
    multi_probe: int = 0,
) -> DataFrame:
    """L3 scale path — ANN top-k probing the query's LSH bucket.

    Same output shape as :func:`brute_force_topk`; recall < 1.0 by
    construction. ``multi_probe=p`` additionally probes every bucket
    within Hamming distance 1 on the first ``p`` hyperplane bits — the
    standard recall dial: candidate volume grows ~(p+1)x, recall climbs
    toward exact, and the plan stays the same equi-join on ``bucket``
    (the probe fan-out explodes the tiny query side, never the corpus).
    At 1000 executors this is a hash-partitioned join on a
    low-cardinality key, with AQE handling bucket skew.
    """
    # per-side norm precompute (same bit-identical factoring as
    # brute_force_topk): one fold per corpus/query row instead of two
    # more per candidate in the scoring pass
    e = emb.withColumn("bucket", lsh_bucket(F.col(vec_col), dim, bits)).withColumn(
        "__vn", l2_norm(F.col(vec_col))
    )
    q = queries.withColumn("bucket", lsh_bucket(F.col("q_vec"), dim, bits)).withColumn(
        "__qn", l2_norm(F.col("q_vec"))
    )
    if multi_probe > 0:
        flips = F.array(
            F.lit(0), *[F.lit(1 << b) for b in range(min(multi_probe, bits))]
        )
        q = q.withColumn(
            "bucket",
            F.explode(F.transform(flips, lambda m: F.col("bucket").bitwiseXOR(m))),
        )
    cand = e.join(F.broadcast(q), on="bucket").where(F.col("vec_id") != F.col("q_id"))
    if multi_probe > 0:
        cand = cand.dropDuplicates(["q_id", "vec_id"])
    scored = cand.select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col(vec_col)) / (F.col("__qn") * F.col("__vn")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def kmeans_centroids(
    emb: DataFrame,
    n_lists: int,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
    train_fraction: float = 1.0,
) -> list[list[float]]:
    """IVF coarse quantizer: spark.ml KMeans centroids (driver-side
    list, ``n_lists`` x dim doubles — tiny). At corpus scale, train on
    a sample (``train_fraction``): centroid quality needs thousands of
    points per list, not the full 100 TB."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = emb if train_fraction >= 1.0 else emb.sample(train_fraction, seed=seed)
    feats = train.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    # An empty training set (empty corpus, or train_fraction sampling
    # away everything) makes KMeans.fit die with an opaque executor
    # Py4JJavaError; fail at the API boundary instead. isEmpty is a
    # take(1) — noise next to the fit's own jobs. (k > |train| is fine:
    # spark.ml returns the <= k distinct points as centroids.)
    if feats.isEmpty():
        raise ValueError(
            "kmeans_centroids: empty training set "
            f"(train_fraction={train_fraction}) — nothing to quantize"
        )
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _centroid_scores(vec_col: Column, centers: list[list[float]]) -> Column:
    """array<double> of per-centroid scores |c|^2 - 2*v.c — monotone in
    L2 distance to each centroid (|v|^2 is constant per row, dropped).
    Pure expressions: the corpus-side assignment never leaves codegen."""
    scores = []
    for c in centers:
        carr = F.array(*[F.lit(float(x)) for x in c])
        c2 = float(sum(x * x for x in c))
        scores.append(F.lit(c2) - 2.0 * dot(vec_col, carr))
    return F.array(*scores)


def ivf_assign(vec_col: Column, centers: list[list[float]]) -> Column:
    """Nearest-centroid list id (0-based argmin of the score array)."""
    s = _centroid_scores(vec_col, centers)
    return (F.array_position(s, F.array_min(s)) - 1).cast("int")


def ivf_assign_pandas(emb: DataFrame, centers: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid assignment via a broadcast numpy matrix inside an
    Arrow-batched pandas UDF — the documented scale path past the
    codegen'd :func:`ivf_assign` (whose inlined-literal centroid scores
    stop being sensible at a few thousand lists: the expression tree
    grows O(n_lists * dim)). One matmul per Arrow batch against the
    (n_lists x dim) matrix shipped once per executor via a broadcast
    variable; same tie rule as :func:`ivf_assign` (lowest list id wins —
    numpy argmin first-hit == Catalyst array_position first-hit),
    parity-tested on real embeddings. Honest caveat: BLAS pairwise/FMA
    summation can round differently from Catalyst's sequential fold in
    the last ulp, so a vector virtually EQUIDISTANT between two
    centroids could flip lists — harmless for ANN recall (either list
    is equally "nearest"), but do not treat the two paths as
    bit-interchangeable inside one index."""
    from pyspark.sql.types import IntegerType

    sc = emb.sparkSession.sparkContext
    c = np.asarray(centers, dtype=np.float64)  # (n_lists, dim)
    # note: the broadcast lives until the returned plan is GC'd — reuse
    # one indexed DataFrame per quantizer rather than re-calling per query
    bc = sc.broadcast((c, (c * c).sum(axis=1)))  # matrix + per-centroid |c|^2

    @F.pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        mat, c2 = bc.value
        # NULL embeddings null-propagate (like the Catalyst path); empty
        # Arrow batches short-circuit (0-row matmul shapes don't)
        out = pd.Series(pd.array([pd.NA] * len(vecs), dtype="Int32"), index=vecs.index)
        valid = vecs[vecs.notna()]
        if len(valid):
            v = np.asarray(valid.tolist(), dtype=np.float64)  # (batch, dim)
            # score = |c|^2 - 2 v.c (monotone in L2 dist; |v|^2 constant/row)
            scores = c2[None, :] - 2.0 * (v @ mat.T)
            out[valid.index] = np.argmin(scores, axis=1).astype("int32")
        return out

    return emb.withColumn("list_id", assign(F.col(vec_col)))


def ivf_probe_lists(vec_col: Column, centers: list[list[float]], n_probe: int) -> Column:
    """The ``n_probe`` nearest list ids for a query vector, via
    sort of (score, list_id) structs — ties break on list_id."""
    s = _centroid_scores(vec_col, centers)
    n = len(centers)
    pairs = F.transform(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: F.struct(
            F.element_at(s, i).alias("score"), (i - 1).cast("int").alias("list_id")
        ),
    )
    top = F.slice(F.array_sort(pairs), 1, min(n_probe, n))
    return F.transform(top, lambda p: p["list_id"])


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    seed: int = 7,
    train_fraction: float = 1.0,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """L3 scale path, trained variant — IVF ANN top-k.

    Index side: one k-means fit (sampled), then every vector gets a
    list id from a codegen'd argmin — the corpus never crosses to
    Python and never shuffles for indexing. Query side: each query
    probes its ``n_probe`` nearest lists (explode on the tiny side).
    Candidates come from the equi-join on ``list_id`` — identical join
    shape to :func:`lsh_topk`, so everything said there about
    1000-executor behavior (hash join on a low-cardinality key, AQE
    skew handling) carries over. ``n_probe = n_lists`` probes
    everything and reproduces the exact brute-force result — the
    recall dial ends at correctness.

    Pass precomputed ``centers`` to reuse a trained quantizer across
    queries (the production pattern: train once, index once, serve).

    Honest limit: centroids are inlined as literal expressions —
    n_lists * dim doubles inside codegen. Fine through a few hundred
    lists; beyond that (IVF with 4k+ lists), use
    :func:`ivf_assign_pandas` — the broadcast-numpy assignment with
    identical output (parity-tested) — and the same join downstream.
    """
    if centers is None:
        centers = kmeans_centroids(
            emb, n_lists, vec_col, seed=seed, train_fraction=train_fraction
        )
    indexed = emb.withColumn(
        "list_id", ivf_assign(F.col(vec_col), centers)
    ).withColumn("__vn", l2_norm(F.col(vec_col)))
    q = queries.withColumn(
        "list_id", F.explode(ivf_probe_lists(F.col("q_vec"), centers, n_probe))
    ).withColumn("__qn", l2_norm(F.col("q_vec")))
    cand = indexed.join(F.broadcast(q), on="list_id").where(
        F.col("vec_id") != F.col("q_id")
    )
    # per-side norms (see brute_force_topk) — bit-identical scores
    scored = cand.select(
        "q_id",
        "vec_id",
        F.round(
            dot(F.col("q_vec"), F.col(vec_col)) / (F.col("__qn") * F.col("__vn")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.98,
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-dup removal: LSH-bucket self-join ->
    cosine >= threshold -> drop the larger vec_id (same survivor rule
    as operators.dedupe). Returns surviving rows."""
    # staged: the bucketed table feeds both sides of the self-join (the
    # bucket expression is `bits` dot products per row — compute once)
    e = stage(
        emb.select("vec_id", vec_col).withColumn(
            "bucket", lsh_bucket(F.col(vec_col), dim, bits)
        )
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col(vec_col).alias("v_a"), F.col("bucket")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col(vec_col).alias("v_b"), F.col("bucket")
    )
    dupes = (
        a.join(b, on="bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine(F.col("v_a"), F.col("v_b")) >= threshold)
        .select("id_b")
        .distinct()
    )
    return emb.join(dupes, emb["vec_id"] == dupes["id_b"], "left_anti")
