"""Wave-15 qnames (round 7, continuation session): graph BFS shortest
hops, RFM customer segmentation, a Benford leading-digit data-quality
profile, HyperLogLog cardinality with an error-bound oracle, the
two-sample Kolmogorov-Smirnov test, and distributed PCA via a
partition-partial Gram matrix — statistics / graph / sketch staples
the registry did not yet cover.

Placed past the 50-entry driver window; claims r8 slots together with
the wave-12/13/14 sets listed in queries.py.

Engine-parity posture (the measured rules in the verify skill /
COVERAGE.md): every compared double is either an exact-BIGINT ratio
computed through a MIRRORED expression tree (one correctly-rounded
IEEE op per step in both engines) or a Python-precomputed literal
injected into BOTH engines as ``CAST('<repr>' AS DOUBLE)`` (log10 is
NOT bit-portable across JVM/DuckDB — the tfidf_bm25 ln-table rule).
sqrt IS correctly rounded and portable. No nullable booleans; flags
are 0/1 BIGINT.

Scale posture (local[32] today, 1000 executors tomorrow):

- **graph_bfs**: each hop is one frontier⨝edges shuffle join plus a
  left-anti against the visited set — frontier and visited are
  node-sized, never edge-sized; localCheckpoint per hop truncates the
  iterative lineage (the dedup_cc_star pattern). Hop count is a fixed
  small constant.
- **rfm_segments**: the fact collapses to one row per customer FIRST
  (map-side-combining aggregate); the three quintiles then run on the
  customer dimension through ntile_scale (operators/scale.py), the
  operator bin_quantile takes above its budget — no single-task sort
  at any customer count.
- **benford_digits**: one map-side-combining groupBy over 9 digit
  keys; everything downstream is a 9-row frame.
- **hll_distinct**: approx_count_distinct is Spark's native HLL++ —
  mergeable registers, no shuffle of raw user ids for the approx path;
  the exact COUNT(DISTINCT) here exists only to power the error-bound
  oracle.
- **ks_test**: the fact collapses to per-distinct-value group counts,
  then the global CDFs come from prefix_sums_scale
  (operators/scale.py) — range-partitioned local cumulative sums plus
  driver prefix-summed per-partition offsets; NO single-task global
  window anywhere in the plan.
- **pca_gram**: each partition emits its d*d partial Gram
  (mapInPandas, Arrow-batched numpy); the shuffle carries
  partitions*d^2 tiny rows, independent of row count. The driver-side
  eigensolve is on a d*d matrix.

Reference parity: the reference ETL (extract/transformation_pipeline
.py) has no statistics of this family; these extend the engine per the
round brief's "operations a large-scale training-data pipeline would
need" (corpus QA, cardinality estimation, distribution-shift tests,
embedding decomposition).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import register

# ---------------------------------------------------------------------
# graph_bfs — multi-hop shortest distance on the co-purchase graph
# from the 3 lowest-id nodes, bounded at 4 hops. Spark: iterative
# frontier expansion (join + anti-join per hop); oracle: DuckDB
# WITH RECURSIVE (UNION-deduped level expansion), min dist per node.
# ---------------------------------------------------------------------

_BFS_HOPS = 4

_BFS_SQL = f"""
WITH RECURSIVE E AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
seeds AS (SELECT DISTINCT u AS node FROM E ORDER BY u LIMIT 3),
bfs(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT E.v, bfs.dist + 1 FROM bfs JOIN E ON E.u = bfs.node
  WHERE bfs.dist < {_BFS_HOPS}
),
d AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM bfs GROUP BY node)
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node, max(node) AS max_node
FROM d GROUP BY dist ORDER BY dist
"""


@register("graph_bfs", _BFS_SQL)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop-distance profile from the 3 lowest-id parts on the
    co-purchase graph (parts bought together in one order), bounded at
    4 hops: per-distance reachable-node counts with min/max node.

    The frontier loop is the textbook distributed BFS: at hop h the
    frontier joins the (symmetrized) edge table, anti-joins the
    visited set, and becomes the next frontier — every step is
    node-bounded and shuffle-parallel; localCheckpoint per hop keeps
    the plan from growing with the iteration count (the CC-loop
    pattern, dedupe.py). The oracle's recursive CTE dedupes (node,
    dist) pairs per level, so min(dist) is the same BFS distance.
    All outputs are exact BIGINTs."""
    from books2scrape_etl_spark.functions.util import sized_shuffle_partitions, stage
    from books2scrape_etl_spark.operators.graph import copurchase_edges

    li = read_table(spark, "lineitem", sf_dir)
    e = copurchase_edges(li).select("src", "dst")
    edges = stage(
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(3)
        .select("node", F.lit(0).cast("bigint").alias("dist"))
    )
    # hop shuffles sized to the graph (functions.util): each hop is
    # eager (checkpoint + isEmpty), distances are exact integers, and
    # only checkpointed frames survive the guard — the final agg below
    # runs at the caller's configured width
    with sized_shuffle_partitions(spark, edges.count()):
        dist = seeds.localCheckpoint(eager=True)
        frontier = dist
        for h in range(1, _BFS_HOPS + 1):
            # shuffle-hash on both joins: the frontier/visited sets are
            # the build sides (node-bounded); never let Catalyst
            # broadcast the EDGE table (a driver-built edge broadcast
            # is exactly what dies at scale)
            nxt = (
                frontier.hint("shuffle_hash")
                .join(edges, frontier["node"] == edges["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(dist.select("node").hint("shuffle_hash"), "node", "left_anti")
                .select("node", F.lit(h).cast("bigint").alias("dist"))
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            dist = dist.unionAll(nxt).localCheckpoint(eager=True)
            frontier = nxt
    return (
        dist.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------
# rfm_segments — Recency/Frequency/Monetary quintile segmentation,
# the classic CRM warehouse rollup. ntile(5) is bit-identical across
# Spark/DuckDB under the same total order (probed this host: both
# assign ceil-sized buckets first).
# ---------------------------------------------------------------------

_RFM_SQL = """
WITH pc AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mon_cents,
         max(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS last_day
  FROM orders GROUP BY o_custkey
),
ref AS (SELECT max(last_day) AS ref_day FROM pc),
r AS (
  SELECT o_custkey, freq, mon_cents, ref.ref_day - last_day AS rec_days,
         CAST(ntile(5) OVER (ORDER BY ref.ref_day - last_day, o_custkey) AS BIGINT) AS r_q,
         CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f_q,
         CAST(ntile(5) OVER (ORDER BY mon_cents, o_custkey) AS BIGINT) AS m_q
  FROM pc CROSS JOIN ref
)
SELECT r_q * 100 + f_q * 10 + m_q AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(mon_cents) AS BIGINT) AS total_cents,
       CAST(CAST(SUM(mon_cents) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS avg_cents
FROM r GROUP BY segment ORDER BY segment
"""


@register("rfm_segments", _RFM_SQL)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: collapse orders to one (recency, frequency,
    monetary) row per customer, quintile each dimension with ntile(5)
    over a (value, custkey) total order, and roll up the 125 segments.
    r_q/f_q/m_q = 1 is the most-recent / least-frequent / lowest-spend
    quintile respectively (segment code r*100+f*10+m).

    Monetary is exact integer cents (decimal cast before the sum);
    recency is integer epoch-day math (``CAST(ts AS LONG) DIV 86400``
    ≡ DuckDB ``// 86400``); avg_cents is one exact-BIGINT double
    division. The three quintiles route through
    :func:`operators.scale.ntile_scale` (VERDICT r8 item 7) —
    bit-identical to ``ntile(5) OVER (ORDER BY value, custkey)`` (the
    oracle still checks the exact window form) but built as
    range-partition + local rank + broadcast offsets, so no global
    window survives in the plan and no lint exemption is needed. No
    dispatcher either: the scale form IS exact (bin_quantile routes
    to it above its budget), it just never sorts the collapsed
    customer frame in one task — safe at 1.5 B customers."""
    o = read_table(spark, "orders", sf_dir)
    if dict(o.dtypes).get("o_orderdate") == "timestamp_ntz":
        # micros-NTZ vintage: reinterpret wall clock as UTC (the
        # read_table events posture; the cast resolves against the
        # session TZ, so pin it — runtime-settable per the verify rules)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        o = o.withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    pc = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("freq"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("mon_cents"),
        F.max(F.expr("CAST(o_orderdate AS LONG) DIV 86400")).alias("last_day"),
    )
    from books2scrape_etl_spark.functions.util import stage
    from books2scrape_etl_spark.operators.scale import ntile_scale

    ref = pc.agg(F.max("last_day").alias("ref_day"))
    # stage the collapsed frame: the first ntile_scale reads it twice
    # (boundary sample, ranked rows)
    base = stage(
        pc.crossJoin(F.broadcast(ref))
        .withColumn("rec_days", F.col("ref_day") - F.col("last_day"))
    )
    r = ntile_scale(base, ["rec_days", "o_custkey"], 5, out_col="r_q")
    r = ntile_scale(r, ["freq", "o_custkey"], 5, out_col="f_q")
    r = ntile_scale(r, ["mon_cents", "o_custkey"], 5, out_col="m_q")
    return (
        r.groupBy(
            (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("mon_cents").alias("total_cents"),
        )
        .withColumn(
            "avg_cents",
            F.col("total_cents").cast("double") / F.col("n_cust").cast("double"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------
# benford_digits — first-significant-digit profile of order totals vs
# Benford's law. log10 is not bit-portable (JVM Math vs DuckDB), so
# the 9 expected shares are Python-precomputed literals injected into
# BOTH engines (the tfidf_bm25 ln-table rule).
# ---------------------------------------------------------------------

_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

_BENFORD_CASE_SQL = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN CAST('{v!r}' AS DOUBLE)" for d, v in _BENFORD.items())
    + " END"
)

_BENFORD_SQL = f"""
WITH c AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM c WHERE cents >= 1
),
o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY digit),
t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM o)
SELECT digit, n_obs,
       CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share_obs,
       {_BENFORD_CASE_SQL} AS share_exp,
       ((CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)) - ({_BENFORD_CASE_SQL}))
         * ((CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)) - ({_BENFORD_CASE_SQL}))
         / ({_BENFORD_CASE_SQL}) AS chi_cell
FROM o CROSS JOIN t ORDER BY digit
"""


@register("benford_digits", _BENFORD_SQL)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of o_totalprice (as exact integer
    cents — the digit comes from the BIGINT's decimal string, which
    both engines render identically; no float log10 in the digit
    extraction) against Benford expected shares, with the per-digit
    chi-square cell. A data-quality screen for fabricated or truncated
    monetary columns.

    share_obs and chi_cell are mirrored exact-BIGINT double trees;
    share_exp is the injected literal table."""
    o = read_table(spark, "orders", sf_dir)
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("cents")
    ).where(F.col("cents") >= 1)
    d = cents.select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("bigint").alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").alias("n_total"))
    exp_col = F.col("digit")
    expected = None
    for dig, v in _BENFORD.items():
        expected = (
            F.when(exp_col == dig, F.lit(v))
            if expected is None
            else expected.when(exp_col == dig, F.lit(v))
        )
    share = F.col("n_obs").cast("double") / F.col("n_total").cast("double")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            share.alias("share_obs"),
            expected.alias("share_exp"),
            (
                (share - expected) * (share - expected) / expected
            ).alias("chi_cell"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------
# hll_distinct — HyperLogLog++ cardinality per event_type with a HARD
# error-bound oracle: the DuckDB side computes the exact distinct
# count and asserts the bound held (ok=1); if Spark's sketch ever
# drifts past 3x its configured rsd the hash comparison goes red.
# ---------------------------------------------------------------------

_HLL_RSD = 0.02
_HLL_TOL = 0.06  # 3 x rsd; measured drift on this data is ~0.4%

_HLL_SQL = f"""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS within_bound
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("hll_distinct", _HLL_SQL)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users: exact COUNT(DISTINCT) alongside
    approx_count_distinct (Spark's HyperLogLog++, rsd=0.02). The
    emitted flag is |approx - exact| <= 0.06 * exact; the oracle
    asserts the flag is 1 against the exact count it computes itself,
    so an out-of-bound sketch is a hash mismatch, not a silent pass.

    The approx path is the 100 TB one: HLL registers merge
    associatively (map-side partials, no shuffle of raw ids); the
    exact count here exists only to power the bound check."""
    ev = read_table(spark, "events", sf_dir)
    g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", _HLL_RSD).alias("approx_users"),
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users")).cast("double")
    return g.select(
        "event_type",
        "exact_users",
        F.when(err <= F.lit(_HLL_TOL) * F.col("exact_users").cast("double"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("within_bound"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------
# ks_test — two-sample Kolmogorov-Smirnov between the value
# distributions of the two lexicographically-first event types.
# The global CDFs come from prefix_sums_scale (range-partitioned
# cumulative counts + driver offsets) — no single-task window.
# ---------------------------------------------------------------------

_KS_C_ALPHA = 1.3581015157406195  # c(0.05) = sqrt(-ln(0.025)/2), precomputed

_KS_SQL = f"""
WITH g AS (
  SELECT event_type FROM (
    SELECT DISTINCT event_type FROM events ORDER BY event_type LIMIT 2
  )
),
e AS (
  SELECT e.event_type, e.value FROM events e JOIN g ON e.event_type = g.event_type
),
gn AS (SELECT min(event_type) AS g1, max(event_type) AS g2 FROM g),
c AS (
  SELECT value,
         CAST(SUM(CASE WHEN event_type = (SELECT g1 FROM gn) THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN event_type = (SELECT g2 FROM gn) THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM e GROUP BY value
),
cum AS (
  SELECT value,
         CAST(SUM(c1) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
  FROM c
),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM c),
d AS (
  SELECT value,
         abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS diff,
         n1, n2
  FROM cum CROSS JOIN n
),
top AS (SELECT * FROM d ORDER BY diff DESC, value LIMIT 1)
SELECT gn.g1, gn.g2, top.n1, top.n2,
       top.diff AS d_stat, top.value AS at_value,
       CAST('{_KS_C_ALPHA!r}' AS DOUBLE)
         * sqrt(CAST(top.n1 + top.n2 AS DOUBLE) / CAST(top.n1 * top.n2 AS DOUBLE))
         AS d_crit,
       CAST(CASE WHEN top.diff > CAST('{_KS_C_ALPHA!r}' AS DOUBLE)
             * sqrt(CAST(top.n1 + top.n2 AS DOUBLE) / CAST(top.n1 * top.n2 AS DOUBLE))
            THEN 1 ELSE 0 END AS BIGINT) AS reject
FROM top CROSS JOIN gn
"""


@register("ks_test", _KS_SQL)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic D = sup_x |F1(x) - F2(x)| between the
    two lexicographically-first event types' value distributions, with
    the alpha=0.05 critical value and reject flag — the standard
    distribution-shift gate between two corpus slices.

    Plan shape: collapse to per-distinct-value group counts (one
    map-side-combining aggregate), then prefix_sums_scale for the two
    global cumulative counts (range partition + local window + driver
    offsets — bit-identical to the oracle's global window because
    integer addition is exact), then one orderBy().limit(1) argmax
    with the (diff DESC, value) total order. D and the critical value
    are mirrored exact-BIGINT double trees (sqrt is correctly rounded
    in both engines; c(0.05) is an injected literal)."""
    from books2scrape_etl_spark.operators.scale import prefix_sums_scale

    ev = read_table(spark, "events", sf_dir).select("event_type", "value")
    g = (
        ev.select("event_type")
        .distinct()
        .orderBy("event_type")
        .limit(2)
        .agg(F.min("event_type").alias("g1"), F.max("event_type").alias("g2"))
    )
    e = ev.crossJoin(F.broadcast(g)).where(
        (F.col("event_type") == F.col("g1")) | (F.col("event_type") == F.col("g2"))
    )
    c = e.groupBy("value", "g1", "g2").agg(
        F.sum(F.when(F.col("event_type") == F.col("g1"), 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("event_type") == F.col("g2"), 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    cum = prefix_sums_scale(c, ["value"], ["c1", "c2"])
    n = c.agg(
        F.sum("c1").cast("bigint").alias("n1"), F.sum("c2").cast("bigint").alias("n2")
    )
    d = cum.crossJoin(F.broadcast(n)).select(
        "value",
        "g1",
        "g2",
        "n1",
        "n2",
        F.abs(
            F.col("cum_c1").cast("double") / F.col("n1").cast("double")
            - F.col("cum_c2").cast("double") / F.col("n2").cast("double")
        ).alias("diff"),
    )
    top = d.orderBy(F.col("diff").desc(), "value").limit(1)
    crit = F.lit(_KS_C_ALPHA) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1") * F.col("n2")).cast("double")
    )
    return top.select(
        "g1",
        "g2",
        "n1",
        "n2",
        F.col("diff").alias("d_stat"),
        F.col("value").alias("at_value"),
        crit.alias("d_crit"),
        F.when(F.col("diff") > crit, 1).otherwise(0).cast("bigint").alias("reject"),
    )


# ---------------------------------------------------------------------
# pca_gram — top principal component of the embeddings table via a
# distributed Gram matrix (partition-partial X'X through mapInPandas)
# and a driver-side eigensolve on the d*d result. Float reduction
# order makes values non-portable, so this verifies through the
# algorithm's own theorems (the kmeans/pagerank invariants pattern).
# ---------------------------------------------------------------------

_PCA_SQL = """
SELECT 'gram_psd_diag' AS check_name, CAST(1 AS BIGINT) AS ok
UNION ALL SELECT 'trace_matches_sq_norms', CAST(1 AS BIGINT)
UNION ALL SELECT 'rayleigh_dominates_probe', CAST(1 AS BIGINT)
UNION ALL SELECT 'eigen_residual_small', CAST(1 AS BIGINT)
UNION ALL SELECT 'explained_var_in_range', CAST(1 AS BIGINT)
ORDER BY check_name
"""


@register("pca_gram", _PCA_SQL)
def q_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component (uncentered PCA / leading eigenvector
    of X'X) of the 64-d embeddings, computed the 100 TB way: each
    partition ships its d*d partial Gram (numpy einsum inside
    mapInPandas — Arrow batches, no per-row Python), partials sum in
    one tiny groupBy (partitions * d^2 rows, independent of n), and
    the driver eigensolves the d*d matrix (LAPACK eigh; the
    embeddings here are near-isotropic, so matrix-free power
    iteration stalls at ~3e-4 relative residual — measured — while
    the direct solve is exact to machine precision).

    Verified through the decomposition's own theorems (float reduction
    order rules out value hashing; constant oracle, the
    kmeans_invariants pattern):
    - gram_psd_diag: every Gram diagonal entry is >= 0;
    - trace_matches_sq_norms: trace(G) equals the independently
      Spark-aggregated sum of squared vector norms (rel tol 1e-6);
    - rayleigh_dominates_probe: the converged eigenvalue >= the
      Rayleigh quotient of a fixed probe vector (max theorem);
    - eigen_residual_small: ||G v - lambda v|| <= 1e-8 * ||G||_F;
    - explained_var_in_range: 0 < lambda / trace(G) <= 1.
    """
    import numpy as np
    import pandas as pd

    emb = read_table(spark, "embeddings", sf_dir).select("embedding")
    dim = 64

    def partial_gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]],
                dtype=np.float64,
            )
            g = x.T @ x
            iu = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {"i": iu[0].astype("int32"), "j": iu[1].astype("int32"), "val": g[iu]}
            )

    parts = emb.mapInPandas(partial_gram, "i int, j int, val double")
    rows = parts.groupBy("i", "j").agg(F.sum("val").alias("val")).collect()
    g = np.zeros((dim, dim), dtype=np.float64)
    for r in rows:
        g[r["i"], r["j"]] = r["val"]
        g[r["j"], r["i"]] = r["val"]

    sq_norms = emb.select(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        ).alias("sq")
    ).agg(F.sum("sq").alias("total")).collect()[0]["total"]

    eigvals, eigvecs = np.linalg.eigh(g)
    lam = float(eigvals[-1])
    v = eigvecs[:, -1]
    trace = float(np.trace(g))
    probe = np.full(dim, 1.0 / math.sqrt(dim))
    rayleigh_probe = float(probe @ (g @ probe))
    residual = float(np.linalg.norm(g @ v - lam * v))
    fro = float(np.linalg.norm(g))
    checks = [
        ("eigen_residual_small", residual <= 1e-8 * fro),
        ("explained_var_in_range", 0.0 < lam / trace <= 1.0 if trace > 0 else False),
        ("gram_psd_diag", bool(np.all(np.diag(g) >= 0.0))),
        ("rayleigh_dominates_probe", lam >= rayleigh_probe - 1e-9 * abs(lam)),
        (
            "trace_matches_sq_norms",
            abs(trace - float(sq_norms)) <= 1e-6 * max(abs(trace), 1.0),
        ),
    ]
    return spark.createDataFrame(
        [(name, 1 if ok else 0) for name, ok in checks], "check_name string, ok long"
    )
