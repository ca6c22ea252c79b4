"""Wave-16 qnames (round 7, continuation session): linear time-series
interpolation, deterministic random walks on the co-purchase graph,
and Welch's unequal-variance t-test — the remaining time-series /
graph-sampling / statistics staples.

Placed past the 50-entry driver window; claims r8 slots together with
the wave-12..15 sets listed in queries.py.

Engine-parity posture (the measured rules in the verify skill /
COVERAGE.md): interpolation operates on PASS-THROUGH doubles (LOCF
forward and backward — ``last``/``first`` ``IGNORE NULLS`` carry the
stored value unchanged, the measured-safe pattern) combined through a
mirrored tree whose only inputs are those pass-throughs and
exact-BIGINT ratios; the walk's step choice hashes with the shared
md5-prefix rule (portable_hash32 / its documented DuckDB twin), so
every visited node is an exact BIGINT; Welch's statistic is derived
from exact DECIMAL sufficient statistics (sum, sum of squares) through
a mirrored double tree (sqrt is correctly rounded and portable).

Scale posture (local[32] today, 1000 executors tomorrow):

- **ts_interp**: the hourly rollup is one map-side-combining
  aggregate; the grid explodes inside each user's task from one
  (min, max) row; both direction windows are PARTITIONED by user —
  no global sort anywhere (the ts_gapfill plan shape, one extra
  window direction).
- **graph_walks**: the walker frontier is walks-sized (seeds x 1 row
  per step), joined per step against the node-keyed adjacency table —
  the frontier side broadcasts while walkers are few; at production
  walker counts the same loop runs shuffle-hash keyed by node (the
  graph_bfs posture). The adjacency build is the one heavy shuffle
  and is checkpointed once, not once per step.
- **welch_ttest**: one map-side-combining aggregate to six sufficient
  statistics per group; everything downstream is a one-row frame.

Reference parity: the reference ETL (extract/transformation_pipeline
.py) has no analytics of this family; these extend the engine per the
round brief (training-data pipelines interpolate feature series,
sample graphs for embedding walks, and gate dataset shifts with
two-sample tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import oracle_sum_exact, sum_exact
from books2scrape_etl_spark.functions.util import stage
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.operators.sketch import portable_hash32
from books2scrape_etl_spark.registry import register

# ---------------------------------------------------------------------
# ts_interp — linear interpolation on the per-user hourly grid (the
# ts_gapfill construction, with the gap filled by the line between the
# surrounding observations instead of LOCF).
# ---------------------------------------------------------------------

_INTERP_USER_MOD = 29  # same grid bound as ts_gapfill

_TS_INTERP_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
  FROM events WHERE user_id % {_INTERP_USER_MOD} = 0
),
h AS (
  SELECT user_id, es - es % 3600 AS hour_es,
         {oracle_sum_exact("value", scale=4)} AS sv
  FROM e GROUP BY 1, 2
),
b AS (SELECT user_id, min(hour_es) AS mn, max(hour_es) AS mx FROM h GROUP BY 1),
g AS (SELECT user_id, unnest(generate_series(mn, mx, 3600)) AS hour_es FROM b),
j AS (
  SELECT g.user_id, g.hour_es, h.sv
  FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hour_es = h.hour_es
),
w AS (
  SELECT user_id, hour_es, sv,
         last_value(sv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour_es
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN sv IS NOT NULL THEN hour_es END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour_es
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(sv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour_es
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN sv IS NOT NULL THEN hour_es END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour_es
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT user_id, hour_es,
       CAST(CASE WHEN sv IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_interp,
       CASE WHEN sv IS NOT NULL THEN sv
            WHEN pv IS NULL THEN nv
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv)
                 * (CAST(hour_es - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       END AS interp_value
FROM w
"""


@register("ts_interp", _TS_INTERP_SQL)
def q_ts_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid completion per user with LINEAR interpolation: gap
    hours get the value on the straight line between the previous and
    next observed hourly sums (edges clamp to the nearest observation).

    Parity: pv/nv are pass-through doubles (``last``/``first`` with
    ``ignorenulls`` over the measured-safe frames); the line formula is
    the mirrored tree ``pv + (nv - pv) * ((hour-pd)/(nd-pd))`` whose
    ratio is a double division of exact BIGINT hour deltas — one
    correctly-rounded IEEE op per step in both engines.

    Scale: identical plan shape to ts_gapfill (per-user grid explode +
    partitioned windows; the extra backward window reuses the same
    user shuffle); the user_id filter bounds the demo grid only."""
    ev = read_table(spark, "events", sf_dir).where(
        F.col("user_id") % _INTERP_USER_MOD == 0
    )
    es = F.col("ts").cast("long")
    # consumed twice (bounds + fill join) — stage it
    hourly = stage(
        ev.select("user_id", (es - es % 3600).alias("hour_es"), "value")
        .groupBy("user_id", "hour_es")
        .agg(sum_exact("value", scale=4).alias("sv"))
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_es").alias("mn"), F.max("hour_es").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_es"),
        )
    )
    j = grid.join(hourly, ["user_id", "hour_es"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hour_es")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hour_es")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("sv").isNotNull(), F.col("hour_es"))
    w = j.select(
        "user_id",
        "hour_es",
        "sv",
        F.last("sv", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(wb).alias("pd"),
        F.first("sv", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(wf).alias("nd"),
    )
    line = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("hour_es") - F.col("pd")).cast("double")
        / (F.col("nd") - F.col("pd")).cast("double")
    )
    return w.select(
        "user_id",
        "hour_es",
        F.col("sv").isNull().cast("bigint").alias("is_interp"),
        F.when(F.col("sv").isNotNull(), F.col("sv"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(line)
        .alias("interp_value"),
    )


# ---------------------------------------------------------------------
# graph_walks — deterministic "random" walks on the co-purchase graph:
# at (node, step) the next hop is neighbors[h32(node||'_'||step) mod
# degree] over the SORTED neighbor list, so both engines trace the
# identical paths (the node2vec-style corpus-sampling primitive, made
# oracle-checkable by deriving the randomness from the shared
# md5-prefix hash rule).
# ---------------------------------------------------------------------

_WALK_SEEDS = 5
_WALK_STEPS = 6

_H32_NODE_STEP = (
    "CAST(('0x' || substr(md5(CAST(w.node AS VARCHAR) || '_' ||"
    " CAST(w.step AS VARCHAR)), 1, 8)) AS BIGINT)"
)

_WALKS_SQL = f"""
WITH RECURSIVE E AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
adj AS (
  SELECT u, list(v ORDER BY v) AS nbrs, CAST(COUNT(*) AS BIGINT) AS deg
  FROM E GROUP BY u
),
seeds AS (SELECT DISTINCT u AS seed FROM E ORDER BY u LIMIT {_WALK_SEEDS}),
walk(seed, step, node) AS (
  SELECT seed, CAST(0 AS BIGINT), seed FROM seeds
  UNION ALL
  SELECT w.seed, w.step + 1,
         a.nbrs[CAST(({_H32_NODE_STEP} % a.deg) + 1 AS INT)]
  FROM walk w JOIN adj a ON a.u = w.node
  WHERE w.step < {_WALK_STEPS}
)
SELECT seed, step, node FROM walk ORDER BY seed, step
"""


@register("graph_walks", _WALKS_SQL)
def q_graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-6 walks from the 5 lowest-id parts on the
    co-purchase graph. The step choice is hash-deterministic
    (portable_hash32 of "node_step" mod degree into the sorted
    neighbor array), which makes a sampling operator value-verifiable:
    the DuckDB recursive CTE traces bit-identical paths.

    Scale: one adjacency shuffle (groupBy node), localCheckpoint-ed
    inside a graph-sized shuffle guard (the graph_bfs loop); each step
    joins the walker frontier (walks-sized) against it — broadcast
    while walkers are few, shuffle-hash keyed by node at production
    walker counts (the graph_bfs posture). The steps stay one lazy
    chain: over the checkpointed adjacency the planner reuses each
    step's broadcast, while over a staged cache it re-runs the nested
    broadcasts of every earlier step (a build+force at sf0.001 ran 224
    stages against 20). All outputs are exact BIGINTs."""
    from books2scrape_etl_spark.functions.util import sized_shuffle_partitions
    from books2scrape_etl_spark.operators.graph import copurchase_edges

    li = read_table(spark, "lineitem", sf_dir)
    e = copurchase_edges(li).select("src", "dst")
    edges = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # sized to the line items, a cheap proxy for the edge count (the
    # edges come from a self-join; counting them would run it twice)
    with sized_shuffle_partitions(spark, li.count()):
        adj = (
            edges.groupBy(F.col("src").alias("u"))
            .agg(
                F.sort_array(F.collect_list("dst")).alias("nbrs"),
                F.count(F.lit(1)).alias("deg"),
            )
            .localCheckpoint(eager=True)
        )
        seeds = (
            adj.select(F.col("u").alias("seed"))
            .orderBy("seed")
            .limit(_WALK_SEEDS)
            .select("seed", F.lit(0).cast("bigint").alias("step"), F.col("seed").alias("node"))
        )
        cur = seeds
        out = seeds
        for t in range(_WALK_STEPS):
            key = F.concat_ws(
                "_", F.col("node").cast("string"), F.lit(t).cast("string")
            )
            nxt = (
                F.broadcast(cur)
                .join(adj, cur["node"] == adj["u"])
                .select(
                    "seed",
                    F.lit(t + 1).cast("bigint").alias("step"),
                    F.element_at(
                        "nbrs",
                        ((portable_hash32(key) % F.col("deg")) + 1).cast("int"),
                    ).alias("node"),
                )
            )
            cur = nxt
            out = out.unionAll(nxt)
    return out.orderBy("seed", "step")


# ---------------------------------------------------------------------
# welch_ttest — Welch's unequal-variance two-sample t-test on the two
# lexicographically-first event types' values (the mean-shift
# counterpart of ks_test's distribution test and ab_lift's proportion
# test). Everything derives from exact DECIMAL sufficient statistics.
# ---------------------------------------------------------------------

_WELCH_SQL = """
WITH g AS (
  SELECT event_type FROM (
    SELECT DISTINCT event_type FROM events ORDER BY event_type LIMIT 2
  )
),
gn AS (SELECT min(event_type) AS g1, max(event_type) AS g2 FROM g),
s AS (
  SELECT e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(e.value AS DECIMAL(18,2)) * CAST(e.value AS DECIMAL(18,2)))
              AS DOUBLE) AS sxx
  FROM events e JOIN g ON e.event_type = g.event_type
  GROUP BY e.event_type
),
p AS (
  SELECT gn.g1, gn.g2,
         s1.n AS n1, s2.n AS n2,
         s1.sx / CAST(s1.n AS DOUBLE) AS mean1,
         s2.sx / CAST(s2.n AS DOUBLE) AS mean2,
         (s1.sxx - ((s1.sx * s1.sx) / CAST(s1.n AS DOUBLE))) / CAST(s1.n - 1 AS DOUBLE) AS var1,
         (s2.sxx - ((s2.sx * s2.sx) / CAST(s2.n AS DOUBLE))) / CAST(s2.n - 1 AS DOUBLE) AS var2
  FROM gn
  JOIN s s1 ON s1.event_type = gn.g1
  JOIN s s2 ON s2.event_type = gn.g2
)
SELECT g1, g2, n1, n2, mean1, mean2, var1, var2,
       (mean1 - mean2)
         / sqrt((var1 / CAST(n1 AS DOUBLE)) + (var2 / CAST(n2 AS DOUBLE))) AS t_stat,
       ((var1 / CAST(n1 AS DOUBLE)) + (var2 / CAST(n2 AS DOUBLE)))
         * ((var1 / CAST(n1 AS DOUBLE)) + (var2 / CAST(n2 AS DOUBLE)))
         / (((var1 / CAST(n1 AS DOUBLE)) * (var1 / CAST(n1 AS DOUBLE)))
              / CAST(n1 - 1 AS DOUBLE)
            + ((var2 / CAST(n2 AS DOUBLE)) * (var2 / CAST(n2 AS DOUBLE)))
              / CAST(n2 - 1 AS DOUBLE)) AS df_welch
FROM p
"""


@register("welch_ttest", _WELCH_SQL)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between the two lexicographically-first event types:
    one map-side-combining aggregate reduces each group to (n, sum x,
    sum x^2) — the sums exact DECIMALs (values are 2-decimal, squares
    4-decimal) cast to double once — then mean, sample variance
    ((sxx - sx^2/n)/(n-1)), the t statistic, and the Welch-
    Satterthwaite degrees of freedom all come from one mirrored double
    tree (sqrt portable; every division/multiplication in the same
    order in both engines)."""
    ev = read_table(spark, "events", sf_dir).select("event_type", "value")
    g = (
        ev.select("event_type")
        .distinct()
        .orderBy("event_type")
        .limit(2)
        .agg(F.min("event_type").alias("g1"), F.max("event_type").alias("g2"))
    )
    dec = F.col("value").cast("decimal(18,2)")
    s = (
        ev.crossJoin(F.broadcast(g))
        .where((F.col("event_type") == F.col("g1")) | (F.col("event_type") == F.col("g2")))
        .groupBy("event_type", "g1", "g2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).cast("double").alias("sx"),
            F.sum(dec * dec).cast("double").alias("sxx"),
        )
    )
    s1 = s.where(F.col("event_type") == F.col("g1")).select(
        "g1", "g2", F.col("n").alias("n1"), F.col("sx").alias("sx1"), F.col("sxx").alias("sxx1")
    )
    s2 = s.where(F.col("event_type") == F.col("g2")).select(
        F.col("g1").alias("g1b"), F.col("n").alias("n2"), F.col("sx").alias("sx2"), F.col("sxx").alias("sxx2")
    )
    p = s1.join(F.broadcast(s2), s1["g1"] == s2["g1b"]).drop("g1b")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean1 = F.col("sx1") / d("n1")
    mean2 = F.col("sx2") / d("n2")
    var1 = (F.col("sxx1") - ((F.col("sx1") * F.col("sx1")) / d("n1"))) / (
        F.col("n1") - 1
    ).cast("double")
    var2 = (F.col("sxx2") - ((F.col("sx2") * F.col("sx2")) / d("n2"))) / (
        F.col("n2") - 1
    ).cast("double")
    p = p.select(
        "g1",
        "g2",
        "n1",
        "n2",
        mean1.alias("mean1"),
        mean2.alias("mean2"),
        var1.alias("var1"),
        var2.alias("var2"),
    )
    se1 = F.col("var1") / d("n1")
    se2 = F.col("var2") / d("n2")
    t_stat = (F.col("mean1") - F.col("mean2")) / F.sqrt(se1 + se2)
    df_welch = ((se1 + se2) * (se1 + se2)) / (
        ((se1 * se1) / (F.col("n1") - 1).cast("double"))
        + ((se2 * se2) / (F.col("n2") - 1).cast("double"))
    )
    return p.select(
        "g1",
        "g2",
        "n1",
        "n2",
        "mean1",
        "mean2",
        "var1",
        "var2",
        t_stat.alias("t_stat"),
        df_welch.alias("df_welch"),
    )
