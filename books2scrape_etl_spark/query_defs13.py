"""Wave-13 qnames (round 7, late session): event sessionization,
Markov transition profiling, the 2-D Pareto skyline, and triangle
counting on the co-purchase graph — the remaining classic
event-analytics / graph-mining operators the registry did not yet
cover (stream_session covers gap sessions in STREAMING form; this adds
the batch twin every warehouse runs nightly).

Placed past the 50-entry driver window; first claim on r8 slots
together with the wave-12 set listed in queries.py.

Engine-parity choices (the measured rules in COVERAGE.md / the verify
skill): every compared number is an exact BIGINT or an untouched
pass-through double; timestamps cross as epoch-second longs
(``CAST(ts AS LONG)`` ≡ ``CAST(floor(epoch(ts)) AS BIGINT)``); window
ordering always includes the unique event_id tiebreak; top-k results
carry a total-order tiebreak so LIMIT cuts identically in both
engines. No float arithmetic anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import stage
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.oracle_shared import SESSION_GAP_S as _SESSION_GAP_S
from books2scrape_etl_spark.registry import register

# ---------------------------------------------------------------------
# sessionize_batch — gap-based sessionization (the batch twin of the
# streaming session_window path, and the form every event warehouse
# materializes nightly: lag -> new-session flag -> running sum id).
# Gap constant shared with query_defs14.session_paths via
# oracle_shared (cycle-free home).
# ---------------------------------------------------------------------

_SESSIONIZE_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
l AS (
  SELECT user_id, event_id, event_type, es,
         lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev_es
  FROM e
),
f AS (
  SELECT user_id, event_id, event_type, es,
         CAST(CASE WHEN prev_es IS NULL OR es - prev_es > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS BIGINT) AS is_new
  FROM l
),
s AS (
  SELECT user_id, event_type, es,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM f
)
SELECT user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       min(es) AS start_es,
       max(es) - min(es) AS duration_s,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM s GROUP BY user_id, session_id
"""


@register("sessionize_batch", _SESSIONIZE_SQL)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (new session when the gap to the
    previous event exceeds 21600 s, strictly): lag -> boolean flag ->
    running sum assigns dense per-user session ids, then one aggregate
    emits per-session stats. Both windows are PARTITIONED by user
    (lint-clean: no global sort); the ordering (es, event_id) is a
    total order, so session ids are deterministic. All outputs are
    exact BIGINTs — the epoch math never touches floats."""
    ev = read_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    flagged = ev.withColumn(
        "is_new",
        (
            F.lag("es").over(w).isNull()
            | (F.col("es") - F.lag("es").over(w) > _SESSION_GAP_S)
        ).cast("bigint"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("es").alias("start_es"),
        (F.max("es") - F.min("es")).alias("duration_s"),
        F.countDistinct("event_type").alias("n_types"),
    )


# ---------------------------------------------------------------------
# event_transitions — first-order Markov transition profile of the
# event stream (what follows what): the navigation-flow / anomaly
# baseline query. Counts stay exact; no probabilities are materialized
# (rank by count ≡ rank by P(next|cur) within each prev row-group —
# the rank-by-monotone-ratio rule).
# ---------------------------------------------------------------------

_TRANSITIONS_SQL = """
WITH l AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS cur_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM l WHERE prev_type IS NOT NULL
GROUP BY prev_type, cur_type
"""


@register("event_transitions", _TRANSITIONS_SQL)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prev event_type -> event_type) transition matrix entries with
    occurrence and distinct-user counts. One partitioned lag window +
    one map-side-combining aggregate; the output is |types|² rows no
    matter the input size — the profile every funnel/flow dashboard
    reads."""
    ev = read_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", F.col("ts").cast("long").alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    trans = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        F.col("prev_type").isNotNull()
    )
    return trans.groupBy(
        "prev_type", F.col("event_type").alias("cur_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------
# skyline_pareto — dominance frontier over parts (cheapest price for
# the size, i.e. minimize price / maximize size). The oracle uses the
# straightforward single-window formulation; the engine runs the
# bucketed two-level construction (operators/skyline.py) — same
# answer from an independent plan shape is the correctness claim.
# ---------------------------------------------------------------------

_SKYLINE_SQL = """
WITH cand AS (
  SELECT p_retailprice AS price,
         max(p_size) AS msize,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1
),
m AS (
  SELECT price, msize, n_parts,
         max(msize) OVER (ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS pm
  FROM cand
)
SELECT price, CAST(msize AS BIGINT) AS size, n_parts
FROM m WHERE pm IS NULL OR msize > pm
"""


@register("skyline_pareto", _SKYLINE_SQL)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts: no other part is both cheaper-or-equal
    AND larger-or-equal (strict somewhere). The price double passes
    through untouched (hash-safe); size/count are exact BIGINTs.
    Scale path: per-price collapse -> bucketed partitioned window ->
    driver prefix-max of one-row-per-bucket offsets (never a global
    sort; see operators/skyline.py)."""
    from books2scrape_etl_spark.operators.skyline import skyline_2d

    part = read_table(spark, "part", sf_dir)
    sky = skyline_2d(part, "p_retailprice", "p_size", bucket_width=100)
    return sky.select(
        F.col("x").alias("price"),
        F.col("y").cast("bigint").alias("size"),
        F.col("n_rows").alias("n_parts"),
    )


# ---------------------------------------------------------------------
# graph_triangles — triangle participation on the co-purchase graph
# (parts bought together in one order). Degree-oriented wedge join
# (operators/graph.py:triangle_corners) vs the oracle's plain
# a<b-oriented 3-way self-join: the triangle SET is orientation-
# invariant, so per-node counts must agree exactly.
# ---------------------------------------------------------------------

_TRIANGLES_SQL = """
WITH E AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
T AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM E e1
  JOIN E e2 ON e1.v = e2.u
  JOIN E e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM T
  UNION ALL SELECT b FROM T
  UNION ALL SELECT c FROM T
),
tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM corners GROUP BY 1),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS node FROM E UNION ALL SELECT v AS node FROM E)
  GROUP BY 1
)
SELECT tc.node, deg.deg, tc.n_tri
FROM tc JOIN deg USING (node)
ORDER BY n_tri DESC, node
LIMIT 20
"""


@register("graph_triangles", _TRIANGLES_SQL)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by triangle participation (with their degree) on
    the co-purchase graph — the local-clustering profile behind
    "frequently bought together" communities. orderBy().limit(20)
    rides TakeOrderedAndProject with the (n_tri DESC, node) total
    order, so the cut is deterministic in both engines."""
    from books2scrape_etl_spark.operators.graph import (
        copurchase_edges,
        triangle_counts,
    )

    li = read_table(spark, "lineitem", sf_dir)
    edges = stage(copurchase_edges(li).select("src", "dst"))
    tri = triangle_counts(edges)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        tri.join(deg, "node")
        .orderBy(F.col("n_tri").desc(), "node")
        .limit(20)
    )
