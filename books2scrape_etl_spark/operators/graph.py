"""Graph analytics over relationship edges (SURVEY §2 L-family
extension): PageRank and degree statistics on the customer→supplier
purchase graph.

PageRank complements the connected-components operators in
:mod:`operators.dedupe`: CC is iterative LABEL propagation (exact,
converges by reachability), PageRank is iterative FLOAT propagation
(fixed iteration count, converges numerically). Both share the
scale discipline:

- per-iteration work is one equi-join (edges × ranks on src) and one
  groupBy(dst) — partial aggregation collapses contributions
  map-side, so the shuffle carries (dst, partial_sum) pairs, never
  the edge list;
- out-degrees are computed once and reused every iteration;
- lineage is cut with ``localCheckpoint`` every round by default:
  the dangling-mass scalar forces one action per round anyway, so
  materializing ranks first makes that action a scan instead of a
  full lineage replay (measured 2x on the purchase graph); nodes and
  out-degrees are staged once up front since every round reuses them;
- the dangling-node mass (rank parked on nodes with no out-edges) is
  a 1-row aggregate collected per iteration — one scalar per round,
  the same budget as CC's convergence fingerprint.

Determinism note: float addition is not associative, so rank values
may differ in the last ulps across partitionings. Invariants that are
stable — rank sums to 1, every rank positive, fixed point close to a
NumPy reference — are what the tests and the driver invariant row
pin; bit-identity is deliberately NOT claimed (unlike the integer
label propagation of CC, which is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
) -> DataFrame:
    """(node, pr) after ``iterations`` synchronous PageRank rounds with
    teleport ``1-damping`` and classic dangling-mass redistribution.
    Node set = every id appearing on either edge side; parallel edges
    count as weight (a multi-edge contributes once per occurrence)."""
    from books2scrape_etl_spark.functions.util import sized_shuffle_partitions, stage

    nodes = stage(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))
    out_deg = stage(
        edges.groupBy(F.col(src).alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    )
    n_edges = edges.count()
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    # graph-sized round shuffles (see functions.util): every round is
    # eager (the dangling collect + checkpoint), and the final ranks
    # are checkpoint-pinned before the guard exits
    with sized_shuffle_partitions(edges.sparkSession, n_edges):
        for i in range(iterations):
            contribs = (
                edges.select(F.col(src).alias("node"), F.col(dst).alias("to"))
                .join(ranks, "node")
                .join(out_deg, "node")
                .select("to", (F.col("pr") / F.col("deg")).alias("c"))
                .groupBy(F.col("to").alias("node"))
                .agg(F.sum("c").alias("in_sum"))
            )
            dangling = (
                ranks.join(out_deg, "node", "left_anti")
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
                .collect()[0][0]
            )
            base = (1.0 - damping) / n + damping * dangling / n
            ranks = (
                nodes.join(contribs, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(base) + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
                    ).alias("pr"),
                )
            )
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                ranks = ranks.localCheckpoint(eager=True)
    return ranks


def purchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Directed customer→supplier edges from the fact: one edge per
    distinct (customer, supplier) purchase relation. Suppliers map to
    ``-(suppkey + 1)`` — strictly negative even for 0-based key spaces
    (a bare negation parks supplier 0 on node 0, colliding with
    customer 0 and silently merging the two id spaces)."""
    return (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Canonical undirected co-purchase edges over parts: ``(src <
    dst, support)`` for every pair of distinct parts appearing in the
    same order — the market-basket graph that association mining and
    triangle/community analysis run on.

    Scale: the pair expansion happens INSIDE each order's basket via
    array HOFs (one groupBy shuffle carrying baskets, no self-join of
    the fact). Baskets are naturally tiny (TPC-H ≤ 7 items, retail
    ≤ O(100)), so the per-row fan-out is C(|basket|, 2) — bounded by
    basket size squared, never by table size. The output shuffle
    carries one row per DISTINCT pair (map-side combine collapses
    repeats before the exchange)."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)),"
                " y -> struct(x AS src, y AS dst))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def triangle_corners(edges: DataFrame) -> DataFrame:
    """One row ``(a, b, c)`` per triangle in an undirected graph given
    as CANONICAL edges (``src < dst``, already distinct) — the
    degree-oriented wedge-join algorithm (Suri & Vassilvitskii's
    MR triangle counting / Cohen's graph-twiddling, the published
    100 TB formulation).

    Why not join on the raw ``src < dst`` orientation: a celebrity hub
    with degree d generates C(d, 2) wedges under id-orientation —
    quadratic in the hub degree, the classic skew blowup. Re-orienting
    every edge from its LOWER-degree endpoint (ties by id) bounds every
    out-degree by O(sqrt(m)), so wedge work per node is bounded by m —
    the total wedge count drops from Σ C(deg, 2) to O(m^1.5)
    regardless of skew. The result set is identical: each triangle is
    enumerated exactly once, at its minimum-(degree, id) corner.

    Plan: one degree aggregate, two broadcast-or-shuffle equi-joins to
    orient, one self-join on the wedge pivot, one semi-join closure
    check. No cross product anywhere; every join key is a node id."""
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.select("src", "dst")
        .join(deg.select(F.col("node").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    lower_is_src = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(lower_is_src, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(lower_is_src, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )
    # wedges at the minimum corner: two out-neighbors of the same lo;
    # (b, c) taken in canonical id order so the closure probe hits the
    # canonical edge form directly
    w1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    w2 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    closed = wedges.join(
        edges.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
        "leftsemi",
    )
    return closed.select("a", "b", "c")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation ``(node, n_tri)`` — each
    triangle credits all three corners. Nodes in no triangle are
    absent (join against a degree table to densify)."""
    tri = triangle_corners(edges)
    # explode, not a 3-way unionAll of selects: Catalyst has no subtree
    # reuse, so a union would EXECUTE the wedge join three times
    # (plan-audited — the wave-12 multi-consumer lesson)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
