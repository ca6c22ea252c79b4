"""Wave-6 qnames (VERDICT r4 item 5): TPC-H completion — the three
classic shapes still missing proper forms (Q1 pricing summary, Q4
order-priority EXISTS, Q6 forecast-revenue filter) as oracle-paired
singles, packed into ONE window slot (``tpch_suite``) the way the other
component suites are.

Adaptations to the driver testdata (TESTDATA.md): ``lineitem`` carries
no commitdate/receiptdate, so Q4's EXISTS predicate becomes a quantity
threshold — the shape under test (decorrelated EXISTS -> left-semi join
feeding a priority GROUP BY) is unchanged. No reference analogue (the
reference computes one summary row per book batch); these belong to the
relational-completeness mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import (
    avg_exact,
    oracle_avg_exact,
    oracle_sum_exact,
    sum_exact,
)
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.suites import register_suite, width
from books2scrape_etl_spark.query_defs import _utc


def _ts_year_range(col: str, year: int):
    """``year(col) == year`` as a sargable half-open timestamp range.

    ``F.year(col)`` wraps the column in a function, so the parquet
    reader can't use it; plain >=/< comparisons reach the scan as
    PushedFilters and prune row groups by column statistics — the
    difference between scanning one year and scanning 100 TB."""
    lo = F.lit(f"{year}-01-01 00:00:00").cast("timestamp")
    hi = F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp")
    return (F.col(col) >= lo) & (F.col(col) < hi)


@register(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           round({oracle_sum_exact("l_quantity", 2)}, 2) AS sum_qty,
           round({oracle_sum_exact("l_extendedprice", 2)}, 2) AS sum_base_price,
           round({oracle_sum_exact("l_extendedprice * (1 - l_discount)", 4)}, 4)
             AS sum_disc_price,
           round({oracle_sum_exact(
               "l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)}, 6)
             AS sum_charge,
           round({oracle_avg_exact("l_quantity", 2)}, 6) AS avg_qty,
           round({oracle_avg_exact("l_extendedprice", 2)}, 6) AS avg_price,
           round({oracle_avg_exact("l_discount", 4)}, 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 proper (pricing summary report): the full 8-aggregate
    block per (returnflag, linestatus). One scan, partial+final agg on
    a 6-group key — the canonical map-side-combine query; at 100 TB it
    is scan-bound and shuffles six rows per task. The shipdate cutoff
    compares epoch longs (TZ-free on both engines); money aggregates go
    through the exact-decimal helpers, averages divide the exact sum by
    the count and round at 6 digits so no engine-order float noise
    crosses the compare boundary. The cutoff is a timestamp literal
    under a UTC-pinned session (works for both the LTZ and NTZ physical
    vintages of l_shipdate; the timestamp never crosses the output
    boundary)."""
    _utc(spark)
    li = read_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(sum_exact("l_quantity", 2), 2).alias("sum_qty"),
            F.round(sum_exact("l_extendedprice", 2), 2).alias("sum_base_price"),
            F.round(sum_exact(disc_price, 4), 4).alias("sum_disc_price"),
            F.round(sum_exact(charge, 6), 6).alias("sum_charge"),
            F.round(avg_exact("l_quantity", 2), 6).alias("avg_qty"),
            F.round(avg_exact("l_extendedprice", 2), 6).alias("avg_price"),
            F.round(avg_exact("l_discount", 4), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q4",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): one order-year, EXISTS
    over lineitem, counts per priority class. The EXISTS is expressed as
    a left-semi join — Catalyst's own decorrelation target — so each
    order is counted once no matter how many qualifying lines it has.
    The semi join shuffles only orderkeys; the priority GROUP BY is a
    5-group map-side combine. (Testdata has no commitdate/receiptdate;
    the quantity threshold stands in for the late-delivery predicate —
    same plan shape.)"""
    _utc(spark)
    o = read_table(spark, "orders", sf_dir).where(
        _ts_year_range("o_orderdate", 1996)
    )
    li = read_table(spark, "lineitem", sf_dir).where(F.col("l_quantity") > 45)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q6",
    f"""
    SELECT round({oracle_sum_exact("l_extendedprice * l_discount", 4)}, 4)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 proper (forecast revenue change): pure scan-filter-sum,
    zero joins — the query whose entire cost at 100 TB is how much of
    the scan the format can skip. All three predicates push down to the
    parquet reader (shown as PushedFilters; discount/quantity are plain
    comparisons, the year bound prunes row groups by l_shipdate stats);
    the aggregate is a single exact-decimal sum plus a count."""
    _utc(spark)
    li = read_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            _ts_year_range("l_shipdate", 1996)
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(sum_exact(F.col("l_extendedprice") * F.col("l_discount"), 4), 4)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# =====================================================================
# tpch_suite — Q1 + Q4 + Q6 in one window slot: Q1's group keys,
# count and seven measures in one row per group, Q4's per-priority
# counts, Q6's single revenue row (the singles stay registered right
# past the window)
# =====================================================================

register_suite("tpch_suite", width(2, 1, 7), {
    "tpch_q1": {
        "s1": "l_returnflag", "s2": "l_linestatus", "n1": "count_order",
        "d1": "sum_qty", "d2": "sum_base_price", "d3": "sum_disc_price",
        "d4": "sum_charge", "d5": "avg_qty", "d6": "avg_price", "d7": "avg_disc",
    },
    "tpch_q4": {"s1": "o_orderpriority", "n1": "order_count"},
    "tpch_q6": {"n1": "n_lines", "d1": "revenue"},
})


# =====================================================================
# ann_recall — partial-probe ANN recall floors as a pinned driver
# invariant (VERDICT r4 item 7: promote the pytest-only recall asserts
# into a CORRECTNESS row so a bucketing regression shows up in the
# driver window, not just CI)
# =====================================================================


@register(
    "ann_recall",
    """
    SELECT 'ivf_probe3' AS method, CAST(0.4 AS DOUBLE) AS floor, TRUE AS ok
    UNION ALL SELECT 'ivf_probe6', CAST(0.9 AS DOUBLE), TRUE
    UNION ALL SELECT 'lsh_multiprobe_dominates', CAST(0.0 AS DOUBLE), TRUE
    ORDER BY method
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall floors for the approximate similarity paths, computed
    in-plan and emitted as booleans against a constant oracle: if IVF
    bucketing/probing regresses, ``ok`` flips to false and the value
    hash breaks. Floors are set from measured recall across
    sf0.001/0.01/0.1 (probe-3: 0.52-0.84, probe-6: 0.96-1.0) with
    margin; LSH on the near-random test embeddings has no stable
    absolute recall, so its invariant is monotonicity — multi-probe
    must never find fewer true neighbors than single-probe. All
    arithmetic stays lazy DataFrame ops (small broadcast joins on a
    25-row exact set); no collect, no cartesian product."""
    from books2scrape_etl_spark.operators import similarity

    emb = read_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = similarity.brute_force_topk(emb, queries, k=5).select("q_id", "vec_id")

    def hits(approx: DataFrame) -> DataFrame:
        return (
            exact.join(approx.select("q_id", "vec_id"), ["q_id", "vec_id"])
            .agg(F.count(F.lit(1)).alias("h"))
            .withColumn("j", F.lit(1))
        )

    tot = exact.agg(F.count(F.lit(1)).alias("t")).withColumn("j", F.lit(1))

    def floor_row(method: str, floor: float, approx: DataFrame) -> DataFrame:
        return (
            hits(approx)
            .join(tot, "j")
            .select(
                F.lit(method).alias("method"),
                F.lit(floor).alias("floor"),
                (F.col("h") >= F.lit(floor) * F.col("t")).alias("ok"),
            )
        )

    p3 = floor_row(
        "ivf_probe3", 0.4, similarity.ivf_topk(emb, queries, k=5, n_lists=8, n_probe=3)
    )
    p6 = floor_row(
        "ivf_probe6", 0.9, similarity.ivf_topk(emb, queries, k=5, n_lists=8, n_probe=6)
    )
    single = hits(similarity.lsh_topk(emb, queries, k=5, bits=4)).select(
        F.col("h").alias("sh"), "j"
    )
    multi = hits(similarity.lsh_topk(emb, queries, k=5, bits=4, multi_probe=4)).select(
        F.col("h").alias("mh"), "j"
    )
    mono = single.join(multi, "j").select(
        F.lit("lsh_multiprobe_dominates").alias("method"),
        F.lit(0.0).alias("floor"),
        (F.col("mh") >= F.col("sh")).alias("ok"),
    )
    return p3.union(p6).union(mono).orderBy("method")


# =====================================================================
# dedup_invariants — planted-duplicate invariants for the approximate
# dedup family (L2 minhash, L2b simhash, L2d embedding, CC grouping).
# These operators are approximate/engine-specific (xxhash64 signatures
# have no DuckDB twin), so their driver signal was rows-only; the
# ann_recall pattern upgrades them: plant duplicates whose outcome is
# PROVABLE, compute the checks in-plan, and hash booleans/counts
# against a constant oracle.
# =====================================================================


_DEDUP_OFFSET = 10_000_000  # planted ids sit above every organic id


def _sym_diff_count(a: DataFrame, b: DataFrame) -> DataFrame:
    """1-row (n) frame: |a Δ b| under multiset semantics."""
    d = a.exceptAll(b).union(b.exceptAll(a))
    return d.agg(F.count(F.lit(1)).alias("n"))


def _zero_row(section: str, n_df: DataFrame) -> DataFrame:
    return n_df.select(
        F.lit(section).alias("section"),
        F.col("n").cast("long").alias("n"),
        (F.col("n") == 0).alias("ok"),
    )


@register(
    "dedup_invariants",
    """
    SELECT 'cc_chain' AS section, CAST(2 AS BIGINT) AS n, TRUE AS ok
    UNION ALL SELECT 'embedding_planted', CAST(0 AS BIGINT), TRUE
    UNION ALL SELECT 'minhash_planted', CAST(0 AS BIGINT), TRUE
    UNION ALL SELECT 'simhash_planted', CAST(0 AS BIGINT), TRUE
    ORDER BY section
    """,
)
def q_dedup_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provable planted-duplicate outcomes for the approximate dedup
    operators, as one constant-oracle driver row:

    - 'minhash_planted': exact text copies (planted at doc_id+1e7, so
      every copy's id exceeds every organic id) have Jaccard 1.0 with
      their original and can never out-survive it — therefore
      survivors(docs + copies) must equal survivors(docs) EXACTLY
      (multiset symmetric difference = 0). Catches banding, Jaccard
      verification, and survivor-rule regressions in one check.
    - 'embedding_planted': same argument for identical embedding
      vectors through the LSH-bucketed cosine near-dup path.
    - 'simhash_planted': identical text -> identical 60-bit signature
      -> identical band buckets; the copy's (band, band_val) set must
      equal its original's (and a copy bands iff its original bands,
      which also covers the empty-shingle exclusion symmetrically).
    - 'cc_chain': ground-truth graph (a 4-node path + a disjoint pair)
      -> exactly 2 components (transitive A~B~C~D grouping), and the
      O(diameter) propagation and the O(log) large-star/small-star
      implementations must agree label for label.
    """
    from books2scrape_etl_spark.functions.util import stage
    from books2scrape_etl_spark.operators import dedupe, similarity

    # The sections stage ten frames between them, more than the stage
    # cap holds, so they run in an order where no staged frame is
    # released before a job reads it: the eager CC section first, then
    # the MinHash section, collected while its four staging caches are
    # live, then the two lazy sections (three frames).

    # a 4-node path 0-1-2-3 plus the pair 100-101, as a literal
    # relation: a union-shaped edge list fed into the star algorithm's
    # internal self-union trips the same Catalyst
    # Union.rewriteConstraints bug as the planted copies below
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (100, 101)], "id_a long, id_b long"
    )
    prop = dedupe.connected_components(edges)
    star = dedupe.connected_components_star(edges)
    agree = _sym_diff_count(prop, star).withColumn("j", F.lit(1))
    ncomp = prop.agg(F.countDistinct("component").alias("nc")).withColumn(
        "j", F.lit(1)
    )
    cc = agree.join(ncomp, "j").select(
        F.lit("cc_chain").alias("section"),
        F.col("nc").cast("long").alias("n"),
        ((F.col("n") == 0) & (F.col("nc") == 2)).alias("ok"),
    )

    docs = read_table(spark, "documents", sf_dir).select("doc_id", "text")
    # copies come from a FRESH scan: self-union of one plan trips a
    # Catalyst constraint-rewrite bug (NoSuchElementException in
    # Union.rewriteConstraints) once the dedup graph references both
    # branches; two scans of the same file are semantically identical
    copies = (
        read_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + _DEDUP_OFFSET).alias("doc_id"), "text")
    )
    both = docs.unionByName(copies)
    mh = _zero_row(
        "minhash_planted",
        _sym_diff_count(
            dedupe.minhash_dedup(docs, threshold=0.6).select("doc_id"),
            dedupe.minhash_dedup(both, threshold=0.6).select("doc_id"),
        ),
    )
    mh = spark.createDataFrame(mh.collect(), mh.schema)

    emb = read_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    ecopies = (
        read_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .where(F.col("vec_id") % 10 == 0)
        .select((F.col("vec_id") + _DEDUP_OFFSET).alias("vec_id"), "embedding")
    )
    eb = _zero_row(
        "embedding_planted",
        _sym_diff_count(
            similarity.embedding_near_dup(emb).select("vec_id"),
            similarity.embedding_near_dup(emb.unionByName(ecopies)).select("vec_id"),
        ),
    )

    # bands feeds both sides of the planted-copy symmetric diff; stage
    # it (ADVICE r10 — simhash_bands stays cache-free)
    bands = stage(dedupe.simhash_bands(both))
    copy_bands = bands.where(F.col("doc_id") >= _DEDUP_OFFSET).select(
        (F.col("doc_id") - _DEDUP_OFFSET).alias("doc_id"), "band", "band_val"
    )
    orig_bands = bands.where(
        (F.col("doc_id") < _DEDUP_OFFSET) & (F.col("doc_id") % 10 == 0)
    ).select("doc_id", "band", "band_val")
    sh = _zero_row("simhash_planted", _sym_diff_count(copy_bands, orig_bands))

    return cc.union(eb).union(mh).union(sh).orderBy("section")


# =====================================================================
# report_render — S8's render path value-verified (the SMTP send itself
# stays env-gated; what CAN be deterministic — the five display values
# and the exact rendered HTML — is golden-pinned)
# =====================================================================


@register(
    "report_render",
    """
    SELECT 'avg_rating' AS k, '3.00' AS v
    UNION ALL SELECT 'books_in_stock', '3'
    UNION ALL SELECT 'html_md5', '66e88853703e610020e550d6cd35ca7f'
    UNION ALL SELECT 'total_books', '3'
    UNION ALL SELECT 'total_categories', '3'
    UNION ALL SELECT 'total_inventory_value', '$2364.04'
    ORDER BY k
    """,
)
def q_report_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 render path over the fixture pipeline: parse -> clean -> star
    -> summary -> reference display formatting (airflow.py:104-105
    parity: '$%.2f' inventory, '%.2f' rating) -> HTML render with a
    pinned empty timestamp. Emits each display value plus the md5 of
    the full rendered HTML, golden-pinned — a drift anywhere from the
    parser to the templated table breaks the hash. The terminal collect
    is the operator's contract (render is a driver-side action on ONE
    summary row); the SMTP handoff stays a unit-tested no-op without
    credentials."""
    import hashlib

    from books2scrape_etl_spark.plans.books import transform_books
    from books2scrape_etl_spark.plans.report import (
        format_summary,
        render_html_report,
        summary_aggregates,
    )
    from books2scrape_etl_spark.sources.fixtures_html import DETAIL_PAGES
    from books2scrape_etl_spark.sources.scrape import html_source, parse_books

    raw = parse_books(html_source(spark, DETAIL_PAGES))
    cleaned, _dims, _fact = transform_books(raw)
    summary = summary_aggregates(cleaned).collect()[0].asDict()
    disp = format_summary(summary)
    html = render_html_report(disp, generated_at="")
    rows = sorted(
        [(k, str(v)) for k, v in disp.items()]
        + [("html_md5", hashlib.md5(html.encode()).hexdigest())]
    )
    return spark.createDataFrame(rows, "k string, v string")
