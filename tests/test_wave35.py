"""Round-9 tests: the query_defs35 packing suites (waves 23-32 in four
window slots), the ntile_scale operator behind the rfm_segments
routing (VERDICT r8 item 7), and the three rows-only -> invariant
conversions (VERDICT r8 item 5)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.query_defs35 import _W2526, _W2526_SECTIONS, _W3032_SECTIONS
from books2scrape_etl_spark.queries import ORACLE_SQL, QUERIES
from books2scrape_etl_spark.suites import SUITES, sect_df as _sect_df


def test_wave30_32_suite_carries_ann_pullforward():
    """VERDICT r11 item 3: sim_lsh + sim_ivf ride wave30_32_suite since
    round 12 (their first direct-or-suite driver rows). Pin the
    sections so a future suite edit can't silently drop the evidence —
    these two are the registry's newest hard rows and have no other
    suite stand-in."""
    for name in ("sim_lsh", "sim_ivf"):
        assert name in _W3032_SECTIONS, name
        assert f"sub_{name}." in ORACLE_SQL["wave30_32_suite"], name


def test_suite_sql_sources_qualified():
    """ADVICE r8: slot sources must be qualified sub_{name}."{src}" so
    resolution never depends on lateral-alias precedence."""
    for suite, (width, sections) in SUITES.items():
        sql = ORACLE_SQL[suite]
        for name, mapping in sections.items():
            for src in mapping.values():
                assert f'sub_{name}."{src}"' in sql, (suite, name, src)


def test_suite_section_values_identical(spark, sf_dir):
    """wave25_26_suite's table_checksum section must be bit-identical
    to the single run through the same slot normalization."""
    suite = (
        QUERIES["wave25_26_suite"](spark, sf_dir)
        .where(F.col("sec") == "table_checksum")
        .collect()
    )
    single = _sect_df(
        spark, sf_dir, "table_checksum", _W2526, _W2526_SECTIONS["table_checksum"]
    ).collect()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, suite)) == sorted(map(key, single))


# ---------------------------------------------------------------------
# ntile_scale — bit-identity with the exact window form
# ---------------------------------------------------------------------


@pytest.mark.parametrize(
    "n_rows,k", [(101, 5), (7, 5), (3, 5), (240, 7), (24, 3)]
)
def test_ntile_scale_bit_identical_to_window(spark, n_rows, k):
    from books2scrape_etl_spark.operators.scale import ntile_scale

    import random

    rng = random.Random(n_rows * 31 + k)
    rows = [(i, rng.randint(0, 40)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "id long, v long")
    exact = df.withColumn("t", F.ntile(k).over(Window.orderBy("v", "id")))
    mine = ntile_scale(df, ["v", "id"], k, out_col="t", num_partitions=4)
    a = sorted(tuple(r) for r in exact.select("id", "v", "t").collect())
    b = sorted(tuple(r) for r in mine.select("id", "v", "t").collect())
    assert a == b


def test_ntile_scale_no_global_window(spark, sf_dir):
    """The plan must contain no partition-less window (that is the
    whole point of the routing) — rfm_segments passes the registry-wide
    lint in test_plans.py; this pins the operator directly."""
    from books2scrape_etl_spark.operators.scale import ntile_scale

    df = spark.range(100).selectExpr("id", "id % 7 AS v")
    plan = ntile_scale(df, ["v", "id"], 5)._jdf.queryExecution().toString()
    import re

    for spec in re.findall(r"windowspecdefinition\(([^()]*)", plan):
        first = spec.split(",")[0].strip()
        assert not (
            first.startswith("specifiedwindowframe") or " ASC" in first or " DESC" in first
        ), plan


# ---------------------------------------------------------------------
# invariant conversions — every section must report ok (these run the
# same in-plan laws the driver hashes; a failure here localizes which
# law broke before the driver row goes red)
# ---------------------------------------------------------------------


@pytest.mark.parametrize(
    "qname,expect",
    [
        (
            "bin_quantile_scale",
            {"approx_exact_agreement_ge_95", "exact_tiles_balanced", "no_unlabeled_rows"},
        ),
        (
            "dedup_simhash",
            {
                "bands_decompose_signature",
                "close_pairs_share_bucket",
                "planted_pair_distance_zero",
            },
        ),
        (
            "embed_near_dup",
            {
                "idempotent_fixpoint",
                "organic_survivors_unchanged",
                "scaled_copies_all_removed",
            },
        ),
    ],
)
def test_invariant_conversions_all_ok(spark, sf_dir, qname, expect):
    rows = {r["check_name"]: r["ok"] for r in QUERIES[qname](spark, sf_dir).collect()}
    assert set(rows) == expect, rows
    assert all(v == 1 for v in rows.values()), rows


def test_cc_exact_cap_keeps_dense_near_dup_graph(spark, sf_dir):
    """The cc_exact worst-case-cost cap (doc_id % 2 == 0, VERDICT r9
    item 3) must never silently reduce the exact-CC differential to a
    sparse organic graph: the corpus's template near-dup pairs are
    spread across both parity classes, so the kept half still yields a
    dense candidate graph. Pins (floors ~10x under the measured
    sf0.001 values of 250 nodes / 15,630 edges) that the capped graph
    keeps >= 100 nodes and >= 1,000 edges, and that multi-node
    components exist (some fingerprint is shared by >= 2 even docs) —
    the non-vacuity the cc_exact 'edges' row relies on."""
    from books2scrape_etl_spark.io import read_table
    from books2scrape_etl_spark.operators.winnow import winnow_candidates

    docs = read_table(spark, "documents", sf_dir).where(F.col("doc_id") % 2 == 0)
    cand = winnow_candidates(docs, max_df=50, min_shared=3).persist()
    n_edges = cand.count()
    n_nodes = (
        cand.select(F.col("id_a").alias("n"))
        .union(cand.select(F.col("id_b").alias("n")))
        .distinct()
        .count()
    )
    # every candidate pair is even-even by construction of the cap;
    # the floors above prove near-dup pairs survive it in quantity
    sample = cand.limit(10).collect()
    cand.unpersist()
    assert n_edges >= 1_000, n_edges
    assert n_nodes >= 100, n_nodes
    assert all(r.id_a % 2 == 0 and r.id_b % 2 == 0 for r in sample)
