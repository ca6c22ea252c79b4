"""Driver-facing query inventory (SURVEY.md §2 qnames).

Each entry: qname -> callable(spark, sf_dir) -> DataFrame, plus (where
SQL-expressible) a DuckDB oracle SQL string over the pre-registered
views ``region nation customer supplier part orders lineitem events
documents embeddings``. Column names are aliased identically on both
sides — the driver sorts columns by name before value-hashing.

Registration happens via the :func:`register` decorator (re-exported
from the leaf module :mod:`books2scrape_etl_spark.registry` — the
dicts live there so query_defs* modules never import THIS module; a
test importing a defs module directly used to trigger a circular
half-initialized import that tripped the WINDOW asserts below). This
module is the driver entry path: it imports every defs module and
fixes the registry order.
"""

from __future__ import annotations

from books2scrape_etl_spark.registry import (  # noqa: F401  (re-exports)
    ORACLE_SQL,
    QUERIES,
    SparkQuery,
    register,
)


# Import for registration side effects (each module registers its qnames).
from books2scrape_etl_spark import query_defs  # noqa: E402,F401
from books2scrape_etl_spark import query_defs2  # noqa: E402,F401
from books2scrape_etl_spark import query_defs3  # noqa: E402,F401
from books2scrape_etl_spark import query_defs4  # noqa: E402,F401
from books2scrape_etl_spark import query_defs5  # noqa: E402,F401
from books2scrape_etl_spark import query_defs6  # noqa: E402,F401
from books2scrape_etl_spark import query_defs7  # noqa: E402,F401
from books2scrape_etl_spark import query_defs8  # noqa: E402,F401
from books2scrape_etl_spark import query_defs9  # noqa: E402,F401
from books2scrape_etl_spark import query_defs10  # noqa: E402,F401  (wraps earlier modules' oracles — keep after them)
from books2scrape_etl_spark import query_defs11  # noqa: E402,F401
from books2scrape_etl_spark import query_defs12  # noqa: E402,F401
from books2scrape_etl_spark import query_defs13  # noqa: E402,F401
from books2scrape_etl_spark import query_defs14  # noqa: E402,F401
from books2scrape_etl_spark import query_defs15  # noqa: E402,F401
from books2scrape_etl_spark import query_defs16  # noqa: E402,F401
from books2scrape_etl_spark import query_defs17  # noqa: E402,F401
from books2scrape_etl_spark import query_defs18  # noqa: E402,F401
from books2scrape_etl_spark import query_defs19  # noqa: E402,F401
from books2scrape_etl_spark import query_defs20  # noqa: E402,F401
from books2scrape_etl_spark import query_defs21  # noqa: E402,F401
from books2scrape_etl_spark import query_defs22  # noqa: E402,F401
from books2scrape_etl_spark import query_defs23  # noqa: E402,F401
from books2scrape_etl_spark import query_defs24  # noqa: E402,F401
from books2scrape_etl_spark import query_defs25  # noqa: E402,F401
from books2scrape_etl_spark import query_defs26  # noqa: E402,F401
from books2scrape_etl_spark import query_defs27  # noqa: E402,F401
from books2scrape_etl_spark import query_defs28  # noqa: E402,F401
from books2scrape_etl_spark import query_defs29  # noqa: E402,F401
from books2scrape_etl_spark import query_defs30  # noqa: E402,F401
from books2scrape_etl_spark import query_defs31  # noqa: E402,F401
from books2scrape_etl_spark import query_defs32  # noqa: E402,F401
from books2scrape_etl_spark import query_defs33  # noqa: E402,F401  (wraps earlier modules' oracles — keep after them)
from books2scrape_etl_spark import query_defs34  # noqa: E402,F401  (wraps defs4's packing oracle — keep last)
from books2scrape_etl_spark import query_defs35  # noqa: E402,F401  (wraps waves 23-32's oracles — keep after them)
from books2scrape_etl_spark import query_defs36  # noqa: E402,F401
from books2scrape_etl_spark import query_defs37  # noqa: E402,F401
from books2scrape_etl_spark import query_defs38  # noqa: E402,F401

# ---------------------------------------------------------------------
# Registry ordering. The driver's CORRECTNESS harness checks at most the
# first ~50 entries, so order is load-bearing: WINDOW lists the 50
# qnames that together cover every SURVEY.md §2 component (suite qnames
# from query_defs3 stand in for groups of single-operator qnames); then
# every remaining oracle-paired qname (checked if the window is wider
# than 50); rows-only qnames go last — they yield only a weak rows>0
# signal and the real-stream ones are the slowest in the registry.
# ---------------------------------------------------------------------

# Round-13 rotation (executes the write-ahead plan recorded here last
# round — the r7-verdict protocol): the r12-green window rotates out.
# Slots, exactly as written ahead:
#   (a) sim_lsh + sim_ivf take DIRECT slots at the head (upgrading
#       their r12 wave30_32_suite rows to direct rows, fully closing
#       VERDICT r11 item 3's "hard driver row for each");
#   (b) the r10 cohort (two rounds stale) in the standard priority
#       order — suites first, then the real-stream heavies, then the
#       r10-window singles — 2 + 6 + 7 + 35 = 50. The two r10-cohort
#       leftovers (partition_pruning, window_hopping) defer to the r14
#       claim: their families carry the freshest alternate evidence
#       (join_dpp same-slot r13, stream_windows_suite r12-fresh), so
#       they are the lowest-risk deferrals.
#
# Round-14 rotation plan (write-ahead): the r13-green window rotates
# out; partition_pruning + window_hopping take the head slots (the two
# deferred r10 names, three rounds stale by then — highest claim);
# the remaining 48 go to the r11 cohort (two rounds stale by then) in
# the same suites-first priority order, topped up from the r12 cohort
# if the r11 cohort runs short of 48.
WINDOW: tuple[str, ...] = (
    # (a) the two ANN paths' first direct driver rows
    "sim_lsh", "sim_ivf",
    # (b) r10 cohort — suites first
    "tpch_suite", "tpch_suite2", "tpch_suite3", "sources_suite",
    "clean_suite", "columns_lineitem_suite",
    # (b) r10 cohort — real-stream heavies
    "stream_tumbling_rt", "stream_dedup_rt", "stream_stateful_rt",
    "stream_join_rt", "stream_foreachbatch_rt", "stream_books_star_rt",
    "books_stream_source_rt",
    # (b) r10 cohort — the 35 singles
    "pack_ffd", "dedup_cc_star", "embed_generate", "variant_ops",
    "token_budget", "topk_ordered", "lm_quality", "dq_audit",
    "outlier_zscore", "embed_norm", "embed_quantize",
    "multimodal_bytes", "multimodal_resize", "recursive_cte",
    "scale_invariants", "funnel_steps", "avi_frames", "compact_files",
    "window_range_time", "sql_api", "line_dedup",
    "parse_struct_expand", "explode_links", "udtf_sentences",
    "books_datasource", "join_dpp", "join_fact", "join_sortmerge",
    "join_salted", "join_asof", "grouped_map", "udaf_grouped",
    "graph_degree", "als_topk", "snapshot_cdc",
)


def _reorder() -> None:
    assert len(WINDOW) == 50, len(WINDOW)
    missing = [n for n in WINDOW if n not in QUERIES]
    assert not missing, f"WINDOW names not registered: {missing}"
    no_oracle = [n for n in WINDOW if n not in ORACLE_SQL]
    assert not no_oracle, f"WINDOW entries must be oracle-paired: {no_oracle}"
    rest_sql = [n for n in QUERIES if n not in set(WINDOW) and n in ORACLE_SQL]
    rest_rows_only = [n for n in QUERIES if n not in ORACLE_SQL]
    order = [*WINDOW, *rest_sql, *rest_rows_only]
    assert len(order) == len(QUERIES)
    reordered = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(reordered)
    sql_ordered = {n: ORACLE_SQL[n] for n in order if n in ORACLE_SQL}
    ORACLE_SQL.clear()
    ORACLE_SQL.update(sql_ordered)


_reorder()


# Driver-side GC tuning. Plan construction is Py4J-heavy (thousands of
# short-lived Column/expression temporaries per query); CPython's
# generational GC triggers on allocation counts, and every pass scans
# the tracked heap — which these 34 defs modules just grew by ~100k
# permanent objects. Measured on this host (sf0.1, warm JVM):
# dedup_minhash plan-build+run 5.5-6.5 s with the full registry
# imported vs 2.2-2.3 s with either (a) only one defs module imported
# or (b) gc.freeze() after registration. Freezing moves the permanent
# module graph out of every future collection — exactly the CPython
# long-lived-process recipe — and is safe here: registry contents are
# process-lifetime by construction.
#
# NOT an import side effect (ADVICE r8): freezing at import time would
# also permanently exempt whatever caller state happens to be alive
# (pytest internals, half-built fixtures) from cycle collection. Each
# perf entry point (bench.py, the driver contract's
# __spark_entry__.queries()/entry(), tests/conftest.py's session
# fixture) calls this explicitly AFTER its own setup instead.
# Idempotent.
_FROZEN = False


def freeze_registry_heap() -> None:
    global _FROZEN
    if _FROZEN:
        return
    import gc

    gc.collect()
    gc.freeze()
    _FROZEN = True
