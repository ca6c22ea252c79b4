"""Differential test: every oracle-paired qname must match DuckDB.

Round-13 restructure (VERDICT r12 item 2 — the suite outgrew the
driver's verify window): coverage is UNCHANGED (every oracle-paired
qname still runs the identical compare against DuckDB), but the
independent, conf-untouched queries now run through a small driver
thread pool (optimization guide §2.6: actions are only sequential
because the caller calls them sequentially; pooled jobs back-fill the
idle executors a 2-second query leaves behind). Queries that mutate
session state (conf guards around bloom/skew/CBO probes), suites that
re-run other registered callables, and the real-stream qnames stay
SERIAL and per-test granular — session confs are global, not
thread-local, so pooling those could flip another thread's plan.
"""

import inspect
import re
from concurrent.futures import ThreadPoolExecutor

import pytest

from books2scrape_etl_spark.queries import ORACLE_SQL, QUERIES
from tests.oracle import compare, run_oracle

# Session-global state mutators (conf guards, checkpoints, catalog
# writes, temp views; query_defs8's _sql_query registers the testdata
# tables as views) — detected from source so a future conf-guarded
# query lands in the serial tier automatically. Suites re-run other
# callables (possibly conf-guarded ones), and *_rt queries execute real
# streams. test_oracle_match_pooled asserts that the pooled rest leaves
# the session's confs and catalog as it found them.
_STATEFUL = re.compile(
    r"conf\.set|conf_guard|bloom_pruned_join|skew_join|bucketed"
    r"|checkpoint|write_bucketed|ANALYZE TABLE|saveAsTable|TempView|_sql_query"
)


def _is_serial(qname: str) -> bool:
    # "_suite" anywhere: tpch_suite2/3 re-run the temp-view tpch singles
    if qname.endswith("_rt") or "_suite" in qname:
        return True
    try:
        src = inspect.getsource(QUERIES[qname])
    except (OSError, TypeError):
        return True
    return bool(_STATEFUL.search(src))


SERIAL = sorted(q for q in ORACLE_SQL if _is_serial(q))
POOLED = sorted(q for q in ORACLE_SQL if not _is_serial(q))
_N_SHARDS = 16
_POOL_WORKERS = 4


@pytest.mark.parametrize("qname", SERIAL)
def test_oracle_match(spark, sf_dir, qname):
    sdf = QUERIES[qname](spark, sf_dir)
    odf = run_oracle(ORACLE_SQL[qname], sf_dir)
    problems = compare(sdf, odf)
    assert not problems, f"{qname}: {problems}"


def _session_state(spark):
    """Every session conf set (``SET``) and every catalog table: what a
    pooled qname must leave as it found it, since its threads share
    one session."""
    confs = {r.key: r.value for r in spark.sql("SET").collect()}
    tables = sorted((t.database or "", t.name) for t in spark.catalog.listTables())
    return confs, tables


@pytest.mark.parametrize("shard", range(_N_SHARDS))
def test_oracle_match_pooled(spark, sf_dir, shard):
    names = POOLED[shard::_N_SHARDS]
    confs0, tables0 = _session_state(spark)

    def one(qname):
        sdf = QUERIES[qname](spark, sf_dir)
        odf = run_oracle(ORACLE_SQL[qname], sf_dir)
        return qname, compare(sdf, odf)

    with ThreadPoolExecutor(max_workers=_POOL_WORKERS) as pool:
        results = list(pool.map(one, names))
    bad = {q: p for q, p in results if p}
    assert not bad, bad
    confs1, tables1 = _session_state(spark)
    changed = sorted(
        k for k in confs0.keys() | confs1.keys() if confs0.get(k) != confs1.get(k)
    )
    assert not changed, f"{names} changed session confs {changed}"
    assert tables1 == tables0, f"{names} changed the catalog: {tables0} -> {tables1}"


# Oracle-paired qnames whose build reaches a stage() call that replaced
# an eager localCheckpoint pin (found by recording stage()'s callers over
# a full-registry build).
STAGED = (
    "als_invariants",
    "als_topk",
    "cc_exact",
    "dedup_cc_star",
    "dedup_invariants",
    "graph_bfs",
    "graph_triangles",
    "pagerank_invariants",
    "pmi_collocations",
    "sim_ivf",
    "sim_lsh",
    "skyline_pareto",
    "source_overlap",
    "ts_gapfill",
    "ts_interp",
    "wave12_suite",
    "wave13_14_suite",
    "wave15_16_suite",
    "wave30_32_suite",
    "winnow_suite",
)


def test_staged_frames_recompute_to_oracle(spark, sf_dir, monkeypatch):
    """With a stage cap of 1 every staged frame but the newest is
    released before the compare forces the result, so the result
    recomputes what it staged: a staged plan whose rows are not
    deterministic fails here instead of drifting silently. One serial
    test, so no other thread stages meanwhile."""
    from books2scrape_etl_spark.functions import util

    monkeypatch.setattr(util, "_STAGE_CAP", 1)
    bad = {}
    for qname in STAGED:
        problems = compare(QUERIES[qname](spark, sf_dir), run_oracle(ORACLE_SQL[qname], sf_dir))
        if problems:
            bad[qname] = problems
    assert not bad, bad


def test_serial_pooled_partition_covers_registry():
    """The split is a partition of ORACLE_SQL: nothing double-run,
    nothing silently dropped from the differential gate."""
    assert sorted(SERIAL + POOLED) == sorted(ORACLE_SQL)
    assert not set(SERIAL) & set(POOLED)


def test_rows_only_queries_execute(spark, sf_dir):
    """Execution smoke for the qnames WITHOUT an oracle pairing — the
    oracle-paired ones already execute (and value-check) in the tests
    above, so re-running all 299 here was pure duplication (~280 s)."""
    for qname, fn in QUERIES.items():
        if qname in ORACLE_SQL:
            continue
        n = fn(spark, sf_dir).count()
        assert n >= 0, qname
