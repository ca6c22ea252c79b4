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
SERIAL — session confs are global, not thread-local, so pooling those
could flip another thread's plan. Every qname keeps its own
``test_oracle_match`` verdict; a pooled one reports what its shard
found.
"""

import inspect
import re
from concurrent.futures import ThreadPoolExecutor

import pytest

from books2scrape_etl_spark.queries import ORACLE_SQL, QUERIES
from tests.oracle import compare, run_oracle

# Session-global state mutators (conf guards, checkpoints, catalog
# writes) — detected from source so a future conf-guarded query lands
# in the serial tier automatically. SQL qnames bind their tables as
# DataFrame arguments (io.sql_over_tables), which leaves no catalog name
# behind, so they pool. Suites re-run other callables (possibly
# conf-guarded ones), and *_rt queries execute real streams.
# test_oracle_match_pooled asserts that the pooled rest leaves the
# session's confs and catalog as it found them.
_STATEFUL = re.compile(
    r"conf\.set|conf_guard|bloom_pruned_join|skew_join|bucketed"
    r"|checkpoint|write_bucketed|ANALYZE TABLE|saveAsTable"
)


def _is_serial(qname: str) -> bool:
    if qname.endswith("_rt") or qname.endswith("_suite"):
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


def _session_state(spark):
    """Every session conf set (``SET``) and every catalog table: what a
    pooled qname must leave as it found it, since its threads share
    one session."""
    confs = {r.key: r.value for r in spark.sql("SET").collect()}
    tables = sorted((t.database or "", t.name) for t in spark.catalog.listTables())
    return confs, tables


def _problems(spark, sf_dir, qname):
    return compare(QUERIES[qname](spark, sf_dir), run_oracle(ORACLE_SQL[qname], sf_dir))


# each pooled shard records its qnames' problems here, so test_oracle_match
# gives every qname its own verdict without running it a second time
_POOLED_PROBLEMS: dict[str, list[str]] = {}


@pytest.mark.parametrize("shard", range(_N_SHARDS))
def test_oracle_match_pooled(spark, sf_dir, shard):
    names = POOLED[shard::_N_SHARDS]
    confs0, tables0 = _session_state(spark)
    with ThreadPoolExecutor(max_workers=_POOL_WORKERS) as pool:
        problems = dict(zip(names, pool.map(lambda q: _problems(spark, sf_dir, q), names)))
    _POOLED_PROBLEMS.update(problems)
    bad = {q: p for q, p in problems.items() if p}
    assert not bad, bad
    confs1, tables1 = _session_state(spark)
    changed = sorted(
        k for k in confs0.keys() | confs1.keys() if confs0.get(k) != confs1.get(k)
    )
    assert not changed, f"{names} changed session confs {changed}"
    assert tables1 == tables0, f"{names} changed the catalog: {tables0} -> {tables1}"


@pytest.mark.parametrize("qname", sorted(ORACLE_SQL))
def test_oracle_match(spark, sf_dir, qname):
    """One verdict per qname. A SERIAL qname runs here; a POOLED one
    reports what its shard found, and runs here only when no shard ran
    it (selected alone with ``-k``)."""
    if qname in _POOLED_PROBLEMS:
        problems = _POOLED_PROBLEMS.pop(qname)
    else:
        problems = _problems(spark, sf_dir, qname)
    assert not problems, f"{qname}: {problems}"


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
        problems = _problems(spark, sf_dir, qname)
        if problems:
            bad[qname] = problems
    assert not bad, bad


def test_sql_qnames_keep_caller_views(spark, sf_dir):
    """A caller's own views named like the testdata tables survive a
    SQL qname's build, and the qname reads the testdata, not the
    caller's view: the tables go in as DataFrame arguments, not as
    same-named temp views."""
    views = ("lineitem", "orders", "events")
    for name in views:
        spark.range(1).createOrReplaceTempView(name)
    try:
        bad = {}
        for qname in ("tpch_q2", "sql_api", "recursive_cte"):
            problems = _problems(spark, sf_dir, qname)
            if problems:
                bad[qname] = problems
        assert not bad, bad
        assert {name: spark.table(name).count() for name in views} == dict.fromkeys(views, 1)
    finally:
        for name in views:
            spark.catalog.dropTempView(name)


def test_sql_over_tables_leaves_caches_alone(spark, sf_dir):
    """Dropping a bound frame's view uncaches every cached plan equal
    to the frame and re-plans every unfilled cache that contains it,
    under whatever query another thread runs over that cache; a SQL
    qname must do neither, or it could not run pooled."""
    from books2scrape_etl_spark.io import read_table, sql_over_tables

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    identity = spark._jvm.java.lang.System.identityHashCode

    def cache_entry(df):
        entry = cache_manager.lookupCachedData(df._jdf)
        return identity(entry.get().cachedRepresentation()) if entry.isDefined() else None

    scan = read_table(spark, "orders", sf_dir).persist()
    unfilled = read_table(spark, "orders", sf_dir).groupBy("o_custkey").count().persist()
    try:
        before = (cache_entry(scan), cache_entry(unfilled))
        sql_over_tables(spark, "SELECT COUNT(*) AS n FROM {orders}", sf_dir).collect()
        assert (cache_entry(scan), cache_entry(unfilled)) == before
        assert None not in before
    finally:
        unfilled.unpersist()
        scan.unpersist()


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
