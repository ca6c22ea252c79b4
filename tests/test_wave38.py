"""Wave-38 (CBO join reordering) unit tests: conf-guard restore
semantics for every conf table the package guards (normal + exception
paths, pre-existing values), overlapping and nested guards across
threads, land-once table landing, and the testdata preflight's
content-drift detection. The value/plan evidence lives in the oracle
sweep + tests/test_plans.py; these pin the plumbing the qnames rely
on."""

import threading

import pytest

from books2scrape_etl_spark.functions.util import conf_guard, sized_shuffle_partitions
from books2scrape_etl_spark.operators.scale import _BLOOM_CONFS, _SKEW_CONFS
from books2scrape_etl_spark.query_defs38 import _CBO_CONFS, land_cbo_tables
from books2scrape_etl_spark.streaming.windows import STATE_PARTITION_CONFS


def _read_confs(spark, confs):
    return {k: spark.conf.get(k, None) for k in confs}


def _table(confs, pre):
    return confs, lambda spark: conf_guard(spark, confs), pre


# name -> (the confs in force inside the guard, spark -> guard, an
# explicit value of the first key other than the guarded one). 1M rows
# size the shuffle to 11 partitions under any session width >= 11.
_GUARDS = {
    "cbo": _table(_CBO_CONFS, "false"),
    "bloom": _table(_BLOOM_CONFS, "false"),
    "skew": _table(_SKEW_CONFS, "false"),
    "state_width": _table(STATE_PARTITION_CONFS, "64"),
    "sized_shuffle": (
        {"spark.sql.shuffle.partitions": "11"},
        lambda spark: sized_shuffle_partitions(spark, 1_000_000),
        "64",
    ),
}


@pytest.fixture(params=list(_GUARDS))
def guarded(request, spark):
    """(make_guard, confs, preexisting) with every guarded key unset
    first, so the guard must set and then unset each one; the session's
    own values come back after the test."""
    confs, make, pre = _GUARDS[request.param]
    saved = _read_confs(spark, confs)
    for k in confs:
        spark.conf.unset(k)
    yield (lambda: make(spark)), confs, pre
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_conf_guard_restores(spark, guarded):
    make, confs, _ = guarded
    before = _read_confs(spark, confs)
    with make():
        assert _read_confs(spark, confs) == confs
    assert _read_confs(spark, confs) == before


def test_conf_guard_restores_on_exception(spark, guarded):
    make, confs, _ = guarded
    before = _read_confs(spark, confs)
    with pytest.raises(RuntimeError):
        with make():
            raise RuntimeError("boom")
    assert _read_confs(spark, confs) == before


def test_conf_guard_restores_preexisting_value(spark, guarded):
    # a conf the session had EXPLICITLY set must come back to that
    # value, not be unset
    make, confs, pre = guarded
    key = next(iter(confs))
    spark.conf.set(key, pre)
    with make():
        assert spark.conf.get(key) == confs[key]
    assert spark.conf.get(key) == pre


class _Conf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _Session:
    """Stand-in with the three conf methods the guards call (no Spark)."""

    def __init__(self, values):
        self.conf = _Conf(values)


@pytest.mark.parametrize(
    "first,second",
    [
        (
            lambda s: conf_guard(s, _BLOOM_CONFS),
            lambda s: conf_guard(s, _SKEW_CONFS),
        ),
        (
            lambda s: conf_guard(s, STATE_PARTITION_CONFS),
            lambda s: sized_shuffle_partitions(s, 1_000_000),
        ),
    ],
    ids=["bloom_then_skew", "state_width_then_sized_shuffle"],
)
def test_overlapping_guards_restore_session(first, second):
    """Thread A enters a guard, thread B then tries another, A exits
    first: the session must end exactly as it started. Without one
    shared lock B saves A's temporary value and restores it last,
    leaving autoBroadcastJoinThreshold at -1 or shuffle.partitions at
    8."""
    spark = _Session({"spark.sql.shuffle.partitions": "200"})
    before = dict(spark.conf.values)
    a_in, a_out, b_in, b_out = (threading.Event() for _ in range(4))

    def hold(make, entered, release):
        with make(spark):
            entered.set()
            release.wait(5)

    ta = threading.Thread(target=hold, args=(first, a_in, a_out))
    tb = threading.Thread(target=hold, args=(second, b_in, b_out))
    ta.start()
    assert a_in.wait(5)
    tb.start()
    b_in.wait(0.2)  # B is either inside its guard or waiting on A's
    a_out.set()
    ta.join(5)
    assert b_in.wait(5)
    b_out.set()
    tb.join(5)
    assert not ta.is_alive() and not tb.is_alive()
    assert spark.conf.values == before


def test_conf_guard_reentered_by_pool_while_held():
    """stream_windows_suite's pattern: the main thread holds the state
    width guard while seven workers enter the same guard. All seven
    must be inside at once within 1 s (a lock taken by the workers
    would deadlock against the waiting holder)."""
    spark = _Session({"spark.sql.shuffle.partitions": "200"})
    all_inside = threading.Event()
    inside = threading.Barrier(7, action=all_inside.set, timeout=1)

    def drain():
        with conf_guard(spark, STATE_PARTITION_CONFS):
            inside.wait()

    workers = [threading.Thread(target=drain) for _ in range(7)]
    with conf_guard(spark, STATE_PARTITION_CONFS):
        for t in workers:
            t.start()
        assert all_inside.wait(1)
    for t in workers:
        t.join(5)
    assert not any(t.is_alive() for t in workers)
    assert spark.conf.values == {"spark.sql.shuffle.partitions": "200"}


def test_conf_guard_releases_lock_when_conf_call_raises():
    """A conf call that raises inside the guard (a stopped session's
    py4j error) must not wedge the lock for every later guarded
    section, including ones on other threads."""

    class _StoppedConf(_Conf):
        def set(self, key, value):
            raise RuntimeError("session stopped")

    stopped = _Session({})
    stopped.conf = _StoppedConf({})
    with pytest.raises(RuntimeError):
        with conf_guard(stopped, _CBO_CONFS):
            pass
    entered = threading.Event()

    def other():
        with conf_guard(_Session({}), _SKEW_CONFS):
            entered.set()

    t = threading.Thread(target=other, daemon=True)
    t.start()
    assert entered.wait(1)
    t.join(5)
    assert not t.is_alive()


def test_land_cbo_tables_lands_once(spark, sf_dir):
    # second call must reuse the session's landed+ANALYZEd tables
    # (functions.util.land_once: no overwrite under a live lazy scan)
    names1 = land_cbo_tables(spark, sf_dir)
    li = spark.table(names1[0])
    n_before = li.count()
    names2 = land_cbo_tables(spark, sf_dir)
    assert names1 == names2
    # the previously returned scan still reads the same landed data
    assert li.count() == n_before
    # stats landed in the catalog (what CostBasedJoinReorder consumes);
    # plan stats only surface rowCount with CBO on, hence the guard
    with conf_guard(spark, _CBO_CONFS):
        stats = spark.table(names1[0])._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), "ANALYZE stats missing"
        assert int(str(stats.rowCount().get())) == n_before


def test_check_testdata_diff_flags_content_drift():
    # a schema-identical regeneration must still be a loud diff
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "check_testdata",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "check_testdata.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    old = {"sf0.01": {"documents": {"doc_id": "int64", "__content__": "10:aa"}}}
    new = {"sf0.01": {"documents": {"doc_id": "int64", "__content__": "10:bb"}}}
    msgs = mod.diff(old, new)
    assert msgs and "__content__" in msgs[0]
    assert mod.diff(old, old) == []
