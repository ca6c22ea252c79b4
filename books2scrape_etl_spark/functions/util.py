"""Small shared helpers for the expression library."""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Session confs are process-global, not thread-local: two guards
# overlapping from different threads would run sibling plans under the
# other's values and restore each other's stale ones. One lock
# serializes every guarded section (RLock, so a same-thread nested
# guard composes LIFO instead of deadlocking).
_CONF_LOCK = threading.RLock()


@contextmanager
def conf_guard(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body, then restore each
    previous value, or unset a key that had none, on the normal and the
    exception path. Every temporary conf change in the package goes
    through here. The body must materialize what it builds (eager
    localCheckpoint or collect): a lazy frame that escapes would run
    under whatever values are in force later.

    The package's one materialization rule: an eager localCheckpoint
    runs only inside a ``with`` block whose exit ends what the frame
    depends on, this guard (directly or through
    :func:`sized_shuffle_partitions`) or a
    ``tempfile.TemporaryDirectory`` whose files the frame read.
    Elsewhere a frame read more than once goes through :func:`stage`,
    and one returned or read once stays lazy.
    tests/test_staging_lint.py enforces the rule.

    When every requested value is already in force the guard does
    nothing: no lock, no set, no restore. Pool workers can then enter
    the guard their caller holds while it waits on them
    (stream_windows_suite's concurrent drains) instead of deadlocking
    on the caller's lock. Such an entry relies on whoever put the
    values in force keeping them for its body, as a holder that waits
    on its workers does."""
    if all(spark.conf.get(k, None) == v for k, v in confs.items()):
        yield
        return
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def sized_shuffle_partitions(spark: SparkSession, n_rows: int):
    """Size ``spark.sql.shuffle.partitions`` to the data while an EAGER
    iteration loop runs: callers run every round inside the guard and
    return only localCheckpoint-materialized frames.

    Why: a vanilla session defaults to 200 shuffle partitions, and the
    iterative localCheckpoint pattern defeats AQE's post-shuffle
    coalescing (each round is its own short job over freshly
    checkpointed blocks). A few-thousand-row graph then pays 200 tasks
    x 2-3 stages x O(rounds) of pure scheduling overhead — measured
    1.7x on the CC differential qname. Sizing to ~100k rows/partition
    (floor 8, ceiling the session's own setting, so cluster-sized
    configurations are never widened) keeps small inputs fast and
    1B-edge graphs on the caller's configured width."""
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n = max(8, min(cur, n_rows // 100_000 + 1))
    return conf_guard(spark, {"spark.sql.shuffle.partitions": str(n)})


# Staging caches, keyed by the analyzed plan's semantic hash and kept
# in staging order. The cap bounds one pass of the 16 bench.py headline
# qnames, which stages four distinct frames: the star's grouping-sets
# table (join_fact), the MinHash shingle and band tables
# (dedup_minhash) and the ranked keys of surrogate_key_scale (each
# ordered scale operator stages its ranked rows). A warm pass re-stages
# the same keys, so it never evicts its own working set
# (tests/test_plans.py pins this), and a full-registry sweep holds at
# most four staging caches. The books pipeline
# (plans.books.transform_books) stages three: the parsed pages, the
# tiered cleaned frame and the star's grouping-sets table; a rerun on
# the same input replaces those three keys.
_STAGE_CAP = 4
_STAGED: OrderedDict[int, DataFrame] = OrderedDict()
_STAGE_LOCK = threading.Lock()


def _release(df: DataFrame) -> None:
    try:
        df.unpersist(False)
    except Exception:
        # the frame belongs to a stopped session (module state outlives
        # SparkSessions); its cache died with the session
        pass


def stage(df: DataFrame) -> DataFrame:
    """Persist ``df`` as a staging cache and return it.

    The one way the package caches an intermediate. An earlier entry
    with the same plan is released BEFORE the new frame persists: a
    rebuilt plan would otherwise ride the previous execution's cache
    (and releasing it afterwards would evict the shared entry, leaving
    the new frame uncached). Frames of different plans never evict each
    other until more than ``_STAGE_CAP`` are live; then the
    least-recently staged one is released. Eviction is value-safe: a
    released frame recomputes to the same rows."""
    key = df.semanticHash()
    with _STAGE_LOCK:
        prev = _STAGED.pop(key, None)
        if prev is not None:
            _release(prev)
        _STAGED[key] = df.persist()
        while len(_STAGED) > _STAGE_CAP:
            _release(_STAGED.popitem(last=False)[1])
    return df


# Scratch landings live under one root per (process, SparkContext), so
# no other process or SparkContext ever sees, overwrites or deletes them.
# One lock serializes every landing in the process (RLock, so a write
# may land its own inputs); a call for an already-landed base does not
# wait on it. Lock order is conf_guard's lock, then this one: a write
# must not enter conf_guard.
_SCRATCH = "/tmp/spark_graft_scratch"
_LAND_LOCK = threading.RLock()


def land_once(
    spark: SparkSession, name: str, sf_dir: str, write: Callable[[str], None]
) -> str:
    """Return the scratch directory ``<name>_<digest of sf_dir>`` of
    this session, calling ``write(base)`` to land it on the first call.

    The one way the package writes data it reads back. A landed base is
    never written again in the session: a lazy scan returned by an
    earlier call may still read it. The marker file beside the base is
    the land-once state, written only after ``write`` returns, so a
    ``write`` that raises is retried from an empty base on the next
    call. The session root is removed when the interpreter exits (the
    scans are lazy, so no call can clean up inline)."""
    root = os.path.join(_SCRATCH, f"{os.getpid()}_{spark.sparkContext.applicationId}")
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = os.path.join(root, f"{name}_{digest}")
    marker = base + ".landed"
    if os.path.exists(marker):
        return base
    with _LAND_LOCK:
        if not os.path.exists(marker):
            if not os.path.isdir(root):
                os.makedirs(root)
                atexit.register(shutil.rmtree, root, ignore_errors=True)
            shutil.rmtree(base, ignore_errors=True)
            write(base)
            open(marker, "w").close()
    return base


def to_col(col: Column | str) -> Column:
    """Resolve a name-or-Column, backtick-quoting names that contain a
    dot (``F.col("Price (excl. tax)")`` otherwise parses the dot as a
    struct-field access — the reference's column names include dots)."""
    if isinstance(col, Column):
        return col
    if "." in col and not col.startswith("`"):
        return F.col(f"`{col}`")
    return F.col(col)
