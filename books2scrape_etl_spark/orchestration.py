"""Pipeline run policies (reference ``airflow.py:35-44`` analogues).

The reference delegates retry/timeout/single-flight/failure-email to
Airflow DAG config: ``retries=1``, ``retry_delay=5min``,
``execution_timeout=30min``, ``max_active_runs=1``, ``email_on_failure``.
This module provides the same policies as plain callables so an engine
pipeline run (e.g. the books e2e plan, or any scheduled recompute) gets
them without an orchestrator:

- :func:`run_with_policy` — bounded retries with delay, wall-clock
  timeout, failure callback. Spark-aware: when a session is passed, the
  attempt runs under a job group and a timeout CANCELS the in-flight
  Spark jobs (a bare thread timeout would leak the running job —
  the cluster keeps burning after the caller gives up).
- :func:`single_flight` — ``max_active_runs=1``: an ``flock``-held
  lockfile so overlapping scheduled runs skip instead of double-writing
  a sink. The kernel drops the lock when its holder dies, so a killed
  run never wedges later ones. Driver-local by design (one scheduler
  host, like one Airflow scheduler); a multi-driver deployment would
  use a real lock service.
"""

from __future__ import annotations

import fcntl
import os
import time
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FuturesTimeoutError
from contextlib import contextmanager
from typing import Any


class PipelineTimeout(TimeoutError):
    """A policy-wrapped run exceeded its execution timeout."""


def run_with_policy(
    fn: Callable[[], Any],
    *,
    retries: int = 1,
    retry_delay: float = 5.0,
    timeout: float | None = None,
    spark=None,
    on_failure: Callable[[Exception], None] | None = None,
    name: str = "pipeline",
) -> Any:
    """Run ``fn()`` with Airflow-style retry/timeout/failure policies.

    Tries up to ``retries + 1`` times, sleeping ``retry_delay`` seconds
    between attempts (airflow.py:42-43: retries=1, retry_delay).
    With ``timeout``, each attempt runs in a worker thread and is
    abandoned after ``timeout`` seconds (airflow.py:44
    execution_timeout); if ``spark`` is given the attempt's jobs run in
    a dedicated job group that gets cancelled on timeout, so executors
    stop doing dead work. The timeout raises on time: the hung attempt's
    thread is abandoned, never joined. On final failure,
    ``on_failure(exc)`` fires (airflow.py:40 email_on_failure analogue —
    pass a mailer callback) and the last exception re-raises.
    ``KeyboardInterrupt`` and ``SystemExit`` propagate at once, unretried.
    """
    last: Exception | None = None
    for attempt in range(retries + 1):
        if attempt:
            time.sleep(retry_delay)
        try:
            if timeout is None:
                return fn()
            group = f"{name}-{uuid.uuid4().hex[:8]}"

            def attempt_fn():
                if spark is not None:
                    spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
                try:
                    return fn()
                finally:
                    if spark is not None:
                        spark.sparkContext.setJobGroup("", "")

            pool = ThreadPoolExecutor(max_workers=1)
            try:
                return pool.submit(attempt_fn).result(timeout=timeout)
            except FuturesTimeoutError:
                if spark is not None:
                    spark.sparkContext.cancelJobGroup(group)
                raise PipelineTimeout(
                    f"{name}: attempt {attempt + 1} exceeded {timeout}s"
                ) from None
            finally:
                pool.shutdown(wait=False)
        except Exception as exc:
            last = exc
    if on_failure is not None:
        on_failure(last)
    assert last is not None
    raise last


class AlreadyRunning(RuntimeError):
    """single_flight: another run holds the lock."""


@contextmanager
def single_flight(name: str, lock_dir: str = "/tmp/spark_graft_locks"):
    """``max_active_runs=1`` (airflow.py:35 analogue): an exclusive
    ``flock`` on one lockfile per pipeline name; a second concurrent
    entry raises :class:`AlreadyRunning` instead of double-running. The
    lock lives on the open file, so it is released when the block exits
    or the holding process dies."""
    os.makedirs(lock_dir, exist_ok=True)
    path = os.path.join(lock_dir, f"{name}.lock")
    with open(path, "a") as fh:
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise AlreadyRunning(f"{name}: lock held at {path}") from None
        yield
