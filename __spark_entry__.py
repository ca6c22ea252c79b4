"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``books2scrape_etl_spark``; this module is a
thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from books2scrape_etl_spark.functions.util import land_once  # noqa: E402
from books2scrape_etl_spark.plans.flagship import flagship  # noqa: E402
from books2scrape_etl_spark.queries import (  # noqa: E402
    ORACLE_SQL,
    QUERIES,
    freeze_registry_heap,
)


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable on executor Python workers.

    UDF/pandas-UDF callables defined in the package are cloudpickled by
    module reference; workers are separate processes that do NOT inherit
    the driver's sys.path, so unless the driver happens to run with the
    repo as its cwd (local mode inherits cwd), deserialization fails
    with ModuleNotFoundError. Shipping a zip via addPyFile works for any
    driver cwd and for real multi-host executors alike.

    The zip lands once per session through ``land_once``, under that
    session's own scratch root (two concurrent drivers never rewrite
    each other's zip while an executor fetches it), and is removed with
    the root when the interpreter exits. addPyFile keys the executor-side
    cache on the file NAME, so the zip's base name stays fixed.
    """
    import shutil

    repo_root = os.path.dirname(os.path.abspath(__file__))

    def write(base: str) -> None:
        zip_path = shutil.make_archive(
            os.path.join(base, "books2scrape_etl_spark_pkg"),
            "zip",
            root_dir=repo_root,
            base_dir="books2scrape_etl_spark",
        )
        spark.sparkContext.addPyFile(zip_path)

    land_once(spark, "pkg", repo_root, write)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    freeze_registry_heap()  # explicit perf-entry GC posture (ADVICE r8)
    _ship_package(spark)
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    freeze_registry_heap()  # explicit perf-entry GC posture (ADVICE r8)

    def shipped(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)

        return wrapper

    return {name: shipped(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
