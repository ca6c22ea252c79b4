"""The timed loops. One closed-loop client: each query starts only after
the previous one finished.

A run makes one cold pass (the first pass in a fresh JVM, what a
scheduled run pays) and then warm passes until the run's measuring time
is spent, at least ``MIN_WARM`` of them. In a traced run every other
warm pass is traced: it sets a job group per call, plans each forced
DataFrame through its own QueryExecution, and records spans; the
untraced passes in between give the base of ``trace.overhead``.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql.readwriter import DataFrameReader

from books2scrape_etl_spark import io
from books2scrape_etl_spark.orchestration import run_with_policy, single_flight
from books2scrape_etl_spark.plans.books import transform_books
from books2scrape_etl_spark.plans.report import run_report
from books2scrape_etl_spark.queries import QUERIES
from books2scrape_etl_spark.sources.scrape import parse_books

import layers
from check import check_summary
from spec import HEADLINE

MIN_WARM = 1
# a traced run needs both kinds of warm pass: traced, untraced, traced
TRACED_MIN_WARM = 3


@dataclass
class Passes:
    """What the timed loop saw. Pass 0 is the cold pass."""

    pass_s: dict[int, float] = field(default_factory=dict)
    traced: set[int] = field(default_factory=set)
    query_s: list[float] = field(default_factory=list)  # untraced warm samples
    rows_per_pass: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    cache: list[tuple[int, float]] = field(default_factory=list)  # after each pass
    layer: dict = field(default_factory=dict)  # workload-specific per-pass counters

    def warm(self, traced: bool = False) -> list[float]:
        return [s for p, s in self.pass_s.items() if p and (p in self.traced) == traced]


class Client:
    """Runs calls for one pass, with spans and job groups when traced."""

    def __init__(self, spark, tracer: layers.Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.pass_id = 0
        self.traced = False

    @contextmanager
    def call(self, layer: str, detail: str = ""):
        if not self.traced:
            yield
            return
        self.sc.setJobGroup(f"{self.pass_id}|{layer}|{detail}", detail)
        try:
            with self.tracer.span(layer, self.pass_id, detail):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def catalyst(self, df, detail: str) -> dict | None:
        if not self.traced:
            return None
        with self.call("catalyst", detail):
            return layers.catalyst_profile(df)

    def passes(self, seconds: float):
        """Yield (pass id, traced) for the cold pass and the warm passes."""
        tracing = self.tracer is not None
        self.pass_id, self.traced = 0, False
        yield 0, False
        deadline = time.perf_counter() + seconds
        p = 1
        while p <= (TRACED_MIN_WARM if tracing else MIN_WARM) or time.perf_counter() < deadline:
            # traced, untraced, traced, ...: the untraced passes run as
            # early on average as the traced ones, so JIT warm-up does
            # not bias trace.overhead
            self.pass_id, self.traced = p, tracing and p % 2 == 1
            yield p, self.traced
            p += 1

    @contextmanager
    def timed_pass(self, out: Passes):
        t0 = time.perf_counter()
        ctx = self.tracer.span("pass", self.pass_id) if self.traced else nullcontext()
        with ctx:
            yield
        out.pass_s[self.pass_id] = time.perf_counter() - t0
        if self.traced:
            out.traced.add(self.pass_id)
        out.cache.append(layers.cache_footprint(self.spark))


@contextmanager
def recording_reads(paths: set[str]):
    """Record the paths passed to ``spark.read.parquet`` meanwhile."""
    original = DataFrameReader.parquet

    def parquet(self, *p, **kw):
        paths.update(p)
        return original(self, *p, **kw)

    DataFrameReader.parquet = parquet
    try:
        yield
    finally:
        DataFrameReader.parquet = original


def headline(
    client: Client, sf_dir: str, table_rows: dict[str, int], seconds: float, untimed
) -> tuple[Passes, dict]:
    """The 16 headline qnames, each forced with the noop sink as in
    bench.py, the cold pass too. Between the cold pass and the warm
    passes, inside ``untimed()``, one pass collects every result for the
    output check; it also warms the JVM up, so the first warm pass runs
    closer to steady state (a first warm pass right after the cold one
    ran 10-15% slower than the later ones)."""
    spark, out = client.spark, Passes()
    per_query: dict[str, dict] = {}
    extra: dict = {"per_query": per_query}
    for p, traced in client.passes(seconds):
        with client.timed_pass(out):
            for name in HEADLINE:
                out.attempted += 1
                read: set[str] = set()
                t0 = time.perf_counter()
                try:
                    with recording_reads(read) if p == 0 else nullcontext():
                        with client.call("construct", name):
                            df = QUERIES[name](spark, sf_dir)
                    prof = client.catalyst(df, name)
                    with client.call("exec", name):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
                    out.failed += 1
                    out.problems.append(f"pass {p} {name}: {type(exc).__name__}: {exc}")
                    continue
                if p and not traced:
                    out.query_s.append(time.perf_counter() - t0)
                if p == 0:
                    tables = {os.path.basename(x).removesuffix(".parquet") for x in read}
                    out.rows_per_pass += sum(table_rows.get(t, 0) for t in tables)
                if prof:
                    per_query.setdefault(name, {}).setdefault("catalyst", []).append(prof)
        if p == 0:
            t0 = time.perf_counter()
            with untimed():
                extra["results"] = collect_results(spark, sf_dir, out)
            extra["collect_s"] = time.perf_counter() - t0
    return out, extra


def collect_results(spark, sf_dir: str, out: Passes) -> dict:
    """Every headline result as pandas, for the output check. Failures
    count in ``out``."""
    results = {}
    for name in HEADLINE:
        out.attempted += 1
        try:
            results[name] = QUERIES[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            out.failed += 1
            out.problems.append(f"check pass {name}: {type(exc).__name__}: {exc}")
    return results


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    data = [f for f in files if not os.path.basename(f).startswith((".", "_"))]
    return len(data), sum(os.path.getsize(f) for f in data)


def books_etl(
    client: Client, pages_dir: str, expected: dict, out_root: str, lock_dir: str, seconds: float
) -> tuple[Passes, dict]:
    """The paper's pipeline, one pass per scheduled run: single_flight
    + run_with_policy(retries=1) around parse -> transform -> write the
    star schema -> report. Every pass checks the report's summary."""
    spark, out = client.spark, Passes()
    counts: dict[int, dict] = {}
    per_query: dict[str, dict] = {}
    for p, traced in client.passes(seconds):
        target = os.path.join(out_root, f"pass-{p}")
        attempts = 0

        def attempt():
            nonlocal attempts
            attempts += 1
            with client.call("sources", "parse_books"):
                raw = parse_books(io.read_table(spark, "books_html", pages_dir))
            with client.call("construct", "transform_books"):
                cleaned, dims, fact = transform_books(raw)
            for name, df in [*dims.items(), ("fact_book_inventory", fact)]:
                prof = client.catalyst(df, name)
                if prof:
                    per_query.setdefault(name, {}).setdefault("catalyst", []).append(prof)
                with client.call("io", name):
                    io.write_parquet(df, os.path.join(target, name))
            with client.call("report", "run_report"):
                return run_report(cleaned)

        out.attempted += 1
        with client.timed_pass(out):
            try:
                with client.call("orchestration", "books_etl"):
                    with single_flight("books_etl", lock_dir=lock_dir):
                        summary = run_with_policy(attempt, retries=1, retry_delay=0.0, name="books_etl")
                problem = check_summary(summary, expected)
            except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
                problem = f"{type(exc).__name__}: {exc}"
        if problem:
            out.failed += 1
            out.problems.append(f"pass {p}: {problem}")
        if p and not traced:
            out.query_s.append(out.pass_s[p])
        files, written = _dir_bytes(target)
        counts[p] = {"attempts": attempts, "files": files, "bytes": written}
        shutil.rmtree(target, ignore_errors=True)
    out.rows_per_pass = expected["total_books"]
    out.layer = counts
    return out, {"per_query": per_query}
