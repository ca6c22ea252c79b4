"""perfbench: the repo benchmark.

    python3 perfbench/run.py --workload headline_sf01 --seed 1 --seconds 8 --trace 0

Builds the workload's input from ``--seed``, sets up the engine, runs
one closed-loop client for the workload (a cold pass, then warm passes
for ``--seconds``), checks the outputs outside the timed window and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). A human-readable table goes to stderr. Everything it
writes stays under ``perfbench/.work``.

Workloads:
- headline_sf01: bench.py's 16 headline qnames on a seeded sf0.01-size
  TPC-H-ish input (construction and eager jobs weigh most);
- headline_x3: the same qnames on a 3x copy of that input, facts
  replicated with key offsets and perturbed text/embeddings;
- books_etl: the books pipeline (parse -> transform -> write -> report)
  under single_flight + run_with_policy over seeded detail pages.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

import layers  # noqa: E402
from spec import END_TO_END, HEADLINE, PER_LAYER, REPORTED_PER_LAYER, SPAN_LAYERS  # noqa: E402

HEADLINE_SF = 0.01
BOOKS_PAGES = 10_000
DRIVER_MEM = "2g"

WORKLOADS = {
    "headline_sf01": {"copies": 1},
    "headline_x3": {"copies": 3},
    "books_etl": {"pages": BOOKS_PAGES},
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Linear between the two closest ranks (``statistics.quantiles``'
    inclusive method); 0 for no values, like ``median``. With few
    samples this averages two order statistics instead of picking one:
    which of the slowest queries a single rank picks changes from run
    to run."""
    ordered = sorted(values)
    if not ordered:
        return 0.0
    pos = q * (len(ordered) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def configure_env() -> None:
    """One Spark core per available CPU, a driver heap below physical
    memory, and every scratch path inside the work directory."""
    for sub in ("local", "tmp", "warehouse", "locks"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM (the spark-submit launcher too) would otherwise write
    # /tmp/hsperfdata_<user>, outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def spark_conf(event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def setup(event_log_dir: str | None = None):
    """Registry import + gc.freeze, get_spark, one warm-up job: the time
    from process start until the first query can run."""
    t0 = time.perf_counter()
    from books2scrape_etl_spark.queries import freeze_registry_heap

    freeze_registry_heap()
    t1 = time.perf_counter()
    from books2scrape_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(event_log_dir))
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "import_s": t1 - t0, "session_s": t2 - t1}


def prune(cache_dir: str, keep: int = 4) -> None:
    """Keep the newest ``keep`` generated inputs."""
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)), key=os.path.getmtime
    )
    for old in entries[:-keep]:
        shutil.rmtree(old, ignore_errors=True)


def make_inputs(workload: str, seed: int) -> dict:
    import gen_books
    import gen_tables

    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    shape = WORKLOADS[workload]
    if "pages" in shape:
        pages_dir, expected, gen_s = gen_books.ensure_pages(cache, seed, shape["pages"])
        size = os.path.getsize(os.path.join(pages_dir, "books_html.parquet"))
        inputs = {"pages_dir": pages_dir, "expected": expected, "input_bytes": size}
    else:
        import pyarrow.parquet as pq

        sf_dir, gen_s = gen_tables.ensure_tables(cache, seed, HEADLINE_SF, shape["copies"])
        rows = {
            f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
            for f in os.listdir(sf_dir)
        }
        inputs = {"sf_dir": sf_dir, "table_rows": rows}
    prune(cache)
    log(f"generate_s={gen_s:.3f} (input generation, not part of setup_s)")
    return inputs


def end_to_end(setup_s: float, passes, peak_rss_mb: float) -> dict[str, float]:
    warm = median(passes.warm())
    return {
        "setup_s": setup_s,
        "cold_pass_s": passes.pass_s[0],
        "warm_pass_s": warm,
        "query_s.p50": median(passes.query_s),
        "query_s.p90": percentile(passes.query_s, 0.9),
        "input_rows_per_s": passes.rows_per_pass / warm,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(workload, setup_info, passes, tracer, groups, extra, inputs, steal_s) -> tuple[dict, list]:
    """Per-layer metrics, each a median over the traced warm passes."""
    traced = sorted(passes.traced)

    def per_pass(fn) -> float:
        return median(fn(p) for p in traced)

    def group_sum(p, key, layer=None):
        prefix = f"{p}|{layer}|" if layer else f"{p}|"
        return sum(g.get(key, 0.0) for k, g in groups.items() if k.startswith(prefix))

    def span_total(p, name, detail=None):
        return sum(
            s["end"] - s["start"]
            for s in tracer.spans
            if s["pass"] == p and s["name"] == name and (detail is None or s["detail"] == detail)
        )

    self_t = tracer.self_times()
    catalyst = extra.get("per_query", {})
    m = {
        "registry.import_s": setup_info["import_s"],
        "session.start_s": setup_info["session_s"],
        "construct_s": per_pass(lambda p: span_total(p, "construct")),
        "construct.eager_jobs": per_pass(lambda p: group_sum(p, "jobs", "construct")),
        "construct.eager_job_s": per_pass(lambda p: group_sum(p, "job_s", "construct")),
        "construct.share": per_pass(lambda p: span_total(p, "construct") / span_total(p, "pass")),
    }
    for q in HEADLINE:
        m[f"construct_s.{q}"] = per_pass(lambda p: span_total(p, "construct", q))
        m[f"execute_s.{q}"] = per_pass(lambda p: span_total(p, "exec", q))
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(median(x[phase] for x in v["catalyst"]) for v in catalyst.values())
    m["catalyst.single_partition_windows"] = sum(
        v["catalyst"][-1]["single_partition_windows"] for v in catalyst.values()
    )
    m["execute_s"] = per_pass(lambda p: sum(span_total(p, n) for n in ("exec", "io", "report")))
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "scan_mb",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"exec.{key}"] = per_pass(lambda p: group_sum(p, key))
    m["exec.task_skew"] = per_pass(
        lambda p: max([g.get("task_skew", 1.0) for k, g in groups.items() if k.startswith(f"{p}|")] or [1.0])
    )
    for key, name in (("python_rows_in", "rows_in"), ("python_rows_out", "rows_out"),
                      ("python_bytes_sent", "bytes_sent"), ("python_bytes_received", "bytes_received"),
                      ("python_worker_s", "worker_s")):
        m[f"python.{name}"] = per_pass(lambda p: group_sum(p, key))
    books = workload == "books_etl"
    pages = inputs["expected"]["total_books"] if books else 0
    m["sources.parse_ratio"] = per_pass(lambda p: group_sum(p, "scan_rows") / pages) if books else 0.0
    m["cache.entries"] = max(e for e, _ in passes.cache)
    m["cache.mb"] = max(mb for _, mb in passes.cache)
    m["io.write_s"] = per_pass(lambda p: span_total(p, "io"))
    counts = passes.layer
    m["io.bytes_written"] = per_pass(lambda p: counts[p]["bytes"]) if books else 0.0
    m["io.files_written"] = per_pass(lambda p: counts[p]["files"]) if books else 0.0
    m["io.write_amp"] = m["io.bytes_written"] / inputs["input_bytes"] if books else 0.0
    m["report.run_s"] = per_pass(lambda p: span_total(p, "report"))
    m["orchestration.attempts"] = median(c["attempts"] for c in counts.values()) if books else 0.0
    m["orchestration.overhead_s"] = per_pass(lambda p: self_t.get((p, "orchestration"), 0.0))
    m["trace.overhead"] = median(passes.warm(traced=True)) / median(passes.warm()) - 1.0
    m["host.cpu_steal_s"] = steal_s
    for layer in SPAN_LAYERS:
        m[f"self_s.{layer}"] = per_pass(lambda p: self_t.get((p, layer), 0.0))

    # per-qname table: the rows that answer "why does X take so long"
    rows = []
    names = HEADLINE if not books else ("transform_books", *catalyst, "run_report")
    for q in names:
        layer = "io" if books and q != "run_report" else ("report" if books else "exec")

        def g(p, key, lay):
            return groups.get(f"{p}|{lay}|{q}", {}).get(key, 0.0)

        row = {
            "query": q,
            "construct_s": per_pass(lambda p: span_total(p, "construct", q)),
            "eager_jobs": per_pass(lambda p: g(p, "jobs", "construct")),
            "eager_job_s": per_pass(lambda p: g(p, "job_s", "construct")),
            "execute_s": per_pass(lambda p: span_total(p, layer, q)),
            "jobs": per_pass(lambda p: g(p, "jobs", layer)),
            "stages": per_pass(lambda p: g(p, "stages", layer)),
            "tasks": per_pass(lambda p: g(p, "tasks", layer)),
            "run_s": per_pass(lambda p: g(p, "executor_run_s", layer)),
            "shuffle_mb": per_pass(lambda p: g(p, "shuffle_read_mb", layer) + g(p, "shuffle_write_mb", layer)),
            "spill_mb": per_pass(lambda p: g(p, "spill_mb", layer)),
            "skew": per_pass(lambda p: g(p, "task_skew", layer) or 1.0),
            "py_rows_in": per_pass(lambda p: g(p, "python_rows_in", layer)),
            "sp_windows": catalyst[q]["catalyst"][-1]["single_partition_windows"] if q in catalyst else 0.0,
        }
        rows.append(row)
    return {k: float(v) for k, v in m.items()}, rows


def print_table(title: str, metrics: dict[str, float], units: dict[str, str]) -> None:
    log(f"--- {title}")
    for name, unit in units.items():
        log(f"{name:40s} {metrics[name]:>16.4f} {unit}")


def print_queries(rows: list[dict]) -> None:
    if not rows:
        return
    cols = list(rows[0])
    log("--- per query (median over traced warm passes)")
    log(" ".join(f"{c:>12s}" if c != "query" else f"{c:22s}" for c in cols))
    for r in rows:
        log(" ".join(f"{r[c]:>12.3f}" if c != "query" else f"{r[c]:22s}" for c in cols))


def stop_engine(spark) -> None:
    """Stop Spark and wait until the gateway JVM and the Python workers
    it started have exited (the JVM ends when its stdin closes)."""
    from pyspark import SparkContext

    started = set(layers.process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    for pid in layers.wait_exited(started, timeout_s=30):
        log(f"killing process {pid}, still running 30 s after stop")
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    layers.wait_exited(started, timeout_s=10)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run(args) -> dict:
    configure_env()
    inputs = make_inputs(args.workload, args.seed)
    steal0 = cpu_steal_s()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    event_dir = os.path.join(WORK, "eventlog", run_id) if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    with layers.RssSampler() as rss:
        spark, setup_info = setup(event_dir)
        import check
        import workloads

        tracer = layers.Tracer() if args.trace else None
        client = workloads.Client(spark, tracer)
        if args.workload == "books_etl":
            out_root = os.path.join(WORK, "out", run_id)
            passes, extra = workloads.books_etl(
                client, inputs["pages_dir"], inputs["expected"], out_root,
                os.path.join(WORK, "locks"), args.seconds,
            )
            shutil.rmtree(out_root, ignore_errors=True)
        else:
            passes, extra = workloads.headline(
                client, inputs["sf_dir"], inputs["table_rows"], args.seconds, rss.paused
            )
            log(f"collect_s={extra['collect_s']:.3f} (untimed pass for the output check)")
    t_stop = time.perf_counter()
    stop_engine(spark)
    log(f"stop_s={time.perf_counter() - t_stop:.3f}")

    t_check = time.perf_counter()
    if "results" in extra:
        from books2scrape_etl_spark.queries import ORACLE_SQL

        wrong = check.check_headline(
            extra["results"], inputs["sf_dir"], ORACLE_SQL, WORKLOADS[args.workload]["copies"]
        )
        passes.failed += len(wrong)
        passes.problems += [f"check pass {q}: wrong result: {why}" for q, why in wrong.items()]
    log(f"check_s={time.perf_counter() - t_check:.3f}")
    for problem in passes.problems:
        log(f"FAILED {problem}")

    log(f"workload={args.workload} seed={args.seed} "
        f"warm_passes={len(passes.warm())} traced_passes={len(passes.traced)} "
        f"query_samples={len(passes.query_s)}")
    log(f"fail_ratio={passes.failed / passes.attempted:.4f} ({passes.failed}/{passes.attempted})")
    # a busy host shows here first: compare runs only at similar steal
    steal = cpu_steal_s() - steal0
    log(f"cpu_steal_s={steal:.2f} (all CPUs, set-up to check)")
    if args.trace:
        groups = layers.read_event_log(layers.find_event_log(event_dir))
        shutil.rmtree(event_dir, ignore_errors=True)
        metrics, rows = per_layer(args.workload, setup_info, passes, tracer, groups, extra, inputs, steal)
        print_table(args.workload, metrics, PER_LAYER)
        units = REPORTED_PER_LAYER
        print_queries(rows)
        trace_path = os.path.join(WORK, "trace", f"{run_id}.json")
        tracer.write(trace_path)
        with open(trace_path.replace(".json", ".layers.json"), "w") as f:
            json.dump({"metrics": metrics, "queries": rows, "groups": groups}, f)
        log(f"spans: {trace_path}")
    else:
        metrics = end_to_end(setup_info["setup_s"], passes, rss.peak_mb)
        units = END_TO_END
        print_table(args.workload, metrics, units)
    return {
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "books2scrape_etl_spark")):
        log(f"books2scrape_etl_spark not found under {ROOT}: run from a checkout of the repo")
        return 2
    if args.workload is None:
        ap.error("--workload is required")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
