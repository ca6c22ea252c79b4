"""Self-test of the benchmark: generator determinism, metric names, and
that the printed result carries every named metric with its unit.

    python3 -m pytest perfbench/test_perfbench.py -q

PERFBENCH_FULL=1 adds one real run of each listed workload (about a
minute each).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_books  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spec import END_TO_END, PER_LAYER, REPORTED_PER_LAYER  # noqa: E402
from workloads import Passes  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _table_bytes(tmp_path, tables, sub) -> dict[str, bytes]:
    out = tmp_path / sub
    gen_tables.write_tables(tables, str(out))
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_table_generator_is_seeded(tmp_path):
    a = _table_bytes(tmp_path, gen_tables.base_tables(5, 0.001), "a")
    b = _table_bytes(tmp_path, gen_tables.base_tables(5, 0.001), "b")
    c = _table_bytes(tmp_path, gen_tables.base_tables(6, 0.001), "c")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_replication_is_seeded_and_perturbs_copies(tmp_path):
    base = gen_tables.base_tables(5, 0.001)
    x3 = gen_tables.replicate(base, 3, 5)
    assert _table_bytes(tmp_path, x3, "a") == _table_bytes(tmp_path, gen_tables.replicate(base, 3, 5), "b")
    assert _table_bytes(tmp_path, x3, "a") != _table_bytes(tmp_path, gen_tables.replicate(base, 3, 6), "c")
    n = base["documents"].num_rows
    texts = x3["documents"].column("text").to_pylist()
    assert x3["documents"].num_rows == 3 * n and x3["part"] == base["part"]
    assert texts[:n] == base["documents"].column("text").to_pylist()
    assert sum(a != b for a, b in zip(texts[:n], texts[n : 2 * n])) > n // 2
    ids = x3["orders"].column("o_orderkey").to_pylist()
    assert len(set(ids)) == len(ids)


def test_books_generator_is_seeded():
    a, exp_a = gen_books.generate(3, 200)
    b, exp_b = gen_books.generate(3, 200)
    c, _ = gen_books.generate(4, 200)
    assert a.equals(b) and exp_a == exp_b
    assert not a.equals(c)
    html = a.column("html").to_pylist()
    assert any("Â£" in h for h in html) and any("Out of stock" in h for h in html)
    assert any("product_description" not in h for h in html)
    assert exp_a["total_books"] == 200 and exp_a["books_in_stock"] < 200


def test_compare_finds_a_changed_value():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None]})
    assert check.compare(want.iloc[::-1], want) is None
    for row, value in ((1, 0.2000001), (2, 0.3), (0, None)):
        bad = want.copy()
        bad.loc[row, "v"] = value
        assert check.compare(bad, want), (row, value)
    assert check.compare(want.iloc[:2], want)


def test_minhash_invariants():
    # 1-2 and 3-4 are planted near-duplicate pairs, 4 and 5 identical texts
    docs = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5, 6], "text": ["a b", "a b dup", "c d", "c d dup", "c d dup", "e f"]}
    )
    assert check.minhash_invariants(pd.DataFrame({"doc_id": [1, 3, 6]}), docs) is None
    identity = list(docs["doc_id"])
    for ids in (identity, [1, 2, 3, 6], [1, 1, 3, 6], [1, 3, 7], [1, 6], []):
        assert check.minhash_invariants(pd.DataFrame({"doc_id": ids}), docs), ids


def test_identity_dedup_fails_on_generated_documents():
    docs = gen_tables.base_tables(7, 0.1)["documents"].to_pandas()
    assert check.minhash_invariants(docs[["doc_id"]], docs)


def test_replicated_copies_may_be_dropped():
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["a b", "x y", "a c", "x z"]})
    assert check.minhash_invariants(pd.DataFrame({"doc_id": [1, 2]}), docs, copies=2) is None
    assert check.minhash_invariants(pd.DataFrame({"doc_id": [1]}), docs, copies=2)


def test_wait_exited_sees_child_exit():
    proc = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.3)"])
    assert proc.pid in layers.process_tree(os.getpid())
    assert layers.wait_exited([proc.pid], timeout_s=0.0) == [proc.pid]
    assert layers.wait_exited([proc.pid], timeout_s=10.0) == []
    proc.wait()


def test_rss_sampler_pauses():
    sampler = layers.RssSampler(interval_s=0.01)
    with sampler.paused(), sampler:
        time.sleep(0.05)
    assert sampler.peak_kb == 0
    sampler = layers.RssSampler(interval_s=0.01)
    with sampler:
        time.sleep(0.05)
    assert sampler.peak_kb > 0


def test_metric_names_and_units():
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), unit
    assert len(PER_LAYER) <= 128 and not set(END_TO_END) & set(PER_LAYER)


def test_benchmark_json_matches_spec():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == REPORTED_PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def _fake_run(books: bool, samples=(0.1, 0.2, 0.3)):
    passes = Passes(pass_s={0: 3.0, 1: 1.0, 2: 1.2, 3: 1.1, 4: 1.3}, traced={2, 4})
    passes.query_s = list(samples)
    passes.rows_per_pass = 100.0
    passes.cache = [(1, 2.0)]
    passes.layer = {p: {"attempts": 1, "files": 5, "bytes": 1000} for p in range(5)}
    tracer = layers.Tracer()
    for p in (2, 4):
        with tracer.span("pass", p):
            with tracer.span("construct", p, "flagship"):
                pass
            with tracer.span("exec", p, "flagship"):
                pass
    groups = {"2|exec|flagship": {"jobs": 2.0, "task_skew": 1.5, "scan_rows": 400.0}}
    prof = {"analysis": 0.1, "optimization": 0.2, "planning": 0.1, "single_partition_windows": 1.0}
    extra = {"per_query": {"flagship": {"catalyst": [prof, prof]}}}
    inputs = {"expected": {"total_books": 100}, "input_bytes": 10_000} if books else {}
    workload = "books_etl" if books else "headline_sf01"
    return passes, tracer, groups, extra, inputs, workload


@pytest.mark.parametrize("books", [False, True])
def test_every_metric_is_computed(books):
    passes, tracer, groups, extra, inputs, workload = _fake_run(books)
    e2e = run.end_to_end(2.0, passes, 512.0)
    assert set(e2e) == set(END_TO_END) and all(v > 0 for v in e2e.values())
    info = {"import_s": 0.2, "session_s": 5.0}
    metrics, rows = run.per_layer(workload, info, passes, tracer, groups, extra, inputs, 1.5)
    assert set(metrics) == set(PER_LAYER)
    assert rows and all(isinstance(v, float) for v in metrics.values())


def test_percentile_interpolates():
    assert run.percentile([4.0, 1.0, 3.0, 2.0], 0.9) == pytest.approx(3.7)
    assert run.percentile([5.0], 0.9) == 5.0 and run.percentile([], 0.9) == 0.0


@pytest.mark.parametrize("books", [False, True])
def test_no_warm_samples_still_reports(books):
    """Every warm query failed: the run still prints its metrics, and
    ``failed`` carries the verdict."""
    passes = _fake_run(books, samples=())[0]
    assert set(run.end_to_end(2.0, passes, 512.0)) == set(END_TO_END)


@pytest.mark.skipif(not os.environ.get("PERFBENCH_FULL"), reason="set PERFBENCH_FULL=1 for real runs")
@pytest.mark.parametrize("trace", [0, 1])
def test_printed_result(trace):
    with open(BENCHMARK) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if trace else "end_to_end"]
    for w in bench["workloads"]:
        cmd = bench["command"] + ["--workload", w["name"], "--seed", "1", "--seconds", "5", "--trace", str(trace)]
        proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300)
        assert proc.returncode == 0, proc.stderr[-2000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
