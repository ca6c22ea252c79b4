"""Seeded TPC-H-ish input tables for the headline workloads.

The tables have the schemas of ``io.TESTDATA_SCHEMAS`` and the value
shapes measured on the repo's sf0.1 test data (``profile_input.py``
prints them for any input directory; README.md lists each parameter
with the value it was taken from): uniform keys, two-decimal money,
64-dim iid unit embeddings, word-salad documents over a 30-word
vocabulary of which exactly 5% are replaced by a copy of another
document with " dup" appended. ``base_tables`` draws them from a seed
at a scale factor; ``replicate`` makes the N-copy input of
``scripts/make_sf03_probe.py`` (fact tables copied with key offsets,
dims single-copy) and additionally perturbs ``documents.text`` and
``embeddings.embedding`` in every copy after the first, so copies are
near-duplicates rather than exact twins.

Same seed gives identical bytes; a different seed gives different bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "red", "small", "green", "tiny")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05
EMB_DIM = 64

# Tables copied N times by ``replicate`` and the key columns each copy
# shifts; every other table stays single-copy.
FACT_KEYS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
# Key column -> the column whose max+1 is that key's per-copy offset.
KEY_DOMAIN = {
    "l_orderkey": ("orders", "o_orderkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "c_custkey": ("customer", "c_custkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}

_TS = pa.timestamp("us")
_EMB_TYPE = pa.list_(pa.field("element", pa.float32()))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"), _TS)


def _pick(rng: np.random.Generator, choices, n: int) -> list[str]:
    return np.asarray(list(choices), dtype=object)[rng.integers(0, len(choices), n)].tolist()


def _numbered(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts of 10-100 words; then ``DUP_SHARE`` of the rows, one
    after another, become a copy of a random row plus " dup". Two
    copies of one source are exact duplicates, and a row overwritten
    after it was copied leaves its copy without a source, as in the
    test data."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]) for _ in range(n)]
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)].tolist()
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _unit_rows(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _embedding_column(vectors: np.ndarray) -> pa.Array:
    flat = pa.array(vectors.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vectors.size + 1, vectors.shape[1]), pa.int32())
    return pa.ListArray.from_arrays(offsets, flat, type=_EMB_TYPE)


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten test-data tables at scale factor ``sf`` (0.01 gives the
    row counts of ``sf0.01``: 60,000 lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _numbered("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _numbered("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, "FOP", n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, "ANR", n_line),
            "l_linestatus": _pick(rng, "FO", n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), _TS),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": _embedding_column(_unit_rows(rng.standard_normal((n_vec, EMB_DIM)))),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return t


def _perturb_text(rng: np.random.Generator, texts: list[str]) -> list[str]:
    """Replace about one word in ten, so a copy stays a near-duplicate."""
    out = []
    for text in texts:
        words = text.split(" ")
        hit = rng.random(len(words)) < 0.1
        for j in np.flatnonzero(hit):
            words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        out.append(" ".join(words))
    return out


def _perturb_copy(rng: np.random.Generator, name: str, table: pa.Table) -> pa.Table:
    if name == "documents":
        texts = _perturb_text(rng, table.column("text").to_pylist())
        table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(texts))
        lengths = pa.array([len(x) for x in texts], pa.int64())
        return table.set_column(table.schema.get_field_index("n_chars"), "n_chars", lengths)
    if name == "embeddings":
        vecs = np.stack(table.column("embedding").to_numpy(zero_copy_only=False))
        noisy = _unit_rows(vecs + rng.normal(0.0, 0.05, vecs.shape))
        idx = table.schema.get_field_index("embedding")
        return table.set_column(idx, "embedding", _embedding_column(noisy))
    return table


def replicate(tables: dict[str, pa.Table], copies: int, seed: int) -> dict[str, pa.Table]:
    """``copies``-fold fact tables with key offsets that keep every join
    intact; copy 0 is the input unchanged, later copies are perturbed."""
    rng = np.random.default_rng([seed, copies])
    offset = {
        key: int(pc.max(tables[t].column(c)).as_py()) + 1
        for key, (t, c) in KEY_DOMAIN.items()
    }
    out = dict(tables)
    for name, keys in FACT_KEYS.items():
        parts = []
        for i in range(copies):
            part = tables[name]
            for key in keys:
                shifted = pc.add(part.column(key), pa.scalar(i * offset[key], pa.int64()))
                part = part.set_column(part.schema.get_field_index(key), key, shifted)
            parts.append(_perturb_copy(rng, name, part) if i else part)
        out[name] = pa.concat_tables(parts)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _source_digest() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def ensure_tables(cache_dir: str, seed: int, sf: float, copies: int) -> tuple[str, float]:
    """Generate (or reuse) the seeded input; returns its directory and
    the seconds spent generating it (0 on a cache hit). The cache key
    is the seed, the size and this file's content."""
    out = os.path.join(cache_dir, f"tables-{_source_digest()}-sf{sf}-x{copies}-s{seed}")
    if os.path.isdir(out):
        return out, 0.0
    t0 = time.perf_counter()
    tables = base_tables(seed, sf)
    if copies > 1:
        tables = replicate(tables, copies, seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(tables, tmp)
    os.rename(tmp, out)
    return out, time.perf_counter() - t0
