"""Output checks, run outside the timed window.

Oracle-paired qnames are compared with their DuckDB ``ORACLE_SQL`` over
views of the same input directory: same row count, same column names,
and equal values after sorting columns by name and rows by their
stringified values (floats compare exactly, as the oracle SQL is
written to match bit for bit). ``dedup_minhash`` has no SQL twin and
is checked by invariants on the planted near-duplicates. ``books_etl``
compares ``run_report``'s dict with the generator's ground truth.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pandas.api.types import is_float_dtype

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].reset_index(drop=True)
    if len(df) == 0:
        return df
    key = df.astype(str)
    order = key.sort_values(list(key.columns), kind="mergesort").index
    return df.iloc[order].reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    got, want = _normalize(got), _normalize(want)
    for col in got.columns:
        a, b = got[col], want[col]
        a_na, b_na = a.isna().values, b.isna().values
        if is_float_dtype(a) and is_float_dtype(b):
            same = a.values == b.values
        else:
            same = (a.astype(str) == b.astype(str)).values
        ok = np.where(a_na | b_na, a_na & b_na, same)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{col}[{i}]: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


# LSH (4 bands of 4 rows at threshold 0.6) misses a planted pair of
# 10-word texts with 2% probability and of longer ones with less; a
# dedup that removes nothing keeps every pair.
MAX_KEPT_PAIR_SHARE = 0.25


def minhash_invariants(got: pd.DataFrame, documents: pd.DataFrame, copies: int = 1) -> str | None:
    """Survivors of near-dup removal. The input plants near-duplicates
    as (source, source + " dup") pairs, and in a ``copies``-fold input
    each document also has a perturbed twin in every other copy.
    Survivors must have unique ids and be a subset of the input; keep
    at most one document of a group of identical texts (identical texts
    share every MinHash, so LSH always pairs them); keep both documents
    of at most ``MAX_KEPT_PAIR_SHARE`` of the planted pairs; and keep at
    least one document of each planted group (the smallest id in a
    group of near-duplicates has no smaller neighbour), so at least
    (documents - " dup" copies) / ``copies`` survive."""
    ids = got["doc_id"]
    if ids.duplicated().any():
        return "duplicate survivor ids"
    if not set(ids).issubset(set(documents["doc_id"])):
        return "survivor ids outside the input"
    kept = documents[documents["doc_id"].isin(set(ids))]
    if kept["text"].duplicated().any():
        return "two survivors share one exact-duplicate text"
    dups = documents[documents["text"].str.endswith(" dup")]
    groups = (len(documents) - len(dups)) / copies
    if len(ids) < groups:
        return f"{len(ids)} survivors, fewer than the {groups:.0f} planted groups"
    pairs = dups.assign(text=dups["text"].str.removesuffix(" dup")).merge(
        documents, on="text", suffixes=("_copy", "_source")
    )
    if len(pairs):
        both = pairs["doc_id_copy"].isin(ids) & pairs["doc_id_source"].isin(ids)
        if both.mean() > MAX_KEPT_PAIR_SHARE:
            return f"both documents of {int(both.sum())} of {len(pairs)} planted near-duplicate pairs survive"
    return None


def check_headline(
    results: dict[str, pd.DataFrame], sf_dir: str, oracle_sql: dict[str, str], copies: int
) -> dict[str, str]:
    """qname -> problem, for every collected result that fails its check."""
    con = oracle_connection(sf_dir)
    problems = {}
    for name, got in results.items():
        if name == "dedup_minhash":
            docs = con.execute("SELECT doc_id, text FROM documents").fetchdf()
            problem = minhash_invariants(got, docs, copies)
        else:
            problem = compare(got, con.execute(oracle_sql[name]).fetchdf())
        if problem:
            problems[name] = problem
    con.close()
    return problems


def check_summary(got: dict, expected: dict) -> str | None:
    for key, want in expected.items():
        if got.get(key) != want:
            return f"{key}: {got.get(key)!r} != {want!r}"
    return None
