"""Print the properties of a headline input that decide where its time
goes: row counts, duplicate shares, key skew, embedding structure and
the result row count of every oracle-paired headline qname.

    python3 perfbench/profile_input.py --seed 1 [--seed 2 ...] [DIR ...]

Each ``DIR`` holds the ten test-data parquet files; each ``--seed``
profiles the generated headline_sf01 input of that seed (generating it
into ``perfbench/.work/inputs`` if needed). One column per input, so
the generated input can be set beside the test data it imitates.
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from check import oracle_connection  # noqa: E402
from spec import HEADLINE  # noqa: E402

# (name, SQL returning one number); shares are of the table's rows
SCALARS = [
    *((f"rows.{t}", f"SELECT count(*) FROM {t}") for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings")),
    ("documents.copy_share", "SELECT avg((text LIKE '% dup')::INT) FROM documents"),
    ("documents.copy_pairs",
     "SELECT count(*) FROM documents d JOIN documents s ON d.text = s.text || ' dup'"),
    ("documents.exact_dup_groups",
     "SELECT count(*) FROM (SELECT text FROM documents GROUP BY text HAVING count(*) > 1)"),
    ("documents.exact_dup_share",
     "SELECT coalesce(sum(c) FILTER (WHERE c > 1), 0) / sum(c) FROM (SELECT count(*) c FROM documents GROUP BY text)"),
    ("documents.words_mean", "SELECT avg(len(string_split(text, ' '))) FROM documents"),
    ("documents.vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"),
    ("documents.en_share", "SELECT avg((lang = 'en')::INT) FROM documents"),
    # key skew: the largest group over the mean group
    *(
        (f"skew.{name}", f"SELECT max(c) / avg(c) FROM (SELECT count(*) c FROM {t} GROUP BY {k})")
        for name, t, k in (
            ("lines_per_order", "lineitem", "l_orderkey"),
            ("lines_per_part", "lineitem", "l_partkey"),
            ("lines_per_supplier", "lineitem", "l_suppkey"),
            ("orders_per_customer", "orders", "o_custkey"),
            ("events_per_user", "events", "user_id"),
        )
    ),
    ("orders.without_lines_share",
     "SELECT 1 - (SELECT count(DISTINCT l_orderkey) FROM lineitem) / (SELECT count(*) FROM orders)"),
    ("events.value_mean", "SELECT avg(value) FROM events"),
]


def _embedding_stats(con: duckdb.DuckDBPyConnection) -> dict[str, float]:
    rows = con.execute("SELECT embedding, label FROM embeddings").fetchall()
    vecs = np.array([r[0] for r in rows], dtype=np.float64)
    labels = np.array([r[1] for r in rows])
    sims = vecs @ vecs.T
    np.fill_diagonal(sims, -1.0)
    centroids = np.array([vecs[labels == k].mean(axis=0) for k in np.unique(labels)])
    return {
        "embeddings.max_cosine": float(sims.max()),
        "embeddings.pairs_cosine_gt_0.9": float((sims > 0.9).sum() // 2),
        # near 1/sqrt(rows per label) when labels carry no direction
        "embeddings.label_centroid_norm": float(np.linalg.norm(centroids, axis=1).max()),
    }


def profile(sf_dir: str) -> dict[str, float]:
    from books2scrape_etl_spark.queries import ORACLE_SQL

    con = oracle_connection(sf_dir)
    out = {name: float(con.execute(sql).fetchone()[0]) for name, sql in SCALARS}
    out.update(_embedding_stats(con))
    for q in HEADLINE:
        if q in ORACLE_SQL:
            out[f"result_rows.{q}"] = float(con.execute(f"SELECT count(*) FROM ({ORACLE_SQL[q]})").fetchone()[0])
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--seed", type=int, action="append", default=[])
    args = ap.parse_args()
    import gen_tables
    import run

    columns = {os.path.basename(os.path.normpath(d)): d for d in args.dirs}
    cache = os.path.join(run.WORK, "inputs")
    for seed in args.seed:
        os.makedirs(cache, exist_ok=True)
        columns[f"seed {seed}"] = gen_tables.ensure_tables(cache, seed, run.HEADLINE_SF, 1)[0]
    if not columns:
        ap.error("give an input directory or --seed")
    profiles = {name: profile(d) for name, d in columns.items()}
    print("| property | " + " | ".join(columns) + " |")
    print("|---|" + "---|" * len(columns))
    for key in next(iter(profiles.values())):
        print(f"| `{key}` | " + " | ".join(f"{p[key]:.6g}" for p in profiles.values()) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
