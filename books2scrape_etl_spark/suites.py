"""Evidence-packing suites: the one way to declare a suite qname.

A packing suite turns N registered, oracle-paired single qnames into
ONE driver window slot. :func:`register_suite` takes one slot table
per suite (section = a single's qname -> {slot: source column}) and
builds both sides from it: the Spark callable re-runs each single's
registered callable, the oracle wraps each single's registered oracle
SQL verbatim, and both projections come from the same table — neither
the sections nor the normalization can drift from the singles.

What belongs in a packing suite: a union of registered singles, each
run as its own plan. What stays a fused, hand-written plan: several
outputs computed in ONE scan or one shared pass (columns_part_suite,
columns_lineitem_suite, window_suite, scalar_funcs_suite,
winnow_suite) — as a union they would scan N times — and a bundle
whose sections have no registered single or must run concurrently
(stream_windows_suite).

Normalized schema per suite: ``sec`` (the section's single qname)
plus string slots s1.., BIGINT slots n1.., DOUBLE slots d1.. — unused
slots NULL of the right type. Doubles pass through unchanged (they
are hash-safe in the singles by construction); narrower ints and
booleans are cast to BIGINT on both sides. Source columns are quoted
on both sides, so a name like ``Price (excl. tax)`` can be a slot
source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.registry import ORACLE_SQL, QUERIES, register

Width = list[tuple[str, str]]
Sections = dict[str, dict[str, str]]

_SQL_T = {"string": "VARCHAR", "bigint": "BIGINT", "double": "DOUBLE"}

# suite qname -> (width, sections), in registration order
SUITES: dict[str, tuple[Width, Sections]] = {}


def width(n_s: int, n_n: int, n_d: int) -> Width:
    return (
        [(f"s{i}", "string") for i in range(1, n_s + 1)]
        + [(f"n{i}", "bigint") for i in range(1, n_n + 1)]
        + [(f"d{i}", "double") for i in range(1, n_d + 1)]
    )


def sect_df(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    width: Width,
    slots: dict[str, str],
) -> DataFrame:
    df = QUERIES[name](spark, sf_dir)
    cols = [F.lit(name).alias("sec")]
    for slot, typ in width:
        src = slots.get(slot)
        if src is None:
            cols.append(F.lit(None).cast(typ).alias(slot))
        else:
            cols.append(F.col(f"`{src}`").cast(typ).alias(slot))
    return df.select(*cols)


def sect_sql(name: str, width: Width, slots: dict[str, str]) -> str:
    # Sources are qualified as sub_{name}."{src}" (ADVICE r8): the SELECT
    # list also defines same-named aliases (e.g. a slot mapping n3 from
    # source column n1 after `CAST(...) AS n1`), and unqualified refs
    # would make correctness depend on DuckDB preferring base columns
    # over lateral aliases. Qualification removes the ambiguity; the
    # quotes admit any column name (DuckDB still matches them
    # case-insensitively).
    parts = [f"'{name}' AS sec"]
    for slot, typ in width:
        src = slots.get(slot)
        ref = "NULL" if src is None else f'sub_{name}."{src}"'
        parts.append(f"CAST({ref} AS {_SQL_T[typ]}) AS {slot}")
    return f"SELECT {', '.join(parts)} FROM ({ORACLE_SQL[name]}) sub_{name}"


def suite_sql(width: Width, sections: Sections) -> str:
    return "\nUNION ALL\n".join(sect_sql(n, width, m) for n, m in sections.items())


def suite_df(
    spark: SparkSession,
    sf_dir: str,
    width: Width,
    sections: Sections,
) -> DataFrame:
    out = None
    for name, mapping in sections.items():
        part = sect_df(spark, sf_dir, name, width, mapping)
        out = part if out is None else out.union(part)
    return out


def register_suite(name: str, width: Width, sections: Sections) -> None:
    """Register ``name`` as the union of ``sections``, normalized to
    ``width``: :func:`suite_df` as the Spark callable and
    :func:`suite_sql` as the oracle, both from the same table. Every
    section must already be registered with an oracle."""
    SUITES[name] = (width, sections)
    register(name, suite_sql(width, sections))(
        lambda spark, sf_dir: suite_df(spark, sf_dir, width, sections)
    )
