"""Wave-34 qnames (round 8, the round's single permitted wave): three
storage-layout / pipeline-audit primitives a 100 TB corpus actually
operates with — reader-side parquet schema evolution, Z-order
(Morton-curve) layout keys, and a packing-utilization audit over the
sequence packer.

Placed past the 50-entry driver window (the r8 window is frozen on the
waves-12–22 backlog rotation); first claim on r9 slots together with
the waves-23–32 set listed in queries.py.

Engine-parity posture: every output column is exact BIGINT or a string
— the Morton code is generated from ONE Python formula template
rendered for both engines (Spark `DIV`, DuckDB `//`; operands are
non-negative so truncating and flooring division coincide), the
schema-drift oracle is a UNION ALL with typed NULL literals, and the
packing audit wraps the pack_next_fit recursive-CTE oracle verbatim
(the defs33 principle: one definition, no drift).

Scale posture (local[32] today, 1000 executors tomorrow):

- **scan_schema_drift**: schema evolution happens IN THE READER —
  `mergeSchema` unions footer schemas at planning time and back-fills
  missing columns with nulls per file, so a 100 TB table written over
  two years of schema versions scans as one relation with no rewrite
  of old files. The demo writes two snapshot dirs (v1 lacks a column)
  and scans them as one.
- **zorder_layout**: a space-filling-curve key linearizes TWO scan
  dimensions into one sort order, so range-partitioned files get
  bounded min/max zone maps on BOTH columns at once (the technique
  under Delta/Iceberg Z-ORDER clustering; complements zone_maps,
  wave 23). Bit interleaving is pure integer arithmetic — embarrassing
  parallel, no shuffle until the final 16-block rollup — and the
  output pins the locality law itself: each 4096-code block spans at
  most 64 of the 256 values on each axis.
- **packing_efficiency**: the packer's fill-rate distribution is the
  number a training-data owner actually watches (wasted context-window
  tokens at 100 TB = real money). Aggregates the (lang, pack_id)
  frame — thousands of rows per shard, never documents — with
  map-side-combining sums.

Reference parity: the reference ETL has no analytics of this family;
these extend the engine per the round brief.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import land_once
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import ORACLE_SQL, register

# Registration-order dep: packing_efficiency wraps the pack_next_fit
# oracle at module level (must already be registered when this module
# loads).
from books2scrape_etl_spark import query_defs4 as _dep4  # noqa: F401,E402

# ---------------------------------------------------------------------
# scan_schema_drift — reader-side parquet schema evolution: the v1
# snapshot predates the n_regionkey column; mergeSchema scans both
# snapshot dirs as one relation, null-backfilling v1 rows.
# ---------------------------------------------------------------------

_DRIFT_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name,
       CAST(NULL AS BIGINT) AS regionkey,
       'v1' AS snapshot
FROM nation
UNION ALL
SELECT CAST(n_nationkey AS BIGINT), n_name,
       CAST(n_regionkey AS BIGINT), 'v2'
FROM nation
"""


@register("scan_schema_drift", _DRIFT_SQL)
def q_scan_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 extension — parquet schema evolution handled in the reader:
    two snapshot dirs are written with drifted schemas (v1: 2 columns
    + a snapshot marker; v2 adds n_regionkey), then scanned as ONE
    relation via ``mergeSchema`` — planning-time footer-schema union,
    per-file null backfill, no rewrite of old files. The scratch write
    is part of the query by design (the join_bucketed land-once
    contract, through ``land_once``); the oracle replays the union with
    a typed NULL literal. At 100 TB this is the difference between
    evolving a table and rewriting it."""
    nation = read_table(spark, "nation", sf_dir)
    v1 = nation.select(
        F.col("n_nationkey").cast("bigint").alias("nationkey"),
        "n_name",
        F.lit("v1").alias("snapshot"),
    )
    v2 = nation.select(
        F.col("n_nationkey").cast("bigint").alias("nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("regionkey"),
        F.lit("v2").alias("snapshot"),
    )

    def land(base: str) -> None:
        v1.write.mode("overwrite").parquet(_os.path.join(base, "v1"))
        v2.write.mode("overwrite").parquet(_os.path.join(base, "v2"))

    base = land_once(spark, "drift", sf_dir, land)
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(_os.path.join(base, "v1"), _os.path.join(base, "v2"))
    )
    return merged.select("nationkey", "n_name", "regionkey", "snapshot")


# ---------------------------------------------------------------------
# zorder_layout — Morton code over (l_partkey%256, l_suppkey%256),
# rolled up into 16 z-blocks whose per-axis min/max pin the locality
# law (each 4096-code block spans ≤ 64 values on each axis).
# ---------------------------------------------------------------------


def _morton_formula(a_expr: str, b_expr: str, div_op: str) -> str:
    """One template, rendered per engine (Spark: div_op='DIV'; DuckDB:
    div_op='//'). Operands are non-negative 0..255 so truncating and
    flooring division coincide; the sum interleaves bit i of a into
    position 2i+1 and bit i of b into position 2i."""
    terms = []
    for i in range(8):
        terms.append(f"((({a_expr}) {div_op} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({b_expr}) {div_op} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


_Z_SPARK = _morton_formula("l_partkey % 256", "l_suppkey % 256", "DIV")
_Z_DUCK = _morton_formula("l_partkey % 256", "l_suppkey % 256", "//")

_ZORDER_SQL = f"""
WITH z AS (
  SELECT CAST({_Z_DUCK} AS BIGINT) AS zcode,
         CAST(l_partkey % 256 AS BIGINT) AS a,
         CAST(l_suppkey % 256 AS BIGINT) AS b
  FROM lineitem)
SELECT zcode // 4096 AS zblock,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(a) AS BIGINT) AS min_a, CAST(MAX(a) AS BIGINT) AS max_a,
       CAST(MIN(b) AS BIGINT) AS min_b, CAST(MAX(b) AS BIGINT) AS max_b
FROM z GROUP BY 1
"""


@register("zorder_layout", _ZORDER_SQL)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout key: interleave the low 8 bits of
    two scan dimensions into one BIGINT sort key, so range-partitioned
    files carry bounded min/max zone maps on BOTH columns at once —
    the clustering technique under Delta/Iceberg Z-ORDER. The rollup
    output IS the locality proof: every 4096-code block's per-axis
    span (max-min) is ≤ 63 of 256 possible values. Pure per-row
    integer arithmetic (one formula template rendered for both
    engines), no shuffle until the 16-block rollup."""
    li = read_table(spark, "lineitem", sf_dir)
    z = li.select(
        F.expr(_Z_SPARK).cast("bigint").alias("zcode"),
        (F.col("l_partkey") % 256).cast("bigint").alias("a"),
        (F.col("l_suppkey") % 256).cast("bigint").alias("b"),
    )
    return (
        z.select(F.expr("zcode DIV 4096").alias("zblock"), "a", "b")
        .groupBy("zblock")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
    )


# ---------------------------------------------------------------------
# packing_efficiency — fill-rate distribution of the next-fit packer:
# per-pack fill (exact BIGINT char sums) bucketed into fill deciles,
# with total waste per bucket. Wraps the pack_next_fit recursive-CTE
# oracle verbatim, so the audit and the packer cannot drift.
# ---------------------------------------------------------------------

_PACK_EFF_SQL = f"""
WITH packed AS ({ORACLE_SQL["pack_next_fit"]}),
per_pack AS (
  SELECT lang, pack_id, CAST(SUM(n_chars) AS BIGINT) AS fill,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM packed GROUP BY 1, 2)
SELECT (fill * 10) // 2048 AS fill_decile,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(fill) AS BIGINT) AS total_fill,
       CAST(SUM(GREATEST(CAST(0 AS BIGINT), 2048 - fill)) AS BIGINT)
         AS total_waste
FROM per_pack GROUP BY 1
"""


@register("packing_efficiency", _PACK_EFF_SQL)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-utilization audit over pack_next_fit: per-pack fill
    (exact BIGINT char sums) bucketed into fill deciles — (fill*10)
    DIV 2048, so an oversize singleton pack lands in decile 10+ —
    with pack/document counts and total wasted capacity per bucket
    (waste = max(0, 2048 - fill); oversize packs waste nothing).
    Wasted context-window tokens are the packing metric a training
    pipeline owner actually watches. Shuffles only the (lang, pack_id)
    frame; sums combine map-side."""
    from books2scrape_etl_spark.operators.packing import pack_next_fit

    docs = read_table(spark, "documents", sf_dir)
    per_pack = (
        pack_next_fit(docs, "lang", "doc_id", "n_chars", 2048)
        .groupBy("lang", "pack_id")
        .agg(
            F.sum("n_chars").cast("bigint").alias("fill"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
    )
    waste = F.greatest(F.lit(0).cast("bigint"), F.lit(2048) - F.col("fill"))
    return (
        per_pack.select(
            F.expr("(fill * 10) DIV 2048").alias("fill_decile"),
            "n_docs",
            "fill",
            waste.alias("waste"),
        )
        .groupBy("fill_decile")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("fill").cast("bigint").alias("total_fill"),
            F.sum("waste").cast("bigint").alias("total_waste"),
        )
    )
