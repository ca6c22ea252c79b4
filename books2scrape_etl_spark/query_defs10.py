"""Wave-10 qnames (round 6): the AQE skew-join scale demo, the
invariant suite that value-verifies the three remaining approximate /
non-SQL-twin scale operators, and two packing suites that refresh
driver evidence for eight rotated-out OLAP/text returners in two
window slots.

- ``join_skew_aqe`` — deliberately skewed sort-merge join handled by
  AQE's runtime skew split (operators/scale.skew_join); the oracle is
  the PLAIN join (skew handling must be invisible in the result), and
  a plan test pins ``skew=true`` on the join node.
- ``scale_invariants`` — constant-oracle invariant rows (the
  ``ann_recall`` pattern) for ``bin_quantile_scale`` (approx-edge
  agreement with exact percentile labels), ``pack_ffd`` (capacity /
  partition / not-worse-than-next-fit), and ``embed_generate``
  (bit-determinism under repartitioning, unit norms). These three
  qnames stay registered as rows-only singles; this suite is their
  in-window value signal.
- ``agg_olap_suite`` — agg_rollup + agg_cube + grouping_sets +
  agg_having in one slot (``suites.register_suite``: a value change
  in any component flips the suite hash).
- ``text_suite`` — text_stats + lang_dist + vocab_topk +
  repetition_stats, same mechanism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import oracle_sum_exact, sum_exact
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.suites import register_suite, width
# Registration-order deps: wraps agg/text oracles from defs 1/2/4.
from books2scrape_etl_spark import query_defs as _dep1  # noqa: F401,E402
from books2scrape_etl_spark import query_defs2 as _dep2  # noqa: F401,E402
from books2scrape_etl_spark import query_defs4 as _dep4  # noqa: F401,E402

_SKEW_KEY_SQL = "CASE WHEN l_orderkey % 10 < 8 THEN 1 ELSE 1 + l_orderkey % 100 END"

_JOIN_SKEW_SQL = f"""
WITH l AS (
  SELECT {_SKEW_KEY_SQL} AS k, l_returnflag, l_quantity FROM lineitem
),
r AS (SELECT s_suppkey AS kd, s_name FROM supplier)
SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(r.kd) AS BIGINT) AS sum_keys,
       {oracle_sum_exact('l.l_quantity', 2)} AS sum_qty
FROM l JOIN r ON r.kd = l.k
GROUP BY 1
"""


@register("join_skew_aqe", _JOIN_SKEW_SQL)
def q_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path — AQE runtime skew-join split: ~80% of the fact rows
    share one join key (the CASE collapses 8/10 orderkeys onto key 1),
    so the shuffle puts them in one oversized partition; AQE detects it
    at runtime, splits it along map-output blocks, and replicates the
    matching dim partition — salting's job with no key rewrite. The
    oracle replays the PLAIN join: skew handling may not change a
    single value. ``skew=true`` on the SortMergeJoin node is pinned by
    tests/test_plans.py. The repartition(16) exists because skew
    splitting needs multiple map outputs (see skew_join's docstring);
    at cluster scale the fact side always has them."""
    from books2scrape_etl_spark.operators import scale

    li = read_table(spark, "lineitem", sf_dir).repartition(16)
    hot = F.when(F.col("l_orderkey") % 10 < 8, F.lit(1)).otherwise(
        1 + F.col("l_orderkey") % 100
    )
    left = li.select(hot.alias("k"), "l_returnflag", "l_quantity")
    right = read_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("kd"), "s_name"
    )
    joined = scale.skew_join(spark, left, right, "k", "kd")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("kd").cast("bigint").alias("sum_keys"),
        sum_exact("l_quantity", 2).alias("sum_qty"),
    )


_SCALE_INVARIANTS_SQL = """
SELECT 'quantile_agreement_ge_95' AS check_name, TRUE AS ok
UNION ALL SELECT 'ffd_capacity', TRUE
UNION ALL SELECT 'ffd_partition', TRUE
UNION ALL SELECT 'ffd_packs_le_next_fit', TRUE
UNION ALL SELECT 'embed_deterministic', TRUE
UNION ALL SELECT 'embed_unit_norm', TRUE
"""


@register("scale_invariants", _SCALE_INVARIANTS_SQL)
def q_scale_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-oracle invariants for the three approximate/non-SQL
    scale operators (the ann_recall pattern — a regression flips an
    ``ok`` to false and breaks the value hash):

    - quantile_agreement_ge_95: ``bin_quantile_approx`` (GK-sketch
      edges, no global sort) labels >= 95% of lineitem rows identically
      to exact-percentile-edge labels.
    - ffd_*: first-fit-decreasing packing respects capacity (oversized
      docs alone in their pack), emits every doc exactly once, and
      never uses more packs than next-fit (the hypothesis-tested kernel
      law from tests/test_properties.py, checked on real data).
    - embed_*: the mapInPandas embedding forward pass is bit-identical
      under a different partitioning, and every non-zero vector is
      unit-norm to 1e-6 (the forward pass normalizes in float32 before
      widening to float64, so ~1e-8 residuals are expected; 1e-6 is
      the honest float32 bound with margin).

    All checks stay lazy DataFrame aggregates stitched by 1-row joins;
    no collect."""
    from books2scrape_etl_spark.operators.binning import bin_quantile_approx
    from books2scrape_etl_spark.operators.inference import embed_generate
    from books2scrape_etl_spark.operators.packing import (
        pack_first_fit_decreasing,
        pack_next_fit,
        pack_stats,
    )

    def row(name: str, ok_df: DataFrame) -> DataFrame:
        # ok_df: 1-row frame with a boolean column `ok`
        return ok_df.select(F.lit(name).alias("check_name"), "ok")

    # -- quantile agreement ------------------------------------------
    li = read_table(spark, "lineitem", sf_dir).select("l_extendedprice")
    labels = ("Budget", "Standard", "Premium")
    approx = bin_quantile_approx(li, "l_extendedprice", labels, out_col="t_approx")
    edges = (
        li.agg(
            F.percentile("l_extendedprice", F.array(F.lit(1 / 3), F.lit(2 / 3))).alias("e")
        )
        .select(F.col("e")[0].alias("e1"), F.col("e")[1].alias("e2"))
        .withColumn("j", F.lit(1))
    )
    c = F.col("l_extendedprice")
    exact_label = (
        F.when(c <= F.col("e1"), labels[0])
        .when(c <= F.col("e2"), labels[1])
        .otherwise(labels[2])
    )
    agree = (
        approx.withColumn("j", F.lit(1))
        .join(F.broadcast(edges), "j")
        .agg(F.avg((F.col("t_approx") == exact_label).cast("double")).alias("rate"))
        .select((F.col("rate") >= 0.95).alias("ok"))
    )

    # -- FFD packing invariants --------------------------------------
    docs = read_table(spark, "documents", sf_dir)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs")).withColumn("j", F.lit(1))
    ffd = pack_first_fit_decreasing(docs, "lang", "doc_id", "n_chars", 2048)
    per_pack = ffd.groupBy("lang", "pack_id").agg(
        F.sum("n_chars").alias("ps"), F.count(F.lit(1)).alias("nd")
    )
    cap = per_pack.agg(
        F.min(((F.col("ps") <= 2048) | (F.col("nd") == 1)).cast("int")).alias("m")
    ).select((F.col("m") == 1).alias("ok"))
    part = (
        ffd.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_ids"),
        )
        .withColumn("j", F.lit(1))
        .join(F.broadcast(n_docs), "j")
        .select(
            ((F.col("n_rows") == F.col("n_docs")) & (F.col("n_ids") == F.col("n_docs"))).alias("ok")
        )
    )
    nf = pack_next_fit(docs, "lang", "doc_id", "n_chars", 2048)
    ffd_packs = (
        pack_stats(ffd, "lang", "n_chars", 2048)
        .agg(F.sum("n_packs").alias("fp"))
        .withColumn("j", F.lit(1))
    )
    nf_packs = (
        pack_stats(nf, "lang", "n_chars", 2048)
        .agg(F.sum("n_packs").alias("np"))
        .withColumn("j", F.lit(1))
    )
    tighter = ffd_packs.join(nf_packs, "j").select((F.col("fp") <= F.col("np")).alias("ok"))

    # -- embedding generation invariants -----------------------------
    e1 = embed_generate(docs)
    e2 = embed_generate(docs.repartition(7, "doc_id")).select(
        "doc_id", F.col("embedding").alias("embedding2")
    )
    det = (
        e1.join(e2, "doc_id")
        .agg(
            F.min((F.col("embedding") == F.col("embedding2")).cast("int")).alias("m"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .withColumn("j", F.lit(1))
        .join(F.broadcast(n_docs), "j")
        .select(((F.col("m") == 1) & (F.col("n_rows") == F.col("n_docs"))).alias("ok"))
    )
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    unit = e1.select(
        ((norm == 0.0) | (F.abs(norm - 1.0) < 1e-6)).cast("int").alias("u")
    ).agg(F.min("u").alias("m")).select((F.col("m") == 1).alias("ok"))

    return (
        row("quantile_agreement_ge_95", agree)
        .union(row("ffd_capacity", cap))
        .union(row("ffd_partition", part))
        .union(row("ffd_packs_le_next_fit", tighter))
        .union(row("embed_deterministic", det))
        .union(row("embed_unit_norm", unit))
    )


# A7 (rollup / cube / grouping sets) + HAVING in one window slot.
register_suite("agg_olap_suite", width(2, 2, 1), {
    "agg_rollup": {"s1": "l_returnflag", "s2": "l_linestatus", "n1": "n"},
    "agg_cube": {"s1": "l_returnflag", "s2": "l_linestatus", "n1": "n"},
    "grouping_sets": {
        "s1": "l_returnflag", "s2": "l_linestatus", "n1": "n", "n2": "g_rf",
    },
    "agg_having": {"n1": "l_suppkey", "n2": "n_lines", "d1": "sum_qty"},
})

# L4 text analysis in one window slot.
register_suite("text_suite", width(2, 4, 3), {
    "text_stats": {
        "s1": "lang_pred", "s2": "fp",
        "n1": "doc_id", "n2": "n_chars_measured", "n3": "n_words", "n4": "n_tokens",
        "d1": "punct_ratio", "d2": "quality",
    },
    "lang_dist": {"s1": "lang_pred", "s2": "lang_tagged", "n1": "n_docs"},
    "vocab_topk": {"s1": "token", "n1": "cnt", "n2": "rank"},
    "repetition_stats": {
        "n1": "doc_id", "n2": "n_words", "n3": "keep",
        "d1": "dup_word_frac", "d2": "top_word_frac", "d3": "top_bigram_frac",
    },
})
