"""Wave-9 qnames (round 5): frequency sketches, embedding quantization,
corpus assembly, and event-funnel analytics.

- ``sketch_cms`` / ``heavy_hitters`` — Count-Min sketch whose STATE is
  driver-value-matched (portable md5 hash rule, same contract as the
  KMV sketch), plus the heavy-hitter readout with the one-sided
  never-undercount bound exposed as a column.
- ``lm_quality`` — unigram-frequency document quality scoring (the
  engine-portable integer twin of perplexity filtering).
- ``token_budget`` — deterministic per-language token-budget corpus
  selection (cumulative-cap window over the md5 permutation).
- ``embed_quantize`` — int8-style scalar quantization with
  reconstruction metrics, bit-replayed by the oracle.
- ``funnel_steps`` / ``cohort_retention`` — classic event analytics
  over the events table (staged conditional mins; weekly cohorts).
- format/evolution round trips (``scan_jsonl``, ``scan_orc``,
  ``scan_merge_schema``), runtime-filter join (``join_bloom``),
  time-RANGE frames, VARIANT, WITH RECURSIVE, real AVI frames, KMV
  set algebra, and the Deequ-style ``dq_audit``.

All 20 qnames registered by this module are oracle-paired. They sat
just past the 50-entry driver window in round 5 (the window carried
the r5 rotation set) and rotate in for round 6 alongside the
multi-round-green returners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import land_once
from books2scrape_etl_spark.io import read_table, sql_over_tables, table_sql
from books2scrape_etl_spark.operators import freq, quantize
from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.query_defs import _DOT_SQL, _NORM_SQL, _utc

# Engine-portable 32-bit hash twin (operators/sketch.portable_hash32).
def _h32(key_sql: str) -> str:
    return f"CAST(('0x' || substr(md5({key_sql}), 1, 8)) AS BIGINT)"


# Shared token-stream CTE body: one row per token occurrence, the same
# normalize-lower-split rule as operators/freq.tokens_of.
_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
),
t2 AS (SELECT doc_id, token FROM toks WHERE token <> '')
"""

_CMS_DEPTH, _CMS_WIDTH = 4, 64

_CMS_CELLS = f"""
seeds AS (SELECT unnest([{", ".join(str(s) for s in range(_CMS_DEPTH))}]) AS seed),
cells AS (
  SELECT seeds.seed,
         {_h32("CAST(seeds.seed AS VARCHAR) || ':' || t2.token")} % {_CMS_WIDTH} AS col
  FROM t2 CROSS JOIN seeds
),
state AS (
  SELECT seed, col, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY seed, col
)
"""

_CMS_STATE_SQL = f"""
WITH {_TOKS_CTE}, {_CMS_CELLS}
SELECT CAST(seed AS INT) AS seed, CAST(col AS BIGINT) AS col, cnt
FROM state
"""


@register("sketch_cms", _CMS_STATE_SQL)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch state over the document token stream — the
    d x w counter grid itself is the result (mergeable by element-wise
    sum; any md5-agreeing engine derives the identical grid)."""
    docs = read_table(spark, "documents", sf_dir)
    toks = freq.tokens_of(docs)
    return freq.cms_state(toks, _CMS_DEPTH, _CMS_WIDTH).select(
        F.col("seed").cast("int").alias("seed"), "col", "cnt"
    )


_HH_SHARE = 0.02
_HH_NUM, _HH_DEN = 1, 50  # _HH_SHARE as an exact rational (1/50)

_HEAVY_SQL = f"""
WITH {_TOKS_CTE}, {_CMS_CELLS},
counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM t2 GROUP BY token
),
tot AS (SELECT CAST(SUM(exact_cnt) AS BIGINT) AS total FROM counts),
hot AS (
  -- integer-exact share cut: 0.02 = 1/50, so exact_cnt*50 >= total*1
  -- (BIGINT on both engines; no double/DECIMAL boundary drift)
  SELECT token, exact_cnt FROM counts, tot
  WHERE exact_cnt * {_HH_DEN} >= total * {_HH_NUM}
),
probe_cells AS (
  SELECT hot.token, seeds.seed,
         {_h32("CAST(seeds.seed AS VARCHAR) || ':' || hot.token")} % {_CMS_WIDTH} AS col
  FROM hot CROSS JOIN seeds
),
est AS (
  SELECT token, MIN(COALESCE(state.cnt, 0)) AS cms_est
  FROM probe_cells LEFT JOIN state USING (seed, col)
  GROUP BY token
)
SELECT hot.token, hot.exact_cnt, est.cms_est,
       est.cms_est >= hot.exact_cnt AS bound_ok
FROM hot JOIN est USING (token)
"""


@register("heavy_hitters", _HEAVY_SQL)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (exact count >= 2% of the stream) with their CMS
    point estimates and the never-undercount guarantee as data."""
    docs = read_table(spark, "documents", sf_dir)
    return freq.heavy_hitters(
        docs, min_share=_HH_SHARE, depth=_CMS_DEPTH, width=_CMS_WIDTH
    )


_LM_MIN_COUNT = 5

_LM_QUALITY_SQL = f"""
WITH {_TOKS_CTE},
vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM t2 GROUP BY token HAVING COUNT(*) >= {_LM_MIN_COUNT}
),
per AS (
  SELECT t2.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(CASE WHEN vocab.token IS NULL THEN 1 END) AS BIGINT) AS n_oov,
         CAST(COALESCE(SUM(vocab.tf), 0) AS BIGINT) AS sum_tf
  FROM t2 LEFT JOIN vocab USING (token)
  GROUP BY t2.doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_tokens, 0) AS n_tokens,
       COALESCE(per.n_oov, 0) AS n_oov,
       COALESCE(per.sum_tf, 0) AS sum_tf,
       CAST(per.sum_tf AS DOUBLE) / CAST(per.n_tokens AS DOUBLE) AS avg_tf
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


@register("lm_quality", _LM_QUALITY_SQL)
def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-frequency quality score per document (vocab cutoff 5,
    OOV counts, avg term frequency)."""
    docs = read_table(spark, "documents", sf_dir)
    return freq.unigram_quality(docs, min_count=_LM_MIN_COUNT)


_BUDGET = 2000

_TOKEN_BUDGET_SQL = f"""
WITH staged AS (
  SELECT doc_id, lang,
         {_h32("CAST(doc_id AS VARCHAR)")} AS h,
         CAST(len(list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
w AS (
  SELECT doc_id, lang, n_tok,
         CAST(SUM(n_tok) OVER (
           PARTITION BY lang ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum_tok
  FROM staged
)
SELECT doc_id, lang, n_tok, cum_tok
FROM w WHERE cum_tok - n_tok < {_BUDGET}
"""


@register("token_budget", _TOKEN_BUDGET_SQL)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget selection: fill each language's corpus
    to 2000 tokens along the md5 permutation."""
    docs = read_table(spark, "documents", sf_dir)
    return freq.token_budget_select(docs, budget=_BUDGET)


_EMBED_QUANTIZE_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE) AS rng
  FROM embeddings
),
q AS (
  SELECT vec_id, embedding, mn, rng,
         CASE WHEN rng = 0 THEN [0 FOR x IN embedding]
              ELSE [CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0 / rng + 0.5) AS INT)
                    FOR x IN embedding]
         END AS codes
  FROM base
),
d AS (
  SELECT vec_id, embedding, mn, rng, codes,
         [mn + CAST(c AS DOUBLE) * rng / 255.0 FOR c IN codes] AS dq
  FROM q
)
SELECT vec_id, round(mn, 6) AS qmin, round(rng, 6) AS qrange,
       array_to_string(codes, ',') AS codes_str,
       round(list_max([abs(CAST(embedding[i] AS DOUBLE) - dq[i]) FOR i IN range(1, 65)]), 6)
         AS max_abs_err,
       round({_DOT_SQL.format(a='embedding', b='dq')} /
             (sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) *
              sqrt({_DOT_SQL.format(a='dq', b='dq')})), 6) AS cos_orig
FROM d
"""


@register("embed_quantize", _EMBED_QUANTIZE_SQL)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style scalar quantization of every embedding, with
    reconstruction error and cosine fidelity value-matched."""
    emb = read_table(spark, "embeddings", sf_dir)
    return quantize.quantize_scalar(emb)


@register(
    "scan_jsonl",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + explicit-schema scan round trip over the documents
    table — the LLM-corpus interchange format. The oracle reads the
    ORIGINAL parquet, so the check pins lossless serialization of text
    (newlines, unicode) through the JSON line format."""
    from books2scrape_etl_spark.io import TESTDATA_SCHEMAS, read_jsonl, write_jsonl

    path = land_once(
        spark,
        "documents_jsonl",
        sf_dir,
        lambda base: write_jsonl(read_table(spark, "documents", sf_dir), base),
    )
    return read_jsonl(spark, path, TESTDATA_SCHEMAS["documents"])


@register(
    "scan_orc",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
    "FROM orders",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round trip over the orders table (Spark's second
    built-in columnar format — vectorized reader, pushdown, pruning).
    The oracle reads the ORIGINAL parquet, pinning lossless columnar
    interchange. Timestamp column excluded: ORC stores session-local
    timestamps (a known cross-format semantic difference) — the events
    reader's NTZ handling in read_table is the engine's answer there."""
    from books2scrape_etl_spark.io import read_orc, write_orc

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    path = land_once(
        spark,
        "orders_orc",
        sf_dir,
        lambda base: write_orc(read_table(spark, "orders", sf_dir).select(*cols), base),
    )
    return read_orc(spark, path)


@register(
    "scan_merge_schema",
    """
    SELECT doc_id, CAST(1 AS INT) AS batch, text, CAST(NULL AS VARCHAR) AS lang
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, CAST(2 AS INT), CAST(NULL AS VARCHAR), lang
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across landed batches: two parquet batches with
    DIFFERENT column sets under one root (batch 1 carries text, batch 2
    carries lang — the add-a-column drift every long-lived landing zone
    accumulates), read back with ``mergeSchema`` — the union schema
    with per-batch NULLs for absent columns. The oracle replays the
    union from the original table, so the round trip pins both the
    merge semantics and value fidelity. At scale, schema merging is a
    footer-only operation (no data rewrite) — that is the point."""
    import os

    docs = read_table(spark, "documents", sf_dir)
    b1 = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.lit(1).alias("batch"), "text"
    )
    b2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.lit(2).alias("batch"), "lang"
    )

    def land(base: str) -> None:
        b1.write.mode("overwrite").parquet(os.path.join(base, "b1"))
        b2.write.mode("overwrite").parquet(os.path.join(base, "b2"))

    root = land_once(spark, "docs_evolving", sf_dir, land)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "b1"), os.path.join(root, "b2")
    )
    return merged.select("doc_id", "batch", "text", "lang")


@register(
    "compact_files",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders",
)
def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round trip: land orders as 64 tiny
    parquet files (the streaming-landing pathology), compact to 4
    right-sized ones, and verify the rewrite is content-preserving
    against the ORIGINAL table — the invariant a maintenance job must
    never break. File-count mechanics are pinned by a unit test."""
    import os

    from books2scrape_etl_spark.io import compact_small_files

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]

    def land(base: str) -> None:
        src = os.path.join(base, "small")
        read_table(spark, "orders", sf_dir).select(*cols).repartition(64).write.mode(
            "overwrite"
        ).parquet(src)
        compact_small_files(spark, src, os.path.join(base, "compacted"), target_files=4)

    base = land_once(spark, "orders_compact", sf_dir, land)
    return spark.read.parquet(os.path.join(base, "compacted"))


_OUTLIER_SQL = """
WITH stats AS (
  SELECT p_brand,
         COUNT(p_retailprice) AS n,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(p_retailprice * p_retailprice AS DECIMAL(28,4))) AS DOUBLE) AS s2
  FROM part GROUP BY p_brand
)
SELECT p.p_partkey, p.p_brand, p.p_retailprice,
       round((CAST(p.p_retailprice AS DOUBLE) - s.s1 / s.n) /
             sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)), 6) AS z,
       abs((CAST(p.p_retailprice AS DOUBLE) - s.s1 / s.n) /
           sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1))) > 2.0 AS is_outlier
FROM part p JOIN stats s ON s.p_brand = p.p_brand
"""


@register("outlier_zscore", _OUTLIER_SQL)
def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: group stats from
    decimal-exact moments (the agg_stats formula — order-independent,
    engine-reproducible, unlike builtin stddev's partition-order double
    accumulation), broadcast back onto the rows, |z| > 2 flags. The
    pinned-order IEEE arithmetic makes every z value hash-matchable."""
    part = read_table(spark, "part", sf_dir)
    x = F.col("p_retailprice")
    n = F.count(x)
    s1 = F.sum(x.cast("decimal(18,2)")).cast("double")
    s2 = F.sum((x * x).cast("decimal(28,4)")).cast("double")
    stats = part.groupBy("p_brand").agg(n.alias("n"), s1.alias("s1"), s2.alias("s2"))
    z = (x.cast("double") - F.col("s1") / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - F.lit(1))
    )
    return part.join(F.broadcast(stats), "p_brand").select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2.0).alias("is_outlier"),
    )


_FUZZY_JOIN_SQL = """
WITH counts AS (
  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY p_name
),
names AS (
  -- right(name, 3): engine-agnostic suffix key (whole string when
  -- shorter), matching Spark's F.right — see fuzzy_name_pairs
  SELECT name, right(name, 3) AS blk FROM counts
),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b,
         CAST(levenshtein(a.name, b.name) AS INT) AS dist
  FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
)
SELECT p.name_a, p.name_b, p.dist, na.n AS n_a, nb.n AS n_b
FROM pairs p
JOIN counts na ON na.name = p.name_a
JOIN counts nb ON nb.name = p.name_b
WHERE p.dist BETWEEN 1 AND 3
"""


@register("fuzzy_join", _FUZZY_JOIN_SQL)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join over part names: distinct-name dim →
    suffix block key → equi-join → Levenshtein 1..3 filter, with fact
    occurrence counts joined back. The dim-first + blocking design is
    what keeps edit-distance linkage off the all-pairs cliff at scale;
    the oracle replays blocking, distance and counts exactly."""
    from books2scrape_etl_spark.operators.dedupe import fuzzy_name_pairs

    part = read_table(spark, "part", sf_dir)
    return fuzzy_name_pairs(part, "p_name", block_suffix=3, max_dist=3)


_DQ_AUDIT_SQL = """
SELECT 'null:l_orderkey' AS check_name,
       CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT) AS metric
FROM lineitem
UNION ALL
SELECT 'null:l_quantity',
       CAST(COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'null:l_shipdate',
       CAST(COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'pred:qty_range',
       CAST(COUNT(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)
                       THEN 1 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'pred:discount_range',
       CAST(COUNT(CASE WHEN NOT COALESCE(l_discount BETWEEN 0.0 AND 0.1, FALSE)
                       THEN 1 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'pred:price_positive',
       CAST(COUNT(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE)
                       THEN 1 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'pred:returnflag_domain',
       CAST(COUNT(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE)
                       THEN 1 END) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'unique:l_orderkey,l_linenumber',
       CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'ref:orders',
       CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
"""

_DQ_AUDIT_SQL = f"""
SELECT check_name, metric, metric = 0 AS ok FROM ({_DQ_AUDIT_SQL}) q
"""


@register("dq_audit", _DQ_AUDIT_SQL)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (Deequ/dbt-test shape) over the
    lineitem fact: 3 completeness + 4 predicate + 1 uniqueness checks
    compiled into ONE aggregation pass, plus a referential check
    against orders as a keys-only anti-join. The full report — metric
    values and pass booleans — is the value-matched result."""
    from books2scrape_etl_spark.operators.audit import audit

    li = read_table(spark, "lineitem", sf_dir)
    orders = read_table(spark, "orders", sf_dir)
    return audit(
        li,
        completeness=["l_orderkey", "l_quantity", "l_shipdate"],
        predicates={
            "qty_range": F.col("l_quantity").between(1, 50),
            "discount_range": F.col("l_discount").between(0.0, 0.1),
            "price_positive": F.col("l_extendedprice") > 0,
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
        unique=[["l_orderkey", "l_linenumber"]],
        references={"orders": (orders, "l_orderkey", "o_orderkey")},
    )


_KMV_K = 64
_KMV_EST_UNION = (
    f"CASE WHEN au.k_u < {_KMV_K} THEN CAST(au.k_u AS DOUBLE) "
    f"ELSE {(_KMV_K - 1) * 4294967296}.0 / CAST(au.kth_u AS DOUBLE) END"
)
_KMV_EST_J = "CAST(s.n_shared AS DOUBLE) / CAST(au.k_u AS DOUBLE)"

_KMV_SETOPS_SQL = f"""
WITH {_TOKS_CTE},
t3 AS (
  SELECT DISTINCT d.lang AS lab, {_h32("t2.token")} AS hv
  FROM t2 JOIN documents d ON d.doc_id = t2.doc_id
  WHERE d.lang IN ('en', 'fr')
),
ska AS (SELECT hv FROM t3 WHERE lab = 'en' ORDER BY hv LIMIT {_KMV_K}),
skb AS (SELECT hv FROM t3 WHERE lab = 'fr' ORDER BY hv LIMIT {_KMV_K}),
u AS (
  SELECT DISTINCT hv
  FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb) q
  ORDER BY hv LIMIT {_KMV_K}
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_shared FROM u
  WHERE hv IN (SELECT hv FROM ska) AND hv IN (SELECT hv FROM skb)
),
aa AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_a, MAX(hv) AS kth_a FROM ska),
ab AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_b, MAX(hv) AS kth_b FROM skb),
au AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_u, MAX(hv) AS kth_u FROM u),
eu AS (SELECT CAST(COUNT(DISTINCT hv) AS BIGINT) AS exact_union FROM t3),
ei AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter
  FROM (SELECT hv FROM t3 GROUP BY hv HAVING COUNT(DISTINCT lab) = 2) q
)
SELECT aa.k_a, aa.kth_a, ab.k_b, ab.kth_b, au.k_u, au.kth_u, s.n_shared,
       {_KMV_EST_UNION} AS est_union,
       {_KMV_EST_J} AS est_jaccard,
       ({_KMV_EST_J}) * ({_KMV_EST_UNION}) AS est_intersection,
       eu.exact_union, ei.exact_inter
FROM aa, ab, au, s, eu, ei
"""


@register("sketch_kmv_setops", _KMV_SETOPS_SQL)
def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch algebra — union/Jaccard/intersection estimates for
    the en-vs-fr token vocabularies from the two sketches alone, with
    exact counts for calibration; the whole derivation (sketch states,
    estimators, exacts) replays in the oracle."""
    from books2scrape_etl_spark.operators.sketch import kmv_set_ops

    docs = read_table(spark, "documents", sf_dir)
    toks = freq.tokens_of(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return kmv_set_ops(toks, "token", "lang", "en", "fr", k=_KMV_K)


# Shared Spark-SQL / DuckDB dialect (the query_defs8 contract): ONE SQL
# template, its {events} placeholder bound to the events frame on Spark
# and filled in by the table name for the oracle. Recursive CTEs landed
# in Spark 4.0 — the spine generates the full calendar month and the left join
# densifies days with no events to an explicit zero (gap filling, the
# classic recursive-CTE analytics shape).
_RECURSIVE_CTE_SQL = """
WITH RECURSIVE days(d) AS (
  SELECT DATE '2024-01-01' AS d
  UNION ALL
  SELECT d + INTERVAL 1 DAY FROM days WHERE d < DATE '2024-01-31'
),
daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {events} GROUP BY 1
)
SELECT CAST(days.d AS STRING) AS day_str, COALESCE(daily.n, 0) AS n_events
FROM days LEFT JOIN daily ON daily.d = days.d
"""


@register("recursive_cte", table_sql(_RECURSIVE_CTE_SQL))
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface — WITH RECURSIVE (Spark 4 UnionLoop execution):
    calendar-spine densification of daily event counts, the identical
    SQL text the DuckDB oracle runs. Recursion depth is the calendar
    length (31), not the data size — the per-iteration work is a
    one-row append, and the big side stays one aggregated join."""
    _utc(spark)
    return sql_over_tables(spark, _RECURSIVE_CTE_SQL, sf_dir)


_JOIN_BLOOM_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderpriority
"""


@register("join_bloom", _JOIN_BLOOM_SQL)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path — runtime bloom-filter-pruned shuffle join: the
    selective orders side builds a bloom_filter_agg and AQE injects
    BloomFilterMightContain into the lineitem scan, dropping
    non-matching fact rows BEFORE the shuffle (the non-broadcastable-
    dim answer to semi-filtering). Pure optimization, so the oracle is
    the plain join — bit-identical results required. Injection itself
    is pinned by a dedicated plan test."""
    from books2scrape_etl_spark.operators import scale

    li = read_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_extendedprice")
    o = read_table(spark, "orders", sf_dir).where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderpriority")
    joined = scale.bloom_pruned_join(spark, li, o, "l_orderkey", "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


_WINDOW_RANGE_SQL = """
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
  FROM events
)
SELECT event_id, user_id, es,
       CAST(COUNT(*) OVER w AS BIGINT) AS cnt_7d,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_7d
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)
"""


@register("window_range_time", _WINDOW_RANGE_SQL)
def q_window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 extension — TIME-based RANGE window frame: per-user trailing
    7-day event count and exact-decimal value sum. RANGE frames bound
    by the ORDER-BY VALUE (epoch seconds), not row position, so peers
    with equal timestamps share a frame and no tiebreak is needed —
    the frame is deterministic under any partitioning. The window is
    partitioned by user (state = one frame per user, parallelism =
    users); this is the sliding-feature shape ML feature pipelines
    compute at scale."""
    from pyspark.sql import Window

    _utc(spark)
    ev = read_table(spark, "events", sf_dir)
    e = ev.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("es"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-604799, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "es",
        F.count(F.lit(1)).over(w).alias("cnt_7d"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("sum_7d"),
    )


_VARIANT_SQL = """
SELECT event_id,
       CAST(CASE WHEN json_valid(props) THEN props ->> '$.k' END AS INTEGER) AS k_int,
       CAST(CASE WHEN json_valid(props) THEN props ->> '$.missing' END
            AS INTEGER) AS k_missing,
       NOT json_valid('{not json') AS bad_is_null
FROM events
"""


@register("variant_ops", _VARIANT_SQL)
def q_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 extension — semi-structured access through Spark 4's
    VARIANT type: ``parse_json`` once, then typed ``variant_get`` path
    extraction (binary variant encoding: parse once, extract many —
    unlike ``get_json_object`` which re-parses the string per call).
    Missing paths yield NULL; ``try_parse_json`` turns malformed input
    into NULL instead of failing the task (corpus JSON is never clean
    at 100 TB)."""
    ev = read_table(spark, "events", sf_dir)
    # try_parse_json on the REAL column: malformed rows become NULL
    # variants (and NULL extractions), never task failures. DuckDB's
    # ->> ERRORS on malformed VARCHAR JSON, so the oracle guards with
    # json_valid — the two NULL-on-bad paths then agree. bad_is_null
    # is each engine's own malformed-literal verdict (try_parse_json
    # IS NULL vs NOT json_valid), not a hardcoded constant.
    v = F.try_parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.missing", "int").alias("k_missing"),
        F.try_parse_json(F.lit("{not json")).isNull().alias("bad_is_null"),
    )


_AVI_FRAMES_SQL = """
WITH params AS (
  SELECT doc_id, 4 * (1 + doc_id % 3) AS w, 2 + doc_id % 4 AS h,
         1 + doc_id % 3 AS nf
  FROM documents
),
frames AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM params),
bytes AS (SELECT doc_id, w, h, f, unnest(range(3 * w * h)) AS i FROM frames)
SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 * w * h AS BIGINT) AS n_bytes,
       CAST(SUM((doc_id * 17 + f * 11 + 5 * i) % 256) AS BIGINT) AS frame_sum
FROM bytes GROUP BY doc_id, f, w, h
"""


@register("avi_frames", _AVI_FRAMES_SQL)
def q_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 video — REAL frame extraction through the RIFF/AVI codec:
    synthetic AVI payload per document (closed-form bytes), parsed by
    the production container walk; every frame's dims and pixel byte
    sum are value-matched against an oracle that re-derives them from
    the generation rule — the same decode-is-data contract as
    multimodal_decode. Clears the last multimodal stub."""
    from books2scrape_etl_spark.operators import multimodal

    docs = read_table(spark, "documents", sf_dir)
    media = multimodal.documents_as_avi_media(docs)
    return multimodal.decode_avi_frames(media, every_n=1)


_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id,
       strftime(v.t_view, '%Y-%m-%d %H:%M:%S.%f') AS t_view,
       strftime(c.t_click, '%Y-%m-%d %H:%M:%S.%f') AS t_click,
       strftime(p.t_purchase, '%Y-%m-%d %H:%M:%S.%f') AS t_purchase,
       CAST(1 + CASE WHEN c.t_click IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.t_purchase IS NULL THEN 0 ELSE 1 END AS INT) AS stage
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
"""


@register("funnel_steps", _FUNNEL_SQL)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel per user: each stage is
    the min event time strictly after the previous stage's time.

    Plan shape: three conditional-min aggregations chained by user_id
    equi-joins — every stage shuffles on the same key, so at scale AQE
    coalesces them onto one partitioning; no window over the raw
    stream, no per-user state bigger than three timestamps."""
    _utc(spark)
    ev = read_table(spark, "events", sf_dir)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stage = (
        F.lit(1)
        + F.when(F.col("t_click").isNull(), 0).otherwise(1)
        + F.when(F.col("t_purchase").isNull(), 0).otherwise(1)
    ).cast("int")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.date_format("t_view", fmt).alias("t_view"),
            F.date_format("t_click", fmt).alias("t_click"),
            F.date_format("t_purchase", fmt).alias("t_purchase"),
            stage.alias("stage"),
        )
    )


_COHORT_SQL = """
WITH f AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events),
j AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT) AS week_offset
  FROM a JOIN f ON f.user_id = a.user_id
),
per AS (
  SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
  FROM j GROUP BY cohort_week, week_offset
),
sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM f GROUP BY cohort_week)
SELECT strftime(per.cohort_week, '%Y-%m-%d') AS cohort_week,
       per.week_offset, per.n_active, sz.cohort_size,
       CAST(per.n_active AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
FROM per JOIN sz ON sz.cohort_week = per.cohort_week
"""


@register("cohort_retention", _COHORT_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen ISO week,
    counted at each week offset they were active.

    The distinct (user, week) table and the first-seen table both
    collapse map-side before the one join on user_id; cohort sizes
    broadcast. Week arithmetic stays in exact integer days."""
    _utc(spark)
    ev = read_table(spark, "events", sf_dir)
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    a = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    j = a.join(f, "user_id").select(
        "cohort_week",
        (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("week_offset"),
    )
    per = j.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    sz = f.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return per.join(F.broadcast(sz), "cohort_week").select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
            "retention"
        ),
    )
