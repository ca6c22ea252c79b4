"""Wave-12 qnames (round 7): time-series completion, OHLC-style bars,
rolling distinct-user reach, PMI collocations, and pure-DataFrame
k-means.

Placed past the 50-entry driver window (the r7 window carries the r6
verdict's rotation plan); first claim on r8 slots together with the
r5-only returners listed in queries.py.

Engine-parity choices (applying the measured rules in COVERAGE.md):

- no libm anywhere: PMI ranks by the RAW probability ratio
  ``p(xy)/(p(x)p(y))`` — monotone in the log form, so the ln() that is
  not bit-portable between the JVM and DuckDB is never computed;
- every float expression mirrors the Spark tree's parenthesization op
  for op, with explicit casts on both sides;
- doubles that pass through min/max/min_by/LOCF unchanged are
  hash-safe; every SUM goes through the exact-decimal helpers;
- timestamps never cross the boundary raw: epoch-second longs via
  ``CAST(ts AS LONG)`` ≡ DuckDB ``CAST(floor(epoch(ts)) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import oracle_sum_exact, sum_exact
from books2scrape_etl_spark.functions.util import stage
from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.operators.text import normalize_for_fingerprint
from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.query_defs import _NORM_SQL, topk_with_rank

# ---------------------------------------------------------------------
# ts_gapfill — regular-grid completion + LOCF (the feature-store /
# monitoring primitive: a model join must see EVERY hour, not just the
# hours that happened to log)
# ---------------------------------------------------------------------

_GAPFILL_USER_MOD = 29  # bound the grid: ~3% of users exercise the op

_TS_GAPFILL_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
  FROM events WHERE user_id % {_GAPFILL_USER_MOD} = 0
),
h AS (
  SELECT user_id, es - es % 3600 AS hour_es,
         CAST(COUNT(*) AS BIGINT) AS n,
         {oracle_sum_exact("value", scale=4)} AS sv
  FROM e GROUP BY 1, 2
),
b AS (SELECT user_id, min(hour_es) AS mn, max(hour_es) AS mx FROM h GROUP BY 1),
g AS (SELECT user_id, unnest(generate_series(mn, mx, 3600)) AS hour_es FROM b)
SELECT g.user_id, g.hour_es,
       COALESCE(h.n, 0) AS n_events,
       CAST(CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
       last_value(h.sv IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hour_es
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hour_es = h.hour_es
"""


@register("ts_gapfill", _TS_GAPFILL_SQL)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid completion per user (``sequence`` + ``explode``
    densifies each user's [first, last] hour) with
    last-observation-carried-forward of the hourly exact-decimal value
    sum (``F.last(ignorenulls)`` — the double passes through UNCHANGED,
    so it hash-matches DuckDB's ``last_value IGNORE NULLS`` without any
    float arithmetic).

    Scale: the grid is ``span_hours`` rows per user — generated inside
    the task from one (min, max) row, never shuffled wide; the LOCF
    window is per-user (partitioned, no global sort). The user_id
    filter (% 29) bounds the demo's grid; remove it and the plan
    shape is unchanged."""
    ev = read_table(spark, "events", sf_dir).where(
        F.col("user_id") % _GAPFILL_USER_MOD == 0
    )
    es = F.col("ts").cast("long")
    # consumed twice (bounds + fill join); Catalyst has no CTE reuse,
    # so stage the small hourly rollup instead of scanning the raw
    # events twice (plan-audited)
    hourly = stage(
        ev.select("user_id", (es - es % 3600).alias("hour_es"), "value")
        .groupBy("user_id", "hour_es")
        .agg(F.count(F.lit(1)).alias("n"), sum_exact("value", scale=4).alias("sv"))
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_es").alias("mn"), F.max("hour_es").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_es"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_es")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(hourly, ["user_id", "hour_es"], "left").select(
        "user_id",
        "hour_es",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.col("n").isNull().cast("bigint").alias("is_gap"),
        F.last("sv", ignorenulls=True).over(w).alias("locf_value"),
    )


# ---------------------------------------------------------------------
# ohlc_bars — open/high/low/close rollup via min_by/max_by (first/last
# per bucket WITHOUT a sort or window: one map-side-combining agg)
# ---------------------------------------------------------------------

# definition lives in oracle_shared (cycle-free) because the stream
# suite's composed oracle (query_defs4) replays it as its 'ohlc_*'
# sections — one definition, no drift, importable from any order
from books2scrape_etl_spark.oracle_shared import OHLC_SQL as _OHLC_SQL  # noqa: E402


@register("ohlc_bars", _OHLC_SQL)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type: first/last are ``min_by``/
    ``max_by`` on a composite (epoch-second, event_id) BIGINT key — a
    single hash aggregation with map-side partials, where the naive
    formulation (row_number window + filter) would shuffle every row
    twice and sort each partition. The doubles pass through untouched
    (hash-safe); the sum is exact-decimal.

    The composite key guards its own precondition in-plan: event_id
    must fit the 10^6 slot (raise_error past it — fail loudly, the r6
    advice rule, rather than silently mis-ordering ties)."""
    ev = read_table(spark, "events", sf_dir)
    es = F.col("ts").cast("long")
    key = F.when(
        F.col("event_id") < 1_000_000, es * F.lit(1_000_000) + F.col("event_id")
    ).otherwise(
        F.raise_error("ohlc_bars: event_id >= 1e6 overflows the order key slot").cast(
            "long"
        )
    )
    return (
        ev.select("event_type", "value", (es - es % 3600).alias("bucket_es"), key.alias("k"))
        .groupBy("event_type", "bucket_es")
        .agg(
            F.min_by("value", "k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "k").alias("close"),
            F.count(F.lit(1)).alias("volume"),
            sum_exact("value", scale=4).alias("turnover"),
        )
    )


# ---------------------------------------------------------------------
# rolling_active — 7-day rolling distinct users (DAU/WAU): distinct
# count over a sliding window via the hopping-window expansion trick
# (count(DISTINCT) inside a window frame is not a thing in either
# engine — expand each active day to the 7 windows it serves instead)
# ---------------------------------------------------------------------

_ROLLING_ACTIVE_SQL = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events
),
expanded AS (
  SELECT user_id, d + k AS day, k
  FROM pairs CROSS JOIN unnest([0,1,2,3,4,5,6]) AS t(k)
)
SELECT day,
       CAST(COUNT(DISTINCT CASE WHEN k = 0 THEN user_id END) AS BIGINT) AS dau,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM expanded GROUP BY day
"""


@register("rolling_active", _ROLLING_ACTIVE_SQL)
def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + trailing-7-day actives per day. A user
    active on day d counts toward windows d..d+6, so the expansion is
    7 rows per DEDUPED (user, day) pair — the shuffle carries the
    7×|pairs| expansion of the already-collapsed pairs, never 7× the
    raw events. Same aligned-expansion idea as window_hopping, applied
    to a distinct-count (which no engine supports as a window frame
    aggregate). DAU rides the SAME pass as a conditional distinct on
    the k=0 slice (plan-audited: the two-branch join formulation
    scanned and deduped the pairs twice). Trailing days past the last
    activity keep their partial windows (dau = 0 — a conditional
    distinct over an empty slice), mirrored exactly by the oracle."""
    ev = read_table(spark, "events", sf_dir)
    d = F.expr("CAST(ts AS LONG) DIV 86400")
    pairs = ev.select("user_id", d.alias("d")).distinct()
    expanded = pairs.select(
        "user_id", "d", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k")
    ).select("user_id", (F.col("d") + F.col("k")).alias("day"), "k")
    return expanded.groupBy("day").agg(
        F.countDistinct(F.when(F.col("k") == 0, F.col("user_id"))).alias("dau"),
        F.countDistinct("user_id").alias("wau"),
    )


# ---------------------------------------------------------------------
# pmi_collocations — top word-pair associations WITHOUT computing a
# logarithm: PMI = ln(p(xy)/(p(x)p(y))) is monotone in the ratio, so
# ranking by the ratio gives the identical top-k while keeping every
# operation an exact-input IEEE multiply/divide (ln is not bit-portable
# between the JVM and DuckDB — measured, COVERAGE.md round 6)
# ---------------------------------------------------------------------

_PMI_TOPK = 30
_PMI_MIN_CNT = 3

_PMI_SQL = f"""
WITH toks AS (SELECT string_split({_NORM_SQL}, ' ') AS l FROM documents),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
  FROM (SELECT unnest(l) AS w FROM toks) GROUP BY w
),
bi AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cxy
  FROM (
    SELECT l[i] AS w1, l[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(l) - 1)) AS t(i)
    WHERE len(l) >= 2
  ) GROUP BY w1, w2
),
tot AS (
  SELECT (SELECT CAST(SUM(cw) AS BIGINT) FROM uni) AS nu,
         (SELECT CAST(SUM(cxy) AS BIGINT) FROM bi) AS nb
),
scored AS (
  SELECT b.w1, b.w2, b.cxy, u1.cw AS cx, u2.cw AS cy,
         ((CAST(b.cxy AS DOUBLE) * CAST(t.nu AS DOUBLE)) * CAST(t.nu AS DOUBLE))
           / ((CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE)) * CAST(t.nb AS DOUBLE))
           AS ratio
  FROM bi b
  JOIN uni u1 ON b.w1 = u1.w
  JOIN uni u2 ON b.w2 = u2.w
  CROSS JOIN tot t
  WHERE b.cxy >= {_PMI_MIN_CNT}
)
SELECT w1, w2, cxy, cx, cy, ratio,
       CAST(row_number() OVER (ORDER BY ratio DESC, w1 ASC, w2 ASC) AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= {_PMI_TOPK}
"""


@register("pmi_collocations", _PMI_SQL)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 collocations by pointwise mutual information over
    adjacent-token bigrams (unigram marginals over the whole corpus).
    Bigrams come from zipping the token array with its own tail —
    winnowing's shifted-arrays pattern, generated inside the scan
    stage. The ratio's float tree is mirrored op-for-op in the oracle;
    counts stay exact BIGINTs until the one final scoring expression.

    Scale: two hash aggregations (unigrams, bigrams) + two equi-joins
    on token keys; corpus totals attach via 1-row broadcast. Top-k is
    TakeOrderedAndProject, never a global sort."""
    docs = read_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.split(normalize_for_fingerprint(F.col("text")), " ").alias("l")
    )
    # uni feeds three consumers (cx join, cy join, nu total) and bi two
    # (scores, nb total); stage each vocab-sized rollup — without this
    # the corpus is re-tokenized and re-aggregated per consumer
    # (plan-audited; Catalyst has no CTE reuse)
    uni = stage(
        toks.select(F.explode("l").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n = F.size("l")
    bigrams = toks.where(n >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("l", F.lit(1), n - 1),
                F.slice("l", F.lit(2), n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    )
    bi = stage(
        bigrams.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    tot = uni.agg(F.sum("cw").alias("nu")).crossJoin(
        bi.agg(F.sum("cxy").alias("nb"))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    scored = (
        bi.where(F.col("cxy") >= _PMI_MIN_CNT)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "cx"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "cy"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "cxy",
            "cx",
            "cy",
            (
                ((d("cxy") * d("nu")) * d("nu")) / ((d("cx") * d("cy")) * d("nb"))
            ).alias("ratio"),
        )
    )
    return topk_with_rank(
        scored,
        (F.col("ratio").desc(), F.col("w1").asc(), F.col("w2").asc()),
        _PMI_TOPK,
        rank_col="rnk",
    )


# ---------------------------------------------------------------------
# robust_outliers — median/MAD outlier profile per group (the robust
# twin of outlier_zscore: immune to the outliers it hunts). Spark
# percentile ≡ DuckDB quantile_cont bit-for-bit (measured, COVERAGE.md
# round 6), so the medians hash-match raw.
# ---------------------------------------------------------------------

_ROBUST_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, med, quantile_cont(adev, 0.5) AS mad,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM dev GROUP BY 1, 2
)
SELECT d.event_type, s.med, s.mad, s.n,
       CAST(SUM(CASE WHEN d.adev > 3.0 * s.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad s ON d.event_type = s.event_type
GROUP BY 1, 2, 3, 4
"""


@register("robust_outliers", _ROBUST_OUTLIERS_SQL)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outlier profile: median, MAD (median absolute
    deviation), and the count beyond 3 MADs. z-scores (outlier_zscore)
    move with the very outliers they flag; median/MAD have a 50%
    breakdown point. Three aggregation passes, each map-side-combining
    on event_type; the 1-row-per-group med/mad frames broadcast back —
    the fact table shuffles on event_type only. abs/subtract/compare
    mirror the oracle op-for-op; 3.0 and 0.5 are exact binary literals."""
    ev = read_table(spark, "events", sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.percentile("adev", 0.5).alias("mad"), F.count(F.lit(1)).alias("n")
    )
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad")), "event_type")
        .select(
            "event_type",
            F.when(F.col("adev") > F.lit(3.0) * F.col("mad"), 1)
            .otherwise(0)
            .alias("is_out"),
        )
        .groupBy("event_type")
        .agg(F.sum("is_out").cast("bigint").alias("n_outliers"))
        .join(F.broadcast(mad), "event_type")
        .select("event_type", "med", "mad", "n", "n_outliers")
    )


# ---------------------------------------------------------------------
# quantile_normalize — percent-rank feature transform (map a heavy-
# tailed feature onto [0, 1] by its within-group empirical CDF; the
# rank-based normalization feature pipelines use when min-max or
# z-scaling is outlier-fragile)
# ---------------------------------------------------------------------

_QNORM_USER_MOD = 199

_QNORM_SQL = f"""
WITH r AS (
  SELECT event_id, user_id, event_type, value,
         percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS q
  FROM events
)
SELECT event_id, event_type, value, q
FROM r WHERE user_id % {_QNORM_USER_MOD} = 0
"""


@register("quantile_normalize", _QNORM_SQL)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-CDF normalization of ``value`` within each event_type:
    percent_rank = (rank-1)/(n-1), an exact integer ratio evaluated
    identically by both engines (hash-safe without decimal detours).
    Ranks are computed over the FULL partition; the user_id filter only
    bounds the compared output (applied after the window — the rank of
    a row depends on every row in its group).

    Scale: the window partitions on event_type. For a low-cardinality
    group column at 100 TB the right physical form is a two-pass
    rank (per-partition pre-rank + offset merge, the
    surrogate_key_scale pattern); this qname pins the semantics that
    scale path must reproduce."""
    ev = read_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.percent_rank().over(w).alias("q"),
        )
        .where(F.col("user_id") % _QNORM_USER_MOD == 0)
        .select("event_id", "event_type", "value", "q")
    )


# ---------------------------------------------------------------------
# gini_diversity — behavioral diversity per user WITHOUT entropy's
# logarithm: Gini impurity 1 - Σ p_i² is the standard log-free
# diversity index, and Σ cnt_i² / total² is exact integer arithmetic
# until one final mirrored division
# ---------------------------------------------------------------------

_GINI_SQL = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
u AS (
  SELECT user_id,
         CAST(SUM(cnt) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq
  FROM c GROUP BY 1
)
SELECT user_id, n_events, n_types,
       1.0 - (CAST(sum_sq AS DOUBLE)
              / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))) AS gini
FROM u
"""


@register("gini_diversity", _GINI_SQL)
def q_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity over event types via Gini impurity
    (1 - Σp²) — the log-free diversity index, so nothing touches the
    non-bit-portable ln() that Shannon entropy would need. Counts stay
    exact BIGINTs; the single closing expression mirrors the oracle's
    float tree. Two map-side-combining aggregations, keyed finer then
    coarser on the same leading column (user_id) — AQE coalesces the
    second exchange."""
    ev = read_table(spark, "events", sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    u = c.groupBy("user_id").agg(
        F.sum("cnt").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    return u.select(
        "user_id",
        "n_events",
        "n_types",
        (F.lit(1.0) - (d("sum_sq") / (d("n_events") * d("n_events")))).alias("gini"),
    )


# ---------------------------------------------------------------------
# source_overlap — pairwise vocabulary Jaccard between corpus sources
# (the corpus-composition diagnostic before mixing: which sources are
# near-copies of each other?)
# ---------------------------------------------------------------------

_SOURCE_OVERLAP_SQL = f"""
WITH vocab AS (
  SELECT DISTINCT source, w
  FROM (SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents)
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM vocab GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.n_common, sa.nv AS nv_a, sb.nv AS nv_b,
       CAST(i.n_common AS DOUBLE)
         / CAST(sa.nv + sb.nv - i.n_common AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
"""


@register("source_overlap", _SOURCE_OVERLAP_SQL)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard for every source pair sharing ≥1 token: the
    dedup-family diagnostic at SOURCE granularity (near-copy feeds show
    up as jaccard → 1 long before row-level MinHash runs). The pair
    space materializes through a token-key equi-join of the DISTINCT
    (source, token) vocab against itself (each token contributes at
    most |sources-containing-it| pairs — never a cross product), and
    |A ∪ B| = |A| + |B| - |A ∩ B| keeps everything in the exact
    integer domain until one mirrored division. Source cardinality is
    assumed small (tens of feeds); the vocab join keys are tokens, so
    the shuffle scales with vocab size, not corpus size."""
    docs = read_table(spark, "documents", sf_dir)
    # consumed three times (sizes, both join sides); stage the
    # vocab-sized rollup rather than re-running it per consumer
    # (plan-audited; Catalyst has no CTE reuse)
    vocab = stage(
        docs.select(
            "source",
            F.explode(F.split(normalize_for_fingerprint(F.col("text")), " ")).alias("w"),
        ).distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a = vocab.select(F.col("source").alias("src_a"), "w")
    b = vocab.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("nv").alias("nv_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("nv").alias("nv_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            "nv_a",
            "nv_b",
            (
                d("n_common")
                / (F.col("nv_a") + F.col("nv_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


@register("quantile_normalize_scale", _QNORM_SQL)
def q_quantile_normalize_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed twin of quantile_normalize (SURVEY §7.4 scale-
    path family): per-group percent_rank via range partition + local
    rank + broadcast per-(partition, group) offsets
    (operators/scale.py:percent_rank_scale) instead of one-task-per-
    group windows. (value, event_id) is a total order within each
    group, so the global rank — and therefore q = (rank-1)/(n-1) — is
    bit-identical to the exact window form, and the SAME oracle SQL
    verifies both (the surrogate_key_scale/bin_quantile_scale
    pattern)."""
    from books2scrape_etl_spark.operators.scale import percent_rank_scale

    ev = read_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    ranked = percent_rank_scale(
        ev, "event_type", ["value", "event_id"], out_col="q"
    )
    return ranked.where(F.col("user_id") % _QNORM_USER_MOD == 0).select(
        "event_id", "event_type", "value", "q"
    )


# ---------------------------------------------------------------------
# feature_hashing — the hashing-trick TF vectorizer (fixed-width
# feature space without a vocabulary build or broadcast). Bucket ids
# are md5-prefix strings: md5 is the one hash both engines share
# bit-identically, and keeping the bucket as a 2-hex-char STRING
# (256 buckets) avoids any hex→int conversion parity question.
# ---------------------------------------------------------------------

_FEATHASH_DOC_MOD = 17  # bound the compared output; the transform is
# per-doc, so vectorizing a doc subset exercises the identical path

_FEATHASH_SQL = f"""
WITH t AS (
  SELECT doc_id, substr(md5(w), 1, 2) AS bucket
  FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
        FROM documents WHERE doc_id % {_FEATHASH_DOC_MOD} = 0)
)
SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf
FROM t GROUP BY doc_id, bucket
"""


@register("feature_hashing", _FEATHASH_SQL)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term-frequency features: token → md5-prefix bucket
    (256-wide feature space), counted per (doc, bucket). No vocabulary
    pass, no broadcast dictionary, no OOV concept — the property that
    makes the hashing trick THE vectorizer for unbounded vocabularies
    at corpus scale. One generator-in-scan projection + one
    map-side-combining aggregation; collisions are part of the
    contract (both engines collide identically because md5 is
    bit-portable)."""
    docs = read_table(spark, "documents", sf_dir).where(
        F.col("doc_id") % _FEATHASH_DOC_MOD == 0
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_for_fingerprint(F.col("text")), " ")).alias("w"),
    )
    return (
        toks.select("doc_id", F.substring(F.md5("w"), 1, 2).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# ---------------------------------------------------------------------
# grouped_regression — closed-form per-group OLS trend (value ~ time):
# slope/intercept from the five sufficient statistics, each an EXACT
# decimal sum, so the only float work is the final mirrored division.
# The sufficient-statistics form is also the map-side-combinable /
# mergeable form — the same five numbers aggregate hierarchically at
# any scale (partial states are just partial sums).
# ---------------------------------------------------------------------

_REG_EPOCH0 = 1_704_067_200  # 2024-01-01 UTC — centers x to keep
# decimal magnitudes small (x <= ~2.6e6 over the 30-day window)

_GROUPED_REG_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) - {_REG_EPOCH0} AS x,
         value AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sxy
  FROM e GROUP BY 1
)
SELECT event_type, n, sx, sy,
       ((CAST(n AS DOUBLE) * sxy) - (sx * sy))
         / ((CAST(n AS DOUBLE) * sxx) - (sx * sx)) AS slope,
       (sy - (((CAST(n AS DOUBLE) * sxy) - (sx * sy))
              / ((CAST(n AS DOUBLE) * sxx) - (sx * sx))) * sx)
         / CAST(n AS DOUBLE) AS intercept
FROM s
"""


@register("grouped_regression", _GROUPED_REG_SQL)
def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend of value over time from the five
    sufficient statistics (n, Σx, Σy, Σx², Σxy) — ONE aggregation
    pass, partials merge map-side, and the statistics themselves are
    exact decimal integers (x is epoch-centered to keep magnitudes in
    range). slope = (nΣxy - ΣxΣy)/(nΣx² - (Σx)²); the float tree of
    the two closing expressions mirrors the oracle op for op. The
    mergeable-sufficient-statistics shape is the sketch-family
    pattern (KMV/CMS) applied to regression."""
    ev = read_table(spark, "events", sf_dir)
    x = (F.col("ts").cast("long") - F.lit(_REG_EPOCH0)).cast("decimal(18,0)")
    y = F.col("value").cast("decimal(18,4)")
    s = (
        ev.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    slope = ((nd * F.col("sxy")) - (F.col("sx") * F.col("sy"))) / (
        (nd * F.col("sxx")) - (F.col("sx") * F.col("sx"))
    )
    return s.select(
        "event_type",
        "n",
        "sx",
        "sy",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / nd).alias("intercept"),
    )


# ---------------------------------------------------------------------
# stream_static_join — T7b: the enrichment join shape (stream × static
# dimension), value-verified against the batch join it must equal
# ---------------------------------------------------------------------

_STREAM_STATIC_SQL = f"""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {oracle_sum_exact("value", scale=4)} AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


@register("stream_static_join", _STREAM_STATIC_SQL)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7b — stream-static enrichment join over a REAL readStream
    (streaming/windows.py:streaming_static_join): events stream joins
    the static customer dimension per micro-batch (no watermark, no
    join state — the static side broadcasts), per-segment counts and
    exact-decimal sums drained availableNow. The oracle replays the
    plain batch join+group the drain must equal — batch/stream join
    parity as a hard value check, completing the join-shape matrix
    next to the stream-stream interval join (stream_join)."""
    from books2scrape_etl_spark.streaming.windows import streaming_static_join

    return streaming_static_join(spark, sf_dir)


# ---------------------------------------------------------------------
# kmeans_invariants — Lloyd's k-means as pure DataFrame aggregation,
# verified through its convergence theorem (float iteration is not
# bit-portable; the pagerank_invariants pattern)
# ---------------------------------------------------------------------

_KMEANS_SQL = """
SELECT 'inertia_monotone' AS check_name, TRUE AS ok
UNION ALL SELECT 'final_update_improves', TRUE
UNION ALL SELECT 'assignments_valid', TRUE
"""


@register("kmeans_invariants", _KMEANS_SQL)
def q_kmeans_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 4 rounds, deterministic first-k init) over
    the embeddings table — operators/cluster.py — checked through the
    algorithm's own theorems (robust to the last-ulp reduction-order
    noise that rules out value hashing):

    - inertia_monotone: each update round can only lower total
      within-cluster squared distance (Lloyd's descent property);
    - final_update_improves: re-assigning against the final centroids
      yields inertia <= the last pre-update value;
    - assignments_valid: every point lands in cluster 1..k with a
      finite non-negative dist2, and no row is lost.

    Exact blob-recovery ground truth lives in the unit tests."""
    from books2scrape_etl_spark.operators.cluster import lloyd_kmeans

    k = 8
    emb = read_table(spark, "embeddings", sf_dir)
    n_rows = emb.count()
    assigned, history, _ = lloyd_kmeans(emb, k=k, iterations=4)
    monotone = all(
        history[i + 1] <= history[i] * (1 + 1e-9) + 1e-9
        for i in range(len(history) - 1)
    )
    agg = assigned.agg(
        F.sum("dist2").alias("final_inertia"),
        F.count(F.lit(1)).alias("n"),
        F.min("cluster").alias("c_min"),
        F.max("cluster").alias("c_max"),
        F.min("dist2").alias("d_min"),
        F.max(F.isnan("dist2").cast("int")).alias("any_nan"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("inertia_monotone").alias("check_name"),
                    F.lit(monotone).alias("ok"),
                ),
                F.struct(
                    F.lit("final_update_improves").alias("check_name"),
                    (
                        F.col("final_inertia")
                        <= F.lit(history[-1]) * (1 + 1e-9) + 1e-9
                    ).alias("ok"),
                ),
                F.struct(
                    F.lit("assignments_valid").alias("check_name"),
                    (
                        (F.col("n") == F.lit(n_rows))
                        & (F.col("c_min") >= 1)
                        & (F.col("c_max") <= k)
                        & (F.col("d_min") >= 0.0)
                        & (F.col("any_nan") == 0)
                    ).alias("ok"),
                ),
            )
        ).alias("r")
    ).select("r.check_name", "r.ok")
