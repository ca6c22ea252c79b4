"""Frequency-domain operators over the token stream: Count-Min sketch,
heavy hitters, unigram-frequency quality scoring, and token-budget
corpus selection (Cormode & Muthukrishnan 2005 "An Improved Data Stream
Summary: The Count-Min Sketch and its Applications"; quality/budget
stages per the Gopher / RefinedWeb corpus-assembly recipes).

Why these four share a module: they are all "token stream -> bounded
state" reductions, the shape that survives 100 TB. The token explode is
the only wide thing here, and every operator collapses it map-side:

- **Count-Min sketch**: state is a d x w counter grid. The Spark plan
  is explode -> groupBy(seed, col) -> sum, so the shuffle moves at most
  d*w partial counters per map partition — never tokens. Merge of two
  sketches is element-wise sum (a GROUP BY), so the state is a partial
  aggregate by construction: associative, commutative, streaming-ready.
  Unlike Spark's engine-private HLL++ buffer, the state is plain rows —
  any engine agreeing on the hash rule derives the identical grid, so
  the driver value-matches the sketch itself (same trick as the KMV
  sketch in :mod:`operators.sketch`).
- **Heavy hitters**: CMS point estimate (min over the d counters for a
  token) vs the exact count. The CMS guarantee est >= exact always
  holds (counters only over-count), and est <= exact + eps*N with
  probability 1-delta — both surfaced as columns so the bound is
  driver-checkable, not asserted.
- **Unigram quality score**: corpus vocabulary (count >= min_count,
  the standard vocab cutoff) broadcast-joined to each document's
  tokens -> per-doc (n_tokens, n_oov, sum_tf, avg_tf). This is the
  engine-portable integer-arithmetic twin of perplexity-based quality
  filtering: avg log-prob ranks documents identically to avg term
  frequency under a unigram model with a fixed denominator, and the
  integer form is bit-reproducible across engines (log() is the one
  libm call DuckDB and the JVM may round differently at the last ulp).
- **Token budget**: deterministic corpus assembly — order documents
  inside each language by the md5 permutation and keep documents while
  the running token total is inside the per-language budget (the
  crossing document is kept: "fill until reached"). Cumulative sum is
  a per-language window — parallelism = languages, state = one long
  per row; the hot-stratum variant would pre-aggregate per bucket.

Hash rule: :func:`operators.sketch.portable_hash32` (first 8 md5 hex
digits as bigint) with the seed mixed into the key string — portable to
any engine with md5, unlike xxhash64/crc32 whose seeds are
engine-private.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import stage
from books2scrape_etl_spark.operators.sketch import portable_hash32
from books2scrape_etl_spark.operators.text import normalize_for_fingerprint


def tokens_of(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, token) — one row per token occurrence, normalized the
    same way fingerprinting normalizes (lowercase, alnum runs). The
    empty document yields no rows (split of '' gives [''], filtered)."""
    toks = F.split(normalize_for_fingerprint(F.col(text_col)), r" ")
    return (
        docs.select(F.col("doc_id"), F.explode(toks).alias("token"))
        .where(F.col("token") != "")
    )


def cms_col(token: Column, seed: int, width: int) -> Column:
    """Counter column for ``token`` under hash row ``seed``: portable
    md5 hash of '<seed>:<token>' mod width."""
    return (
        portable_hash32(F.concat(F.lit(f"{seed}:"), token)) % F.lit(width)
    ).cast("bigint")


def cms_state(
    tokens: DataFrame, depth: int = 4, width: int = 64, token_col: str = "token"
) -> DataFrame:
    """Count-Min sketch state: (seed, col, cnt), one row per non-empty
    counter. depth*width bounds the state regardless of input size; the
    per-seed fan-out happens inside the map stage (posexplode of the d
    hash columns), so partial aggregation reduces every map partition
    to <= d*w rows before the shuffle."""
    hash_cols = F.array(
        *[cms_col(F.col(token_col), s, width) for s in range(depth)]
    )
    return (
        tokens.select(F.posexplode(hash_cols).alias("seed", "col"))
        .groupBy("seed", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    tokens: DataFrame,
    probe: DataFrame,
    depth: int = 4,
    width: int = 64,
    token_col: str = "token",
) -> DataFrame:
    """CMS point estimates for the tokens in ``probe`` (one column
    ``token``): est = min over the d counters the token hashes to.

    Returns (token, cms_est) — join ``probe``'s hash cells against the
    state grid (d rows per probe token, a broadcast-able join for any
    reasonable probe set) and take the min per token.
    """
    state = cms_state(tokens, depth, width, token_col)
    cells = probe.select(
        "token",
        F.posexplode(
            F.array(*[cms_col(F.col("token"), s, width) for s in range(depth)])
        ).alias("seed", "col"),
    )
    return (
        cells.join(F.broadcast(state), ["seed", "col"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def heavy_hitters(
    docs: DataFrame,
    min_share: float = 0.005,
    depth: int = 4,
    width: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Tokens whose exact corpus count >= min_share * total tokens,
    with their CMS estimate and the one-sided bound check.

    (token, exact_cnt, cms_est, bound_ok): bound_ok is the CMS
    never-undercount guarantee — a FALSE here means the sketch is
    broken, so it is exposed as data rather than asserted in a test.
    The exact pass shares the token stream with the sketch pass; both
    collapse map-side (groupBy token / groupBy cell).

    The share threshold is compared in exact integer arithmetic:
    min_share is reduced to a rational num/den and the cut is
    ``exact_cnt * den >= total * num`` (both BIGINT). Computing
    ``total * 0.02`` in IEEE double while an oracle computes it in
    DECIMAL flips membership for counts landing exactly on the
    boundary — the same boundary-parity bug class as tpch_q2's
    HALF_UP rounding (ADVICE r5).
    """
    from fractions import Fraction

    fr = Fraction(min_share).limit_denominator(1_000_000)
    # min_share must survive rationalization (ADVICE r6): a share below
    # ~1/2e6 collapses to 0/1 — every token becomes a heavy hitter —
    # and a non-representable share silently cuts at a different
    # boundary than the caller asked for. Fail loudly on the zero case
    # and on any drift beyond one part per million of the requested
    # share; callers needing finer thresholds should pass an exactly
    # representable rational (e.g. 1/50 = 0.02).
    # (an explicit min_share=0.0 stays legal — "keep every token" is a
    # deliberate calibration mode the unit tests use)
    if fr.numerator == 0 and min_share > 0:
        raise ValueError(
            f"min_share={min_share!r} rationalizes to 0 within "
            "limit_denominator(1_000_000); every token would qualify"
        )
    if min_share > 0 and abs(float(fr) - min_share) > min_share * 1e-6:
        raise ValueError(
            f"min_share={min_share!r} is not representable within "
            f"limit_denominator(1_000_000) (got {fr}); pass an exact "
            "rational like 0.02 == 1/50"
        )
    toks = stage(tokens_of(docs, text_col))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    total = counts.agg(F.sum("exact_cnt").alias("total"))
    hot = counts.join(
        F.broadcast(total),
        F.col("exact_cnt") * F.lit(fr.denominator)
        >= F.col("total") * F.lit(fr.numerator),
    ).select("token", "exact_cnt")
    est = cms_estimate(toks, hot.select("token"), depth, width)
    return (
        hot.join(est, "token")
        .select(
            "token",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("bound_ok"),
        )
    )


def unigram_quality(
    docs: DataFrame, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Per-document unigram-frequency quality score.

    (doc_id, n_tokens, n_oov, sum_tf, avg_tf): vocabulary = tokens with
    corpus count >= min_count; n_oov counts out-of-vocabulary token
    occurrences; sum_tf sums the corpus counts of in-vocab occurrences;
    avg_tf = sum_tf / n_tokens (one IEEE division — reproducible).
    Documents whose normalized text is empty score (0, 0, 0, NULL).

    Plan: one token explode feeds both the vocab aggregation and the
    per-doc join; the vocab (<= |distinct tokens| rows, collapsed
    map-side) broadcasts, so the per-doc side never shuffles tokens —
    only the final per-doc aggregate does, carrying 4 longs per doc.
    """
    toks = stage(tokens_of(docs, text_col))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .where(F.col("tf") >= min_count)
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("tf").isNull(), 1)).alias("n_oov"),
            F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_tf"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.coalesce("sum_tf", F.lit(0)).alias("sum_tf"),
            (
                F.col("sum_tf").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("avg_tf"),
        )
    )


def token_budget_select(
    docs: DataFrame,
    budget: int,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic per-language token-budget selection.

    Orders documents inside each language by the md5 permutation
    (hash, doc_id tiebreak), accumulates whitespace-token counts, and
    keeps documents whose running total STARTS inside the budget — the
    document that crosses the boundary is kept, later ones are not
    ("fill until reached", so the budget is met, not undershot).

    Returns (doc_id, lang, n_tok, cum_tok). The window is partitioned
    by language — state is one running long, parallelism = languages;
    at extreme per-language cardinality the two-phase form (per-bucket
    subtotals -> broadcast offsets, same shape as the distributed
    surrogate-key operator in :mod:`operators.scale`) replaces the
    single window without changing the selection.
    """
    h = portable_hash32(F.col("doc_id")).alias("h")
    toks = F.split(normalize_for_fingerprint(F.col(text_col)), r" ")
    n_tok = F.size(F.filter(toks, lambda t: t != "")).cast("bigint").alias("n_tok")
    staged = docs.select("doc_id", F.col(lang_col).alias("lang"), h, n_tok)
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        staged.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") - F.col("n_tok") < F.lit(budget))
        .select("doc_id", "lang", "n_tok", "cum_tok")
    )
