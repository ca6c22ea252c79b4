"""Round-8 packing-suite tests: a suite section is value-identical to
its single run through the same slot normalization (the per-suite
width and row-count checks run over every suite in tests/test_suites.py).
Also pins the udtf_sentences invariant conversion (both checks 1)."""

from pyspark.sql import functions as F

from books2scrape_etl_spark.queries import QUERIES
from books2scrape_etl_spark.suites import SUITES, sect_df as _sect_df


def test_suite_section_values_identical(spark, sf_dir):
    """A suite section must be bit-identical to the single run through
    the same slot normalization: wave22_suite's hhi section,
    tpch_suite's Q1 (count and seven measures fanned out to slots of one
    row per group) and sources_suite's parse section (quoted source
    names such as ``Price (excl. tax)``)."""
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    for suite, name in [
        ("wave22_suite", "hhi_by_segment"),
        ("tpch_suite", "tpch_q1"),
        ("sources_suite", "parse_struct_expand"),
    ]:
        width, sections = SUITES[suite]
        got = QUERIES[suite](spark, sf_dir).where(F.col("sec") == name).collect()
        want = _sect_df(spark, sf_dir, name, width, sections[name]).collect()
        assert want, (suite, name)
        assert sorted(map(key, got)) == sorted(map(key, want)), (suite, name)


def test_udtf_sentences_invariants(spark, sf_dir):
    rows = {r["check_name"]: r["ok"] for r in QUERIES["udtf_sentences"](spark, sf_dir).collect()}
    assert rows == {"rowcount_match": 1, "symmetric_diff_zero": 1}
