"""Golden-output tests for the books ETL transform on the boundary
fixture (FIXTURES.md §A invariants)."""

import shutil
from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from books2scrape_etl_spark import io
from books2scrape_etl_spark.functions import util
from books2scrape_etl_spark.operators import scale
from books2scrape_etl_spark.operators.scale import ntile_scale
from books2scrape_etl_spark.plans.books import (
    DIM_SPECS,
    PRICE_EXCL,
    clean_books,
    transform_books,
)
from books2scrape_etl_spark.plans.report import SUMMARY_KEYS, run_report, summary_aggregates
from books2scrape_etl_spark.sources.fixtures_html import DETAIL_PAGES
from books2scrape_etl_spark.sources.scrape import html_source, parse_books
from tests.fixtures import BOOKS_RAW_ROWS, books_raw_df


@pytest.fixture(scope="module")
def cleaned(spark):
    df = clean_books(books_raw_df(spark))
    df.cache()
    return df


def test_currency_cleaned(cleaned):
    rows = {r["Title"]: r for r in cleaned.collect()}
    assert rows["edge0"][PRICE_EXCL] == 10.0
    assert rows["plain-price"][PRICE_EXCL] == 23.88
    assert rows["pound-sign"][PRICE_EXCL] == 10.0
    # Tax 'Â£0.00' -> 0.0 everywhere
    assert all(r["Tax"] == 0.0 for r in rows.values())


def test_description_cleaned(cleaned):
    rows = {r["Title"]: r for r in cleaned.collect()}
    assert rows["suffix"]["Description"] == "Great story"  # ' ...more' stripped
    assert rows["nodesc"]["Description"] == ""  # null -> ''
    # cp1252 mojibake 'â€™' -> right single quote (reference round trip)
    assert rows["mojibake"]["Description"] == "It’s good"


def test_stock_bins_half_open(cleaned):
    rows = {r["Title"]: r["Stock_Bin"] for r in cleaned.collect()}
    assert rows["edge0"] == "Critical"
    assert rows["edge9"] == "Critical"
    assert rows["edge10"] == "Low"  # right=False: 10 goes UP
    assert rows["edge17"] == "Low"
    assert rows["edge18"] == "Healthy"  # 18 goes UP
    assert rows["edge19"] == "Healthy"
    assert rows["edge100000"] is None  # out of range -> null


def test_binary_flag_and_inventory(cleaned):
    rows = {r["Title"]: r for r in cleaned.collect()}
    assert rows["oos"]["In_Stock_Binary"] == 0
    assert rows["edge10"]["In_Stock_Binary"] == 1
    assert rows["edge10"]["Inventory Value"] == pytest.approx(200.0)
    assert "Is_in_Stock" not in cleaned.columns  # P5 drop


def test_price_tiers_balanced(cleaned):
    tiers = [r["Price_Tier"] for r in cleaned.collect()]
    assert set(tiers) == {"Budget", "Standard", "Premium"}
    n = len(tiers)
    for t in ("Budget", "Standard", "Premium"):
        assert abs(tiers.count(t) - n / 3) <= 1  # ntile balance


def test_star_schema_invariants(spark):
    raw = books_raw_df(spark)
    cleaned, dims, fact = transform_books(raw)
    n_cleaned = cleaned.count()
    # fact <-> dim round trip lossless (J1-J4 incl. null-key rows)
    assert fact.count() == n_cleaned
    for name, (natural_key, id_col) in DIM_SPECS.items():
        dim = dims[name]
        ids = [r[id_col] for r in dim.select(id_col).collect()]
        # surrogate keys dense, unique, 1-based (D3)
        assert sorted(ids) == list(range(1, len(ids) + 1)), name
        # distinct: dim rows == distinct natural keys (D1/D2)
        assert dim.count() == cleaned.select(*natural_key).distinct().count(), name
        # referential integrity: every fact id exists in the dim
        unmatched = fact.join(dim, on=id_col, how="left_anti").count()
        assert unmatched == 0, name
    # duplicate full rows collapsed in dim_book but kept in fact
    dup_rows = fact.count() - fact.dropDuplicates().count()
    assert dup_rows >= 1  # the two identical 'dup' rows


def test_summary_aggregates(spark):
    raw = books_raw_df(spark)
    cleaned, dims, fact = transform_books(raw)
    row = summary_aggregates(cleaned).collect()[0].asDict()
    assert set(row) == set(SUMMARY_KEYS)
    assert row["total_books"] == len(BOOKS_RAW_ROWS)
    assert row["total_categories"] == 4  # Fiction, Travel, Poetry, History
    n_in_stock = sum(1 for r in BOOKS_RAW_ROWS if r[4])
    assert row["books_in_stock"] == n_in_stock
    expect_avg = sum(r[6] for r in BOOKS_RAW_ROWS) / len(BOOKS_RAW_ROWS)
    assert row["avg_rating"] == pytest.approx(expect_avg)


def test_clean_currency_idempotent(spark):
    from books2scrape_etl_spark.functions.columns import clean_currency

    df = books_raw_df(spark).select(clean_currency(PRICE_EXCL).alias("once"))
    twice = df.select(clean_currency(F.col("once")).alias("twice"))
    assert [r["twice"] for r in twice.collect()] == [r["once"] for r in df.collect()]


def _write_pages(spark, tmp_path):
    """The fixture pages as a parquet table on disk, the shape of a
    scheduled run (scrape to files, then parse)."""
    pages = tmp_path / "pages"
    html_source(spark, DETAIL_PAGES).write.parquet(str(pages / "books_html.parquet"))
    return pages


def _parsed_pages(spark, pages):
    return parse_books(io.read_table(spark, "books_html", str(pages)))


def test_transform_parses_pages_once(spark, tmp_path, monkeypatch):
    """After transform_books returns, every output reads staged rows:
    with the pages gone, the dim and fact writes and the report still
    succeed with the fixture's golden summary. A lazy transform would
    re-scan the pages here and fail on the missing files."""
    monkeypatch.delenv("SMTP_HOST", raising=False)
    pages = _write_pages(spark, tmp_path)
    cleaned, dims, fact = transform_books(_parsed_pages(spark, pages))
    shutil.rmtree(pages)

    for name, df in [*dims.items(), ("fact_book_inventory", fact)]:
        io.write_parquet(df, str(tmp_path / "out" / name))
    assert spark.read.parquet(str(tmp_path / "out" / "fact_book_inventory")).count() == 3
    summary = run_report(cleaned)
    assert summary["total_books"] == 3
    assert summary["total_categories"] == 3
    assert float(summary["total_inventory_value"]) == pytest.approx(2364.04)
    assert float(summary["avg_rating"]) == pytest.approx(3.0)
    assert summary["books_in_stock"] == 3


def test_transform_staging_footprint(spark, tmp_path):
    """One transform_books run stages exactly three frames (parsed,
    tiered, the star's grouping-sets table); a rerun on the same input
    replaces those three instead of adding more."""
    pages = _write_pages(spark, tmp_path)
    before = set(util._STAGED)
    raw = _parsed_pages(spark, pages)
    cleaned, _, _ = transform_books(raw)
    added = [k for k in util._STAGED if k not in before]
    assert len(added) == 3
    assert added[:2] == [raw.semanticHash(), cleaned.semanticHash()]

    staged = set(util._STAGED)
    cleaned2, _, _ = transform_books(_parsed_pages(spark, pages))
    assert set(util._STAGED) == staged
    assert list(util._STAGED)[-3:] == added
    assert util._STAGED[added[1]] is cleaned2  # the rerun's frame replaced the first


def test_transform_over_exact_sort_budget(spark, tmp_path, monkeypatch):
    """Above the exact-sort budget the tiers come from ntile_scale and
    the dims take the bucketed surrogate keys, both over the
    reference's dotted column names. The whole run succeeds, and the
    report, all four dims and the fact equal the under-budget (golden)
    run's: no value depends on the input's size."""
    monkeypatch.delenv("SMTP_HOST", raising=False)
    raw = books_raw_df(spark)
    golden_cleaned, golden_dims, golden_fact = transform_books(raw)
    golden = run_report(golden_cleaned)
    golden_rows = {
        name: golden_dims[name].orderBy(DIM_SPECS[name][1]).collect() for name in DIM_SPECS
    }
    golden_fact_rows = Counter(golden_fact.collect())

    monkeypatch.setattr(scale, "EXACT_SORT_BUDGET", 0)
    cleaned, dims, fact = transform_books(raw)
    for name, df in [*dims.items(), ("fact_book_inventory", fact)]:
        io.write_parquet(df, str(tmp_path / name))
    summary = run_report(cleaned)

    assert summary == golden
    for name in DIM_SPECS:
        landed = spark.read.parquet(str(tmp_path / name))
        assert landed.orderBy(DIM_SPECS[name][1]).collect() == golden_rows[name], name
    fact_rows = Counter(spark.read.parquet(str(tmp_path / "fact_book_inventory")).collect())
    assert sum(fact_rows.values()) == len(BOOKS_RAW_ROWS)
    assert fact_rows == golden_fact_rows


def test_ntile_scale_dotted_column(cleaned):
    """The bucketed ntile resolves a dotted order column and equals the
    exact window form."""
    order = [PRICE_EXCL, "UPC"]
    scaled = ntile_scale(cleaned, order, 3, out_col="t", num_partitions=4)
    w = Window.orderBy(*[util.to_col(c).asc_nulls_first() for c in order])
    exact = cleaned.withColumn("t", F.ntile(3).over(w))

    def tiles(df):
        return Counter(tuple(r) for r in df.select(util.to_col(PRICE_EXCL), "UPC", "t").collect())

    assert tiles(scaled) == tiles(exact)
