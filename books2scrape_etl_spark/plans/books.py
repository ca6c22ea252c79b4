"""The full books ETL transform, Spark-first (SURVEY.md §3.2 analogue).

Reproduces the semantics of transformation_pipeline.py:28-123 end to
end on a ``books_raw`` DataFrame (schema: io.BOOKS_RAW_SCHEMA — the
exact columns the reference scraper emits, extract_pipeline.py:36-51):

clean (P1/P2/P4/P5) -> derive (P3) -> bin (B1/B2) -> dims (D1-D3) ->
fact (J1-J4) -> summary (A1-A5).

Two frames are staged (``functions.util.stage``): the parsed input
and the tiered, cleaned frame. Everything downstream reads them: the
two budget probes, the dims' grouping-sets build, the fact's broadcast joins and
the summary report. Left lazy, each of those consumers would re-scan
the source and re-run its Python HTML parser and the global ``ntile``
sort; staged, the pages are parsed once, by the first budget probe,
while the plans are built. The reference materializes 7 CSVs and every
intermediate in RAM (SURVEY.md §4.1); ours caches those two frames and
the star's grouping-sets table, nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from books2scrape_etl_spark.functions.columns import (
    clean_currency,
    clean_description_full,
    inventory_value,
    to_binary_flag,
)
from books2scrape_etl_spark.functions.util import stage
from books2scrape_etl_spark.operators.binning import bin_fixed, bin_quantile
from books2scrape_etl_spark.plans.star import build_star

STOCK_EDGES = (0, 10, 18, 100000)
STOCK_LABELS = ("Critical", "Low", "Healthy")
PRICE_LABELS = ("Budget", "Standard", "Premium")

PRICE_EXCL = "Price (excl. tax)"
PRICE_INCL = "Price (incl. tax)"

DIM_SPECS = {
    "dim_book": (
        ["Title", "Description", "UPC", "Product Type", "Image_link"],
        "book_id",
    ),
    "dim_category": (["Category"], "category_id"),
    "dim_price_tier": (["Price_Tier"], "price_tier_id"),
    "dim_stock_tier": (["Stock_Bin"], "stock_tier_id"),
}

FACT_MEASURES = [
    "Rating",
    PRICE_EXCL,
    PRICE_INCL,
    "Tax",
    "No_of_books_in_Stock",
    "Inventory Value",
    "Number of reviews",
    "In_Stock_Binary",
]


def clean_books(raw: DataFrame) -> DataFrame:
    """transformation_pipeline.py:40-63 analogue, one lazy projection."""
    df = (
        raw.withColumn(PRICE_EXCL, clean_currency(PRICE_EXCL))  # P1 (:43)
        .withColumn(PRICE_INCL, clean_currency(PRICE_INCL))  # P1 (:44)
        .withColumn("Tax", clean_currency("Tax"))  # P1 (:45)
        .withColumn("Description", clean_description_full("Description"))  # P2 (:48)
        .withColumn(
            "Inventory Value", inventory_value(PRICE_EXCL, "No_of_books_in_Stock")
        )  # P3 (:51)
        .withColumn("In_Stock_Binary", to_binary_flag("Is_in_Stock"))  # P4 (:54)
        .drop("Is_in_Stock")  # P5 (:55)
        .withColumn(
            "Stock_Bin", bin_fixed("No_of_books_in_Stock", STOCK_EDGES, STOCK_LABELS)
        )  # B1 (:58-60)
    )
    # B2 (:63) — ntile tiers with deterministic UPC tiebreak, through
    # the budget dispatcher (the window below 10M rows, ntile_scale
    # above; the same tiers either way)
    return bin_quantile(
        df, PRICE_EXCL, PRICE_LABELS, out_col="Price_Tier", tiebreak=("UPC",)
    )


def build_books_star(cleaned: DataFrame) -> tuple[dict[str, DataFrame], DataFrame]:
    """transformation_pipeline.py:72-118 analogue.

    dim_stock_tier joins null-safe (J4): pd.cut emits null bins and
    pandas merge matches NaN == NaN (:99,:60).
    """
    return build_star(
        cleaned,
        DIM_SPECS,
        FACT_MEASURES,
        null_safe_dims=("dim_stock_tier",),
    )


def transform_books(raw: DataFrame) -> tuple[DataFrame, dict[str, DataFrame], DataFrame]:
    """Full transform: returns (cleaned, dims, fact) — the reference's
    6-output contract (transformation_pipeline.py:123) minus the CSV
    side effects, which callers attach via io.write_csv/write_parquet.

    ``raw`` and the cleaned frame are staged, so the dims, the fact and
    a report on ``cleaned`` read cached rows instead of re-parsing."""
    cleaned = stage(clean_books(stage(raw)))
    dims, fact = build_books_star(cleaned)
    return cleaned, dims, fact
