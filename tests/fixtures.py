"""books_raw fixture (FIXTURES.md §A) — boundary rows for the cleaning,
binning and star-schema golden tests."""

from __future__ import annotations

import uuid

from books2scrape_etl_spark.io import BOOKS_RAW_SCHEMA


def jobs_started(spark, fn):
    """``fn()``'s result and the Spark jobs it started on this thread."""
    sc = spark.sparkContext
    group = f"jobs_started_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return out, len(jobs)


def _row(
    title,
    stock,
    price_excl,
    rating=3,
    category="Fiction",
    description="A fine book.",
    in_stock=True,
    upc=None,
    price_incl=None,
    tax="Â£0.00",
    reviews="5",
):
    return (
        title,
        description,
        category,
        f"http://books.toscrape.com/media/{title}.jpg",
        in_stock,
        stock,
        rating,
        upc or f"UPC-{title}",
        "books",
        price_excl,
        price_incl or price_excl,
        tax,
        reviews,
    )


BOOKS_RAW_ROWS = [
    # bin-edge stock values for pd.cut(right=False) parity: 0,9 -> Critical;
    # 10,17 -> Low; 18,19 -> Healthy; 100000 -> out of range -> null bin
    _row("edge0", 0, "Â£10.00"),
    _row("edge9", 9, "Â£11.50"),
    _row("edge10", 10, "Â£20.00"),
    _row("edge17", 17, "Â£25.00"),
    _row("edge18", 18, "Â£30.00"),
    _row("edge19", 19, "Â£35.00"),
    _row("edge100000", 100000, "Â£99.99"),  # null Stock_Bin -> J4 null-safe join
    # currency dirt variants
    _row("plain-price", 5, "23.88"),
    _row("pound-sign", 5, "£10.00"),
    # description dirt
    _row("suffix", 5, "Â£12.00", description="Great story ...more"),
    _row("mojibake", 5, "Â£13.00", description="Itâ€™s good"),
    _row("nodesc", 5, "Â£14.00", description=None),
    # duplicate full natural key (D1 distinct must collapse)
    _row("dup", 5, "Â£15.00", upc="UPC-dup"),
    _row("dup", 5, "Â£15.00", upc="UPC-dup"),
    # same natural key, different measures (distinct keeps one dim row)
    _row("dup2", 6, "Â£16.00", upc="UPC-dup2"),
    _row("dup2", 7, "Â£16.50", upc="UPC-dup2"),
    # not in stock (P4 -> 0), rating 0 (unmapped word case)
    _row("oos", 3, "Â£17.00", in_stock=False, rating=0),
    # tercile tie cluster (B2 qcut-vs-ntile tiebreak)
    _row("tieA", 5, "Â£50.00", upc="UPC-tieA"),
    _row("tieB", 5, "Â£50.00", upc="UPC-tieB"),
    _row("tieC", 5, "Â£50.00", upc="UPC-tieC"),
    # more categories for COUNT DISTINCT
    _row("travel1", 4, "Â£40.00", category="Travel"),
    _row("poetry1", 2, "Â£41.00", category="Poetry"),
    _row("poetry2", 12, "Â£42.00", category="Poetry", rating=5),
    _row("hist1", 22, "Â£43.00", category="History", rating=1),
    _row("hist2", 8, "Â£44.00", category="History", rating=4),
]


def books_raw_df(spark):
    return spark.createDataFrame(BOOKS_RAW_ROWS, BOOKS_RAW_SCHEMA)
