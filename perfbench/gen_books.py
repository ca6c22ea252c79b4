"""Seeded books.toscrape.com detail pages for the ``books_etl`` workload.

Pages follow the markup of ``sources/fixtures_html.py`` (breadcrumb,
star-rating class, product-information table) and cover the dirt the
reference pipeline cleans: mojibake ``Â£`` and bare ``£`` prices,
missing and ``...more``-suffixed descriptions, out-of-stock rows and an
unmapped rating word. ``expected_summary`` is the ground truth for
``plans.report.run_report`` over the parsed pages, derived from the
generated field values, not from the pages.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = (
    "Travel", "Mystery", "Historical Fiction", "Sequential Art", "Classics",
    "Philosophy", "Romance", "Womens Fiction", "Fiction", "Childrens",
    "Religion", "Nonfiction", "Music", "Default", "Science Fiction",
    "Sports and Games", "Fantasy", "New Adult", "Young Adult", "Science",
    "Poetry", "Paranormal", "Art", "Psychology", "Autobiography", "Parenting",
    "Adult Fiction", "Humor", "Horror", "History", "Food and Drink",
    "Christian Fiction", "Business", "Biography", "Thriller", "Contemporary",
    "Spirituality", "Academic", "Self Help", "Historical", "Christian",
    "Suspense", "Short Stories", "Novels", "Health", "Politics", "Cultural",
    "Erotica", "Crime", "Cookbooks",
)
RATINGS = {"Zero": 0, "One": 1, "Two": 2, "Three": 3, "Four": 4, "Five": 5}
TITLE_WORDS = (
    "light attic velvet night river garden secret house shadow winter city "
    "song stone letter summer road dream fire storm island"
).split()
CURRENCY = ("Â£", "Â£", "Â£", "£", "")
STOCK_CHOICES = (0, 1, 3, 9, 10, 12, 17, 18, 19, 20, 22)


def detail_page(title, category, rating_word, price, stock, desc, upc, reviews, currency):
    """One detail page in ``sources.fixtures_html`` shape; ``stock`` None
    renders the out-of-stock availability text."""
    desc_html = (
        '<div id="product_description" class="sub-header"><h2>Product Description</h2></div>'
        f"<p>{desc}</p>"
        if desc is not None
        else ""
    )
    availability = "Out of stock" if stock is None else f"In stock ({stock} available)"
    return f"""<!DOCTYPE html><html><body>
<ul class="breadcrumb">
  <li><a href="../index.html">Home</a></li>
  <li><a href="../category/books_1/index.html">Books</a></li>
  <li><a href="../category/books/{category.lower().replace(' ', '-')}_2/index.html">{category}</a></li>
  <li class="active">{title}</li>
</ul>
<article class="product_page">
  <div class="item active"><img src="../../media/cache/{upc}.jpg" alt="{title}"></div>
  <p class="star-rating {rating_word}"><i class="icon-star"></i></p>
  <div class="col-sm-6 product_main"><h1>{title}</h1></div>
  {desc_html}
  <table class="table table-striped">
    <tr><th>UPC</th><td>{upc}</td></tr>
    <tr><th>Product Type</th><td>Books</td></tr>
    <tr><th>Price (excl. tax)</th><td>{currency}{price}</td></tr>
    <tr><th>Price (incl. tax)</th><td>{currency}{price}</td></tr>
    <tr><th>Tax</th><td>Â£0.00</td></tr>
    <tr><th>Availability</th><td>{availability}</td></tr>
    <tr><th>Number of reviews</th><td>{reviews}</td></tr>
  </table>
</article>
</body></html>"""


def generate(seed: int, n_pages: int) -> tuple[pa.Table, dict]:
    """(url, html) rows and the summary ``run_report`` must return."""
    rng = np.random.default_rng([seed, 7])
    words = np.asarray(TITLE_WORDS, dtype=object)
    rating_words = list(RATINGS)
    urls, pages = [], []
    categories: set[str] = set()
    inventory = Decimal(0)
    rating_sum = in_stock = 0
    for i in range(n_pages):
        title = " ".join(words[rng.integers(0, len(words), int(rng.integers(2, 6)))]).title()
        category = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        # "Zero" is outside the reference's rating map, so it parses to 0
        rating_word = rating_words[int(rng.integers(0 if rng.random() < 0.02 else 1, 6))]
        cents = int(rng.integers(1000, 6000))
        price = f"{cents // 100}.{cents % 100:02d}"
        stock = None if rng.random() < 0.15 else STOCK_CHOICES[int(rng.integers(0, len(STOCK_CHOICES)))]
        kind = rng.random()
        if kind < 0.2:
            desc = None
        elif kind < 0.35:
            desc = f"Itâ€™s a story about {title.lower()} ...more"
        else:
            desc = f"A {category.lower()} book about {title.lower()}."
        upc = f"{seed & 0xFFFF:04x}{i:012x}"
        currency = CURRENCY[int(rng.integers(0, len(CURRENCY)))]
        reviews = int(rng.integers(0, 11))
        urls.append(f"http://books.toscrape.com/catalogue/book_{i}/index.html")
        pages.append(detail_page(title, category, rating_word, price, stock, desc, upc, reviews, currency))
        categories.add(category)
        value = float(price) * (stock or 0)
        inventory += Decimal(repr(value)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        rating_sum += RATINGS[rating_word]
        in_stock += stock is not None
    expected = {
        "total_books": n_pages,
        "total_categories": len(categories),
        "total_inventory_value": float(inventory),
        "avg_rating": float(rating_sum) / n_pages,
        "books_in_stock": in_stock,
    }
    return pa.table({"url": urls, "html": pages}), expected


def ensure_pages(cache_dir: str, seed: int, n_pages: int) -> tuple[str, dict, float]:
    """Write (or reuse) the pages as one parquet table ``books_html`` in
    a directory keyed by seed, page count and this file's content;
    returns (directory, expected summary, generation seconds, 0 on a
    cache hit). Row groups of 1/16 of the pages let the scan split
    across cores."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(cache_dir, f"books-{digest}-p{n_pages}-s{seed}")
    if os.path.isdir(out):
        with open(os.path.join(out, "expected.json")) as f:
            return out, json.load(f), 0.0
    t0 = time.perf_counter()
    table, expected = generate(seed, n_pages)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        table,
        os.path.join(tmp, "books_html.parquet"),
        row_group_size=math.ceil(n_pages / 16),
        compression="snappy",
    )
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    os.rename(tmp, out)
    return out, expected, time.perf_counter() - t0
