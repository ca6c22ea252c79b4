"""qname definitions — every driver-checkable query from SURVEY.md §2.

Each function composes operators from the engine library; the paired
DuckDB oracle SQL states identical semantics in ANSI SQL. Conventions
that keep the differential check exact (see functions/agg.py and
.claude/skills/verify/SKILL.md):

- every computed column aliased identically on both sides;
- double SUM/AVG via exact-decimal casts (order-independent);
- integer SUMs in the oracle cast to BIGINT (DuckDB returns HUGEINT);
- timestamps never cross the boundary raw: epoch longs or y/m ints,
  with the session timezone pinned to UTC inside TZ-sensitive fns;
- regexes restricted to the Java-regex ∩ RE2 common subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.agg import (
    avg_exact,
    oracle_avg_exact,
    oracle_sum_exact,
    sum_exact,
)
from books2scrape_etl_spark.functions.columns import (
    clean_currency,
    clean_description_suffix,
    coalesce_default,
    extract_available_int,
    in_stock_flag,
    rating_ordinal,
    rewrite_relative_url,
)
from books2scrape_etl_spark.functions.util import land_once, stage
from books2scrape_etl_spark.io import TESTDATA_SCHEMAS, read_table
from books2scrape_etl_spark.operators import dedupe, multimodal, similarity, text
from books2scrape_etl_spark.operators.binning import bin_fixed, bin_quantile_exact
from books2scrape_etl_spark.plans.flagship import FLAGSHIP_ORACLE, flagship
from books2scrape_etl_spark.plans.star import build_dim, join_dim
from books2scrape_etl_spark.registry import register
from books2scrape_etl_spark.streaming import windows as stream_ops


def _utc(spark: SparkSession) -> None:
    """Pin the session timezone for TZ-sensitive expressions. The
    driver's session is not ours (vanilla config), so every query whose
    semantics touch timestamp *fields* sets this explicitly."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# =====================================================================
# §2.1 scans / sources
# =====================================================================

register("flagship", FLAGSHIP_ORACLE)(flagship)


@register(
    "range_source",
    """
    SELECT CAST(i AS BIGINT) AS page_no,
           'http://books.toscrape.com/catalogue/page-' || i || '.html' AS url
    FROM range(1, 51) t(i)
    """,
)
def range_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — spark.range as a partitioned URL-frontier source
    (extract_pipeline.py:81-83 analogue)."""
    from books2scrape_etl_spark.sources.scrape import page_range

    return page_range(spark, 50).select(F.col("page_no"), F.col("url"))


@register(
    "scan_parquet",
    "SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_size < 25",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — parquet scan; the filter and 3-column projection reach the
    scan node (PushedFilters / ReadSchema in .explain)."""
    return (
        read_table(spark, "part", sf_dir)
        .where(F.col("p_size") < 25)
        .select("p_partkey", "p_name", "p_retailprice")
    )


@register("scan_csv", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — CSV scan with an explicit schema (no inference pass), after
    an S5 CSV-sink round trip (extract_pipeline.py:89 /
    transformation_pipeline.py:40 analogue), landed through
    ``land_once``."""
    from books2scrape_etl_spark.io import read_csv, write_csv

    path = land_once(
        spark,
        "nation_csv",
        sf_dir,
        lambda base: write_csv(read_table(spark, "nation", sf_dir), base, single_file=True),
    )
    return read_csv(spark, path, TESTDATA_SCHEMAS["nation"])


# Golden-VALUES oracle: the three detail fixtures in
# sources/fixtures_html.py are static repo files and parse_books is
# deterministic, so the ENTIRE 13-column output is pinned literally —
# every field hand-checkable against the fixture HTML. A parse
# regression in any field flips the value hash. sources_suite packs
# all 13 columns through its slot table, so this is its oracle too.
_PARSE_GOLDEN_SQL = """
SELECT * FROM (VALUES
  ('A Light in the Attic', 'A classic collection.', 'Poetry',
   'http://books.toscrape.com/catalogue/media/cache/abc123.jpg',
   TRUE, CAST(22 AS INTEGER), CAST(3 AS INTEGER), 'abc123', 'Books',
   'Â£51.77', 'Â£51.77', 'Â£0.00', '0'),
  ('Tipping the Velvet', 'No description available', 'Historical Fiction',
   'http://books.toscrape.com/catalogue/media/cache/def456.jpg',
   TRUE, CAST(20 AS INTEGER), CAST(1 AS INTEGER), 'def456', 'Books',
   'Â£53.74', 'Â£53.74', 'Â£0.00', '0'),
  ('Soumission', 'It&#39;s a novel ...more', 'Fiction',
   'http://books.toscrape.com/catalogue/media/cache/ghi789.jpg',
   TRUE, CAST(3 AS INTEGER), CAST(5 AS INTEGER), 'ghi789', 'Books',
   'Â£50.10', 'Â£50.10', 'Â£0.00', '0')
) AS t("Title", "Description", "Category", "Image_link", "Is_in_Stock",
       "No_of_books_in_Stock", "Rating", "UPC", "Product Type",
       "Price (excl. tax)", "Price (incl. tax)", "Tax",
       "Number of reviews")
"""


@register("parse_struct_expand", _PARSE_GOLDEN_SQL)
def parse_struct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — HTML -> struct -> star-expanded columns, on a local fixture
    (never the network). Oracle: full-width golden VALUES (fixtures are
    static, parsing is deterministic)."""
    from books2scrape_etl_spark.sources.scrape import html_source, parse_books
    from books2scrape_etl_spark.sources.fixtures_html import DETAIL_PAGES

    return parse_books(html_source(spark, DETAIL_PAGES))


_LINKS_GOLDEN_SQL = """
SELECT * FROM (VALUES
  ('http://books.toscrape.com/catalogue/page-1.html',
   'http://books.toscrape.com/catalogue/a-light-in-the-attic_1000/index.html'),
  ('http://books.toscrape.com/catalogue/page-1.html',
   'http://books.toscrape.com/catalogue/tipping-the-velvet_999/index.html'),
  ('http://books.toscrape.com/catalogue/page-1.html',
   'http://books.toscrape.com/catalogue/soumission_998/index.html'),
  ('http://books.toscrape.com/catalogue/page-2.html',
   'http://books.toscrape.com/catalogue/sharp-objects_997/index.html')
) AS t(listing_url, url)
"""


@register("explode_links", _LINKS_GOLDEN_SQL)
def explode_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — listing page -> exploded detail URLs (1->N fan-out).
    Oracle: golden VALUES over the two static listing fixtures."""
    from books2scrape_etl_spark.sources.scrape import extract_links, html_source
    from books2scrape_etl_spark.sources.fixtures_html import LISTING_PAGES

    return extract_links(html_source(spark, LISTING_PAGES))


# =====================================================================
# §2.2 scalar functions / derived columns
# =====================================================================


@register(
    "clean_currency",
    """
    SELECT p_partkey,
           CAST(regexp_replace('Â£' || CAST(p_size AS VARCHAR) || '.99',
                               '[^0-9.]', '', 'g') AS DOUBLE) AS price_clean
    FROM part
    """,
)
def q_clean_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — currency-dirty text -> double (transformation_pipeline.py:5-11),
    exercised on synthesized 'Â£N.99' strings."""
    part = read_table(spark, "part", sf_dir)
    dirty = F.concat(F.lit("Â£"), F.col("p_size").cast("string"), F.lit(".99"))
    return part.select("p_partkey", clean_currency(dirty).alias("price_clean"))


@register(
    "clean_description",
    """
    SELECT doc_id,
           regexp_replace(CASE WHEN doc_id % 2 = 0 THEN text || ' ...more' ELSE text END,
                          ' \\.\\.\\.more$', '') AS description
    FROM documents
    """,
)
def q_clean_description(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (Catalyst half) — ' ...more' suffix strip
    (transformation_pipeline.py:20). The mojibake UDF half is covered by
    unit tests (byte-level, not SQL-expressible)."""
    docs = read_table(spark, "documents", sf_dir)
    dirty = F.when(F.col("doc_id") % 2 == 0, F.concat(F.col("text"), F.lit(" ...more"))).otherwise(
        F.col("text")
    )
    return docs.select("doc_id", clean_description_suffix(dirty).alias("description"))


@register(
    "derive_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    """,
)
def q_derive_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — arithmetic derived column (transformation_pipeline.py:51)."""
    li = read_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "case_when_binary",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_returned
    FROM lineitem
    """,
)
def q_case_when_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — CASE WHEN 0/1 recode (transformation_pipeline.py:54)."""
    li = read_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_returned"),
    )


@register(
    "map_rating",
    """
    SELECT p_partkey,
           CASE (['One','Two','Three','Four','Five'])[(p_size % 5) + 1]
             WHEN 'One' THEN 1 WHEN 'Two' THEN 2 WHEN 'Three' THEN 3
             WHEN 'Four' THEN 4 WHEN 'Five' THEN 5 ELSE 0 END AS rating
    FROM part
    """,
)
def q_map_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — rating word -> ordinal with default 0
    (extract_pipeline.py:92-94), on synthesized words."""
    part = read_table(spark, "part", sf_dir)
    words = F.array(*[F.lit(w) for w in ["One", "Two", "Three", "Four", "Five"]])
    word = F.element_at(words, (F.col("p_size") % 5) + 1)
    return part.select("p_partkey", rating_ordinal(word).alias("rating"))


@register(
    "string_rewrite",
    """
    SELECT p_partkey,
           'http://books.toscrape.com/' ||
           replace('../media/' || p_partkey || '.jpg', '../', '') AS image_url
    FROM part
    """,
)
def q_string_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — relative-URL rewrite (extract_pipeline.py:13,69)."""
    part = read_table(spark, "part", sf_dir)
    rel = F.concat(F.lit("../media/"), F.col("p_partkey").cast("string"), F.lit(".jpg"))
    return part.select(
        "p_partkey", rewrite_relative_url(rel, "http://books.toscrape.com/").alias("image_url")
    )


_AVAIL_SQL = """CASE WHEN p_size % 3 = 0
                     THEN 'In stock (' || p_size || ' available)'
                     ELSE 'Out of stock' END"""


@register(
    "flag_contains",
    f"SELECT p_partkey, contains(string_split({_AVAIL_SQL}, '(')[1], 'In stock') AS in_stock FROM part",
)
def q_flag_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — substring-based flag (extract_pipeline.py:29,32)."""
    part = read_table(spark, "part", sf_dir)
    avail = F.when(
        F.col("p_size") % 3 == 0,
        F.concat(F.lit("In stock ("), F.col("p_size").cast("string"), F.lit(" available)")),
    ).otherwise(F.lit("Out of stock"))
    return part.select("p_partkey", in_stock_flag(avail).alias("in_stock"))


@register(
    "extract_int",
    f"""
    SELECT p_partkey,
           TRY_CAST(regexp_extract({_AVAIL_SQL}, '\\((\\d+) available\\)', 1) AS INTEGER) AS n_available
    FROM part
    """,
)
def q_extract_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 — int out of '(N available)' (extract_pipeline.py:30,33).
    No-match -> null (regexp_extract '' -> null cast)."""
    part = read_table(spark, "part", sf_dir)
    avail = F.when(
        F.col("p_size") % 3 == 0,
        F.concat(F.lit("In stock ("), F.col("p_size").cast("string"), F.lit(" available)")),
    ).otherwise(F.lit("Out of stock"))
    return part.select("p_partkey", extract_available_int(avail).alias("n_available"))


@register(
    "coalesce_default",
    """
    SELECT doc_id,
           coalesce(nullif(lang, 'en'), 'No description available') AS lang_or_default
    FROM documents
    """,
)
def q_coalesce_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — null-default scalar (extract_pipeline.py:10-11)."""
    docs = read_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        coalesce_default(F.nullif(F.col("lang"), F.lit("en"))).alias("lang_or_default"),
    )


# =====================================================================
# §2.3 binning
# =====================================================================

_QTY_BIN_SQL = """CASE WHEN l_quantity >= 0  AND l_quantity < 10 THEN 'Critical'
                       WHEN l_quantity >= 10 AND l_quantity < 18 THEN 'Low'
                       WHEN l_quantity >= 18 AND l_quantity < 30 THEN 'Healthy'
                       ELSE NULL END"""


@register(
    "bin_fixed",
    f"""
    SELECT {_QTY_BIN_SQL} AS qty_bin, COUNT(*) AS n,
           {oracle_sum_exact('l_quantity', 2)} AS sum_qty
    FROM lineitem GROUP BY 1
    """,
)
def q_bin_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 — pd.cut(right=False) parity: half-open bins, out-of-range ->
    null (transformation_pipeline.py:58-60); edges chosen so nulls occur."""
    li = read_table(spark, "lineitem", sf_dir)
    return (
        li.withColumn("qty_bin", bin_fixed("l_quantity", (0, 10, 18, 30), ("Critical", "Low", "Healthy")))
        .groupBy("qty_bin")
        .agg(F.count(F.lit(1)).alias("n"), sum_exact("l_quantity", 2).alias("sum_qty"))
    )


@register(
    "bin_quantile",
    """
    SELECT p_partkey,
           CASE ntile(3) OVER (ORDER BY p_retailprice ASC, p_partkey ASC)
             WHEN 1 THEN 'Budget' WHEN 2 THEN 'Standard' ELSE 'Premium' END AS price_tier
    FROM part
    """,
)
def q_bin_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — exact ntile terciles with deterministic tiebreak
    (transformation_pipeline.py:63; qcut-vs-ntile note in SURVEY §7.4)."""
    part = read_table(spark, "part", sf_dir)
    return bin_quantile_exact(
        part.select("p_partkey", "p_retailprice"),
        "p_retailprice",
        ("Budget", "Standard", "Premium"),
        out_col="price_tier",
        tiebreak=("p_partkey",),
    ).select("p_partkey", "price_tier")


# =====================================================================
# §2.4 distinct / surrogate keys
# =====================================================================


@register(
    "distinct_multi",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — multi-column DISTINCT (transformation_pipeline.py:72)."""
    return read_table(spark, "customer", sf_dir).select("c_mktsegment", "c_nationkey").distinct()


@register("distinct_single", "SELECT DISTINCT o_orderpriority FROM orders")
def q_distinct_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — single-column DISTINCT (transformation_pipeline.py:78-90)."""
    return read_table(spark, "orders", sf_dir).select("o_orderpriority").distinct()


@register(
    "surrogate_key",
    """
    SELECT CAST(row_number() OVER (ORDER BY c_mktsegment ASC NULLS FIRST) AS INTEGER) AS segment_id,
           c_mktsegment
    FROM (SELECT DISTINCT c_mktsegment FROM customer)
    """,
)
def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — dense 1-based deterministic surrogate keys
    (transformation_pipeline.py:73-91; determinism fix per SURVEY §7.4)."""
    return build_dim(read_table(spark, "customer", sf_dir), ["c_mktsegment"], "segment_id")


# =====================================================================
# §2.5 joins
# =====================================================================

_STAR_ORACLE = f"""
WITH dim_rf AS (
  SELECT CAST(row_number() OVER (ORDER BY l_returnflag ASC NULLS FIRST) AS INTEGER) AS returnflag_id,
         l_returnflag
  FROM (SELECT DISTINCT l_returnflag FROM lineitem)
), dim_ls AS (
  SELECT CAST(row_number() OVER (ORDER BY l_linestatus ASC NULLS FIRST) AS INTEGER) AS linestatus_id,
         l_linestatus
  FROM (SELECT DISTINCT l_linestatus FROM lineitem)
), binned AS (
  SELECT *, {_QTY_BIN_SQL} AS qty_bin FROM lineitem
), dim_qb AS (
  SELECT CAST(row_number() OVER (ORDER BY qty_bin ASC NULLS FIRST) AS INTEGER) AS qty_bin_id,
         qty_bin
  FROM (SELECT DISTINCT qty_bin FROM binned)
)
SELECT rf.returnflag_id, ls.linestatus_id, qb.qty_bin_id,
       b.l_orderkey, b.l_linenumber, b.l_quantity, b.l_extendedprice
FROM binned b
JOIN dim_rf rf ON b.l_returnflag = rf.l_returnflag
JOIN dim_ls ls ON b.l_linestatus = ls.l_linestatus
JOIN dim_qb qb ON b.qty_bin IS NOT DISTINCT FROM qb.qty_bin
"""


@register("join_fact", _STAR_ORACLE)
def q_join_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J4 + D1-D3 — the reference's core deliverable re-expressed on
    testdata: dims via distinct + row_number, fact via broadcast joins,
    null-safe on the nullable binned key (transformation_pipeline.py:72-118).

    The three dim builds share ONE probe and ONE scan: build_star's
    routing probes the input once (build_dim would run the budget probe
    per dim) and, under budget, derives all three distinct key sets
    from a single grouping-sets aggregation whose exchange every dim
    branch reuses — 4 scans of lineitem became 2, with ids and values
    bit-identical to the per-dim build_dim form (same oracle)."""
    from books2scrape_etl_spark.plans.star import build_star

    li = read_table(spark, "lineitem", sf_dir).withColumn(
        "qty_bin", bin_fixed("l_quantity", (0, 10, 18, 30), ("Critical", "Low", "Healthy"))
    )
    _, fact = build_star(
        li,
        {
            "rf": (["l_returnflag"], "returnflag_id"),
            "ls": (["l_linestatus"], "linestatus_id"),
            "qb": (["qty_bin"], "qty_bin_id"),
        },
        measures=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
        null_safe_dims=("qb",),
    )
    return fact.select(
        "returnflag_id",
        "linestatus_id",
        "qty_bin_id",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
    )


@register(
    "join_null_safe",
    f"""
    WITH binned AS (SELECT {_QTY_BIN_SQL} AS qty_bin FROM lineitem),
    dim AS (
      SELECT CAST(row_number() OVER (ORDER BY qty_bin ASC NULLS FIRST) AS INTEGER) AS qty_bin_id,
             qty_bin
      FROM (SELECT DISTINCT qty_bin FROM binned)
    )
    SELECT d.qty_bin_id, b.qty_bin, COUNT(*) AS n
    FROM binned b JOIN dim d ON b.qty_bin IS NOT DISTINCT FROM d.qty_bin
    GROUP BY 1, 2
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 isolated — eqNullSafe keeps the null-binned rows a plain `=`
    join would silently drop (pandas NaN=NaN parity,
    transformation_pipeline.py:99)."""
    li = read_table(spark, "lineitem", sf_dir).withColumn(
        "qty_bin", bin_fixed("l_quantity", (0, 10, 18, 30), ("Critical", "Low", "Healthy"))
    )
    dim = build_dim(li, ["qty_bin"], "qty_bin_id")
    joined = join_dim(li, dim, ["qty_bin"], null_safe=True)
    return joined.groupBy("qty_bin_id", "qty_bin").agg(F.count(F.lit(1)).alias("n"))


@register(
    "join_sortmerge",
    f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_lines,
           {oracle_sum_exact('l.l_extendedprice', 2)} AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — big-big join pinned to sort-merge via hint (the strategy a
    too-big-to-broadcast dim takes at 100 TB; both sides shuffle on the
    key once, then merge)."""
    li = read_table(spark, "lineitem", sf_dir)
    orders = read_table(spark, "orders", sf_dir).hint("merge")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"), sum_exact("l_extendedprice", 2).alias("sum_price"))
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6a — left-semi join (EXISTS)."""
    cust = read_table(spark, "customer", sf_dir)
    big = read_table(spark, "orders", sf_dir).where(F.col("o_totalprice") > 100000)
    return cust.join(big, cust["c_custkey"] == big["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6b — left-anti join (NOT EXISTS): customers with no orders."""
    cust = read_table(spark, "customer", sf_dir)
    orders = read_table(spark, "orders", sf_dir)
    return cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_range",
    """
    WITH tiers(tier, lo, hi) AS (
      VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1200.0), ('high', 1200.0, 1e12)
    )
    SELECT t.tier, COUNT(*) AS n_parts
    FROM part p JOIN tiers t ON p.p_retailprice >= t.lo AND p.p_retailprice < t.hi
    GROUP BY 1
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — non-equi range join against a broadcast interval table (the
    approxQuantile-edge binning shape from SURVEY §2.3 B2)."""
    part = read_table(spark, "part", sf_dir)
    tiers = spark.createDataFrame(
        [("low", 0.0, 500.0), ("mid", 500.0, 1200.0), ("high", 1200.0, 1e12)],
        "tier string, lo double, hi double",
    )
    cond = (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi"))
    return (
        part.join(F.broadcast(tiers), cond)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# =====================================================================
# §2.6 aggregations
# =====================================================================


@register(
    "agg_summary",
    f"""
    SELECT COUNT(*) AS total_lines,
           COUNT(DISTINCT l_orderkey) AS total_orders,
           {oracle_sum_exact('l_extendedprice', 2)} AS total_price,
           {oracle_avg_exact('l_quantity', 2)} AS avg_qty,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
    FROM lineitem
    """,
)
def q_agg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A5 — the five airflow summary aggregates (airflow.py:101-107)
    as one global agg. COUNT(DISTINCT) is two-phase (partial agg keyed
    by l_orderkey, then a final roll-up where the distinct count is a
    plain row count) — same rewrite as flagship's: avoids the Expand
    operator that doubles every input row for mixed distinct/plain
    aggregates, and the partial agg combines map-side before the one
    shuffle. Identical results, measurably faster."""
    li = read_table(spark, "lineitem", sf_dir)
    pre = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_price"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty"),
        F.count("l_quantity").alias("_qn"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("_ret"),
    )
    return pre.agg(
        F.sum("_n").alias("total_lines"),
        F.count(F.lit(1)).alias("total_orders"),
        F.sum("_price").cast("double").alias("total_price"),
        (F.sum("_qty").cast("double") / F.sum("_qn")).alias("avg_qty"),
        F.sum("_ret").cast("long").alias("n_returned"),
    )


@register(
    "agg_groupby",
    f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_sum_exact('l_quantity', 2)} AS sum_qty,
           {oracle_sum_exact('l_extendedprice', 2)} AS sum_base_price,
           {oracle_sum_exact('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {oracle_avg_exact('l_quantity', 2)} AS avg_qty,
           {oracle_avg_exact('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — TPC-H Q1-shaped grouped aggregation (partial+final hash agg,
    map-side combine before the one shuffle)."""
    li = read_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_exact("l_quantity", 2).alias("sum_qty"),
        sum_exact("l_extendedprice", 2).alias("sum_base_price"),
        sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("sum_disc_price"),
        avg_exact("l_quantity", 2).alias("avg_qty"),
        avg_exact("l_discount", 2).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7a — hierarchical subtotals."""
    li = read_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7b — full grouping-set lattice."""
    li = read_table(spark, "lineitem", sf_dir)
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


# =====================================================================
# §2.7 sorts / limits / set ops / windows
# =====================================================================


@register(
    "limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — global top-k: TakeOrderedAndProject, no full sort
    (extract_pipeline.py:68's limit, made deterministic)."""
    return (
        read_table(spark, "orders", sf_dir)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


def topk_with_rank(df: DataFrame, keys: tuple, k: int, rank_col: str = "pos") -> DataFrame:
    """Top-k-first total-order rank — THE pattern for global top-k with
    an embedded position column: ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject (per-partition heap top-k, one small merge —
    never a global sort), and the partition-less rank window then runs
    over the k survivors only. Ranking the top-k subset by the same
    total order yields the same positions 1..k as ranking the table, at
    O(k) window cost at any scale (enforced registry-wide by
    tests/test_plans.py:test_no_unbounded_global_window_any_plan)."""
    top = df.orderBy(*keys).limit(k)
    return top.withColumn(rank_col, F.row_number().over(Window.orderBy(*keys)))


@register(
    "sort_order",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS pos
    FROM orders QUALIFY pos <= 100
    """,
)
def q_sort_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — explicit total order, embedded into the data as a rank so an
    order-insensitive hash still verifies the ordering
    (SURVEY §2.7: Spark has no implicit order). Top-k-first plan via
    :func:`topk_with_rank`."""
    keys = (F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return topk_with_rank(
        read_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice"),
        keys,
        100,
    )


@register(
    "set_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3a — UNION (distinct semantics)."""
    c = read_table(spark, "customer", sf_dir).select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, "supplier", sf_dir).select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3b — INTERSECT."""
    c = read_table(spark, "customer", sf_dir).select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, "supplier", sf_dir).select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3c — EXCEPT (distinct semantics: subtract == EXCEPT DISTINCT)."""
    c = read_table(spark, "customer", sf_dir).select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, "supplier", sf_dir).select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@register(
    "window_rank",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal,
           CAST(row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn
    FROM customer QUALIFY rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4a — per-group top-k via ranking window (partitioned window:
    parallel, unlike the global-sort windows)."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        read_table(spark, "customer", sf_dir)
        .select("c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


@register(
    "window_running",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4b — running aggregate with an explicit rows frame; exact-decimal
    accumulation keeps the running sums order-independent-reproducible."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = read_table(spark, "events", sf_dir)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("running_value"),
    )


# =====================================================================
# §2.8 JSON / date / array / map scalar functions
# =====================================================================


@register(
    "json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — JSON field extraction from the events.props string."""
    ev = read_table(spark, "events", sf_dir)
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").try_cast("int").alias("k_val")
    )


@register(
    "date_parts",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           COUNT(*) AS n_orders,
           {oracle_sum_exact('o_totalprice', 2)} AS sum_price
    FROM orders GROUP BY 1, 2
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — calendar-field extraction + group (airflow.py:183's
    strftime analogue). Session TZ pinned to UTC: field extraction on
    timestamps is TZ-dependent in Spark, and the oracle is UTC-naive."""
    _utc(spark)
    o = read_table(spark, "orders", sf_dir)
    return o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).alias("n_orders"), sum_exact("o_totalprice", 2).alias("sum_price"))


@register(
    "array_ops",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_words,
           list_contains(string_split_regex(trim(text), '\\s+'), 'the') AS has_the,
           string_split_regex(trim(text), '\\s+')[1] AS first_word
    FROM documents
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — split / size / contains / element_at on document text."""
    docs = read_table(spark, "documents", sf_dir)
    words = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.array_contains(words, "the").alias("has_the"),
        F.element_at(words, 1).alias("first_word"),
    )


@register(
    "map_ops",
    """
    SELECT event_id, event_type AS type_val, 2 AS n_keys
    FROM events
    """,
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — MapType round trip: build a map, read a key back, count
    keys. (Oracle states the equivalent result directly; DuckDB map
    indexing returns lists, so the map machinery stays Spark-side.)"""
    ev = read_table(spark, "events", sf_dir)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("id"), F.col("event_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("type_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


# =====================================================================
# §2.9 streaming (batch-equivalent forms oracle-checked; real
# readStream variants rows-only)
# =====================================================================


@register(
    "stream_tumbling",
    f"""
    SELECT CAST(floor(epoch(ts) / 600) AS BIGINT) AS bucket, event_type,
           COUNT(*) AS n_events,
           {oracle_sum_exact('value', 4)} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 batch-equivalent — epoch-aligned 10-minute tumbling buckets
    (TZ-free longs on both sides)."""
    ev = read_table(spark, "events", sf_dir)
    return stream_ops.tumbling_counts_batch(ev, minutes=10)


@register(
    "stream_session",
    """
    WITH marked AS (
      SELECT user_id, ts, epoch(ts) AS e,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, e,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           CAST(floor(min(e)) AS BIGINT) AS session_start,
           CAST(floor(max(e)) + 1800 AS BIGINT) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 batch-equivalent — F.session_window per user (30-min gap); the
    oracle reconstructs the identical sessions with lag + cumulative
    session numbering. Bounds surfaced as epoch longs (TZ-free)."""
    ev = read_table(spark, "events", sf_dir)
    return stream_ops.session_windows_batch(ev, gap_minutes=30)


_TUMBLING_RT_SQL = """
SELECT 'drained_nonempty' AS check_name,
       CAST(0 AS BIGINT) AS n_violations, CAST(1 AS BIGINT) AS ok
UNION ALL SELECT 'emitted_matches_batch', CAST(0 AS BIGINT), CAST(1 AS BIGINT)
UNION ALL SELECT 'sub_horizon_windows_all_emitted', CAST(0 AS BIGINT), CAST(1 AS BIGINT)
ORDER BY check_name
"""


@register("stream_tumbling_rt", _TUMBLING_RT_SQL)
def q_stream_tumbling_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+T4 — real Structured Streaming run: watermarked tumbling
    window over readStream(events), availableNow drain to memory sink,
    converted rows-only → invariant oracle. Append mode emits a window
    only once the final watermark (max event time − 1 h, millisecond
    precision inside Spark) passes its end, so the drain is a strict
    subset of the batch form — and BOTH boundary checks below are
    stated one second away from the watermark so they can never flip
    on the ≤-vs-< eviction edge or the ms-vs-s truncation:

    - 'emitted_matches_batch': every drained (window, type, count) row
      exists verbatim in the batch recompute (exceptAll, violations 0)
      — a duplicate emission, a double-counted micro-batch, or a
      dropped-as-late row all flag here;
    - 'sub_horizon_windows_all_emitted': every batch window whose end
      is ≤ max_es − 3601 (strictly below any possible watermark
      placement) must have been emitted — state stuck unevicted or a
      watermark that never advanced flags here;
    - 'drained_nonempty': the drain produced rows at all.

    (Measured at sf0.001 and sf0.01: the emitted set equals EXACTLY
    the batch windows with end ≤ watermark — 975/977 and 8003/8016
    windows; the two/thirteen withheld sit inside the final hour.)
    """
    ev = read_table(spark, "events", sf_dir)
    batch = stream_ops.tumbling_counts_window(ev, 10)
    drained = stream_ops.streaming_tumbling(spark, sf_dir, minutes=10)
    mx = ev.agg(F.max(F.col("ts").cast("long")).alias("max_es"))

    def check(name: str, n_df: DataFrame) -> DataFrame:
        return n_df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
            (F.col("n") == 0).cast("bigint").alias("ok"),
        )

    extra = drained.exceptAll(batch)
    c_match = check("emitted_matches_batch", extra.agg(F.count(F.lit(1)).alias("n")))
    unemitted = batch.join(
        drained, ["w_start", "w_end", "event_type", "n_events"], "left_anti"
    ).crossJoin(F.broadcast(mx)).where(F.col("w_end") <= F.col("max_es") - 3601)
    c_horizon = check(
        "sub_horizon_windows_all_emitted",
        unemitted.agg(F.count(F.lit(1)).alias("n")),
    )
    c_nonempty = check(
        "drained_nonempty",
        drained.agg(
            F.when(F.count(F.lit(1)) == 0, 1).otherwise(0).alias("n")
        ),
    )
    return c_nonempty.union(c_match).union(c_horizon).orderBy("check_name")


@register(
    "stream_dedup_rt",
    """
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_stream_dedup_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — dropDuplicatesWithinWatermark over a real stream, drained
    complete. Direct oracle (conversion from rows-only): the deduped
    per-type counts must equal the batch distinct-event_id counts —
    whether state lives in-batch or across batches, every duplicate
    collapses. The duplicated-landing stress (every event arriving
    twice) is the suite's 'dedup' section; this single pins the
    plain-stream drain's values."""
    return stream_ops.streaming_dedup(spark, sf_dir)


@register(
    "stream_stateful_rt",
    """
    SELECT user_id, CAST(MAX(value) AS DOUBLE) AS max_value,
           CAST(COUNT(*) AS BIGINT) AS n_seen
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — applyInPandasWithState running max per user, drained in
    update mode. Direct oracle (conversion from rows-only): each
    sf dir lands events as ONE parquet file, so the availableNow drain
    is a single data micro-batch and the update-mode memory sink holds
    exactly one row per user — the final state: MAX(value), COUNT(*).
    (MAX passes the stored double through unchanged — hash-safe. The
    suite's 'stateful' section carries the same single-file contract;
    a multi-file vintage would surface as a row-count mismatch here,
    loudly, not as silent drift.)"""
    return stream_ops.stateful_running_max(spark, sf_dir)


# =====================================================================
# §2.11 LLM-data-pipeline operators
# =====================================================================


@register(
    "dedup_exact",
    """
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 2
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — exact dedup on normalized-text fingerprint; survivor =
    min(doc_id) (deterministic, unlike dropDuplicates)."""
    return dedupe.exact_dedup(read_table(spark, "documents", sf_dir))


@register("dedup_minhash")  # rows-only: LSH banding has no tractable SQL twin
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — MinHash-LSH near-dup removal (shingle -> K minhashes -> band
    buckets -> verified Jaccard -> survivor rule)."""
    docs = read_table(spark, "documents", sf_dir)
    return dedupe.minhash_dedup(docs, threshold=0.6).select("doc_id", "lang", "source")


_SIMHASH_OFFSET = 10_000_000  # planted ids sit above every organic id

_SIMHASH_INV_SQL = """
SELECT 'bands_decompose_signature' AS check_name,
       CAST(0 AS BIGINT) AS n_violations, CAST(1 AS BIGINT) AS ok
UNION ALL SELECT 'close_pairs_share_bucket', CAST(0 AS BIGINT), CAST(1 AS BIGINT)
UNION ALL SELECT 'planted_pair_distance_zero', CAST(0 AS BIGINT), CAST(1 AS BIGINT)
ORDER BY check_name
"""


@register("dedup_simhash", _SIMHASH_INV_SQL)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2b — SimHash signatures + band buckets, value-verified in-plan
    (VERDICT r8 item 5: signature-distance laws on planted pairs,
    hashed against a constant oracle — xxhash64 signatures have no
    DuckDB twin, but their LAWS are engine-independent):

    - 'bands_decompose_signature': for EVERY banded doc, the four
      15-bit band values reassemble to exactly the 60-bit signature the
      direct kernel computes (sum(band_val << 15*band) == simhash64) —
      pins the shift/mask banding arithmetic, non-vacuously, corpus-wide.
    - 'planted_pair_distance_zero': exact text copies planted at
      doc_id+1e7 must get bit-identical signatures through two
      INDEPENDENT kernel invocations (hamming distance 0 via
      bit_count(xor)). Distinct evidence from dedup_invariants'
      band-multiset equality: this checks the signature kernel
      directly, that one checks the band projection.
    - 'close_pairs_share_bucket': the banded-LSH candidate guarantee
      (pigeonhole: hamming < n_bands => at least one band untouched):
      every pair within hamming distance < 4 must share at least one
      (band, band_val) bucket — checked through the SAME equi-join the
      candidate generation uses. Pairs = planted (orig, copy) pairs
      (distance 0, so the law is exercised at every SF — ok also
      asserts the checked set is non-empty) plus consecutive organic
      doc pairs (opportunistic coverage).
    """
    docs = read_table(spark, "documents", sf_dir).select("doc_id", "text")
    # copies from a FRESH scan (the Catalyst Union.rewriteConstraints
    # hazard documented in query_defs6.q_dedup_invariants)
    copies = (
        read_table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + _SIMHASH_OFFSET).alias("doc_id"), "text")
    )
    both = docs.unionByName(copies)
    # one signature table + one band table over docs+copies; stage the
    # signatures (consumed by all three sections)
    sig = stage(both.select("doc_id", dedupe.simhash64(F.col("text")).alias("sig")))
    # bands feeds three plan branches (recon + both sides of the bucket
    # check); without a cache each branch re-runs the Arrow signature
    # pass (ADVICE r10). simhash_bands itself stays cache-free.
    bands = stage(dedupe.simhash_bands(both))

    # (a) band values reassemble the signature, doc by doc
    # shiftleft with a COLUMN shift amount needs the SQL form (the
    # Python helper only takes a literal int)
    recon = bands.groupBy("doc_id").agg(
        F.sum(F.expr("shiftleft(band_val, CAST(band * 15 AS INT))")).alias("recon")
    )
    decomp = (
        sig.join(recon, "doc_id")
        .agg(F.sum((F.col("sig") != F.col("recon")).cast("long")).alias("n"))
        .select(
            F.lit("bands_decompose_signature").alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
            (F.col("n") == 0).cast("bigint").alias("ok"),
        )
    )

    # (b) planted copies: identical text -> identical signature
    s_orig = sig.where(
        (F.col("doc_id") < _SIMHASH_OFFSET) & (F.col("doc_id") % 10 == 0)
    ).select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    s_copy = sig.where(F.col("doc_id") >= _SIMHASH_OFFSET).select(
        (F.col("doc_id") - _SIMHASH_OFFSET).alias("id_a"),
        F.col("sig").alias("sig_b"),
    )
    planted = s_orig.join(s_copy, "id_a").select(
        "id_a",
        (F.col("id_a") + _SIMHASH_OFFSET).alias("id_b"),
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("d"),
    )
    dist0 = planted.agg(
        F.sum((F.col("d") != 0).cast("long")).alias("n")
    ).select(
        F.lit("planted_pair_distance_zero").alias("check_name"),
        F.col("n").cast("bigint").alias("n_violations"),
        (F.col("n") == 0).cast("bigint").alias("ok"),
    )

    # (c) hamming < n_bands => shares a band bucket (planted pairs make
    # the check non-vacuous; consecutive organic pairs ride along)
    s_a = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    s_b = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    organic = (
        s_a.where(F.col("id_a") < _SIMHASH_OFFSET)
        .join(s_b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("d"),
        )
    )
    close = planted.unionByName(organic).where(F.col("d") < 4)
    # per checked pair, compare the two sides' value in EACH band — a
    # pair-scoped join (|close| x 4 rows), never the all-pairs bucket
    # self-join the production candidate generation is bounded by.
    # Pairs with an unbanded side (< 2 words -> no shingles -> excluded
    # from banding by design) drop out of the inner joins: the LSH
    # guarantee is only defined for banded docs.
    b_a = bands.select(
        F.col("doc_id").alias("id_a"), "band", F.col("band_val").alias("bv_a")
    )
    b_b = bands.select(
        F.col("doc_id").alias("id_b"), "band", F.col("band_val").alias("bv_b")
    )
    per_pair = (
        close.join(b_a, "id_a")
        .join(b_b, ["id_b", "band"])
        .groupBy("id_a", "id_b")
        .agg(F.max((F.col("bv_a") == F.col("bv_b")).cast("int")).alias("shared"))
    )
    bucket = per_pair.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum((F.col("shared") == 0).cast("long")).alias("n"),
    ).select(
        F.lit("close_pairs_share_bucket").alias("check_name"),
        F.col("n").cast("bigint").alias("n_violations"),
        ((F.col("n") == 0) & (F.col("n_checked") >= 1))
        .cast("bigint")
        .alias("ok"),
    )
    return decomp.union(bucket).union(dist0).orderBy("check_name")


@register(
    "ngram_jaccard",
    """
    WITH grams AS (
      SELECT doc_id,
             CASE WHEN length(t) < 3 THEN [t]
                  ELSE list_distinct([substring(t, i, 3) for i in range(1, length(t) - 1)])
             END AS g
      FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE), 6) AS jaccard
    FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2c — character-3-gram Jaccard on consecutive doc pairs (a
    linear-size oracle-checkable probe of the same kernel the LSH
    verification uses)."""
    docs = read_table(spark, "documents", sf_dir)
    t = text.normalize_for_fingerprint(F.col("text"))
    # stage the normalized text, then build char-3-grams by zipping
    # shifted char arrays (see operators.dedupe.shifted_ngrams: avoids
    # re-inlining the normalize regex into every gram)
    staged = docs.select("doc_id", t.alias("t"))
    # split("") can emit a trailing empty string (Java split limit=-1);
    # drop it so the last gram is a true 3-gram
    chars = F.filter(F.split(F.col("t"), ""), lambda c: c != F.lit(""))
    grams = F.when(F.length("t") < 3, F.array(F.col("t"))).otherwise(
        F.array_distinct(dedupe.shifted_ngrams(chars, 3, sep=""))
    )
    g = staged.select("doc_id", grams.alias("g"))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("g").alias("g_a"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
    )


_DOT_SQL = (
    "list_aggregate([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    "for i in range(1, 65)], 'sum')"
)


# Exact brute-force cosine top-5 in DuckDB form — the oracle for BOTH
# the brute-force qname (sim_cosine) and the full-probe ANN qname
# (sim_ann_probe, query_defs5): one definition, one contract.
BRUTE_TOPK_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id,
             round({_DOT_SQL.format(a='q.q_vec', b='e.embedding')} /
                   (sqrt({_DOT_SQL.format(a='q.q_vec', b='q.q_vec')}) *
                    sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})), 6) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
    FROM scored QUALIFY rank <= 5
    """


@register("sim_cosine", BRUTE_TOPK_SQL)
def q_sim_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 — brute-force exact cosine top-5 for 5 query vectors (double
    accumulation in index order: bit-identical to the SQL oracle)."""
    emb = read_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.brute_force_topk(emb, queries, k=5)


_SIM_LSH_SQL = """
    SELECT 'check' AS kind, v.k,
           CAST(0 AS BIGINT) AS n1, CAST(1 AS BIGINT) AS n2
    FROM (VALUES ('k_bounded'),
                 ('nonempty_results'),
                 ('rank_consistent'),
                 ('same_bucket'),
                 ('scores_exact')) AS v(k)
    ORDER BY k
    """


@register("sim_lsh", _SIM_LSH_SQL)
def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 scale path — LSH-bucketed ANN top-k (single-probe), converted
    rows-only → invariant oracle (VERDICT r9 item 7, the ann_recall /
    embed_near_dup pattern): partial-probe RECALL is approximate by
    construction (no SQL twin), but everything else about the result
    is a hard contract, checked in-plan on the production path's own
    output and hashed against a constant oracle —

    - 'scores_exact': every returned cos_sim equals the exact cosine
      recomputed from the embeddings table (same expression tree);
    - 'same_bucket': every returned (query, neighbor) pair shares the
      single-probe hyperplane bucket — pins the bucketing itself;
    - 'rank_consistent': rank == row_number by (cos_sim desc, vec_id)
      within the result;
    - 'k_bounded': no query returns more than k rows;
    - 'nonempty_results': the probe found at least one neighbor
      (non-vacuity — an all-empty bucket join can't silently pass).

    Recall floors for this path live in `ann_recall` (single- vs
    multi-probe monotonicity) — together they pin the partial-probe
    family to everything pinnable."""
    emb = read_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # ≤ 25 rows: staged so the five check branches don't re-run the
    # bucket join and top-k
    res = stage(similarity.lsh_topk(emb, queries, k=5))

    e_q = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    e_v = emb.select("vec_id", F.col("embedding").alias("vv"))
    joined = res.join(e_q, "q_id").join(e_v, "vec_id")
    bad_score = joined.where(
        F.round(similarity.cosine(F.col("qv"), F.col("vv")), 6) != F.col("cos_sim")
    )
    bad_bucket = joined.where(
        similarity.lsh_bucket(F.col("qv"), 64, 6)
        != similarity.lsh_bucket(F.col("vv"), 64, 6)
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    bad_rank = res.withColumn("rr", F.row_number().over(w)).where(
        F.col("rr") != F.col("rank")
    )
    bad_k = res.groupBy("q_id").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") > 5)

    def n(df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n"))

    empty = res.agg((F.count(F.lit(1)) == 0).cast("bigint").alias("n"))

    def row(name: str, n_df: DataFrame) -> DataFrame:
        return n_df.select(
            F.lit("check").alias("kind"),
            F.lit(name).alias("k"),
            F.col("n").cast("bigint").alias("n1"),
            (F.col("n") == 0).cast("bigint").alias("n2"),
        )

    return (
        row("k_bounded", n(bad_k))
        .union(row("nonempty_results", empty))
        .union(row("rank_consistent", n(bad_rank)))
        .union(row("same_bucket", n(bad_bucket)))
        .union(row("scores_exact", n(bad_score)))
        .orderBy("k")
    )


_EMB_ND_SQL = """
SELECT 'idempotent_fixpoint' AS check_name,
       CAST(0 AS BIGINT) AS n_violations, CAST(1 AS BIGINT) AS ok
UNION ALL SELECT 'organic_survivors_unchanged', CAST(0 AS BIGINT), CAST(1 AS BIGINT)
UNION ALL SELECT 'scaled_copies_all_removed', CAST(0 AS BIGINT), CAST(1 AS BIGINT)
ORDER BY check_name
"""


@register("embed_near_dup", _EMB_ND_SQL)
def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2d — embedding-cosine near-dup removal via LSH bucket
    self-join, value-verified in-plan (VERDICT r8 item 5: planted
    NEAR-dups — not the identical copies dedup_invariants already
    plants — with provable outcomes, hashed against a constant oracle):

    - 'scaled_copies_all_removed': copies planted at vec_id+1e7 with
      every component EXACTLY doubled (x2.0f is a power-of-two float
      scale: exact, sign-preserving). Cosine is scale-invariant, so
      cos(copy, orig) == cos(orig, orig) ~ 1.0 >= 0.98, and the
      sign-hyperplane LSH bucket of 2v equals v's bucket (every
      hyperplane dot doubles exactly — same sign), so the pair is
      GUARANTEED a candidate; the copy's id exceeds every organic id,
      so the survivor rule must drop it. Every planted copy removed.
    - 'organic_survivors_unchanged': planting can't disturb the
      organic verdicts — copies hold the highest ids and the survivor
      rule only removes the LARGER id of a pair, so copies remove
      nobody; survivors(emb + copies) restricted to organic ids must
      equal survivors(emb) as a multiset (symmetric difference 0).
    - 'idempotent_fixpoint': dedup is a fixpoint — the survivor set
      contains no same-bucket pair at >= threshold (the larger id
      would have been removed), so a second pass through the SAME
      operator must return it unchanged.
    """
    offset = 10_000_000  # planted ids sit above every organic id
    emb = read_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    # copies from a FRESH scan (the Catalyst Union.rewriteConstraints
    # hazard documented in query_defs6.q_dedup_invariants)
    two = F.lit(2.0).cast("float")
    copies = (
        read_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .where(F.col("vec_id") % 10 == 0)
        .select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform("embedding", lambda x: (x * two).cast("float")).alias(
                "embedding"
            ),
        )
    )
    surv = similarity.embedding_near_dup(emb, threshold=0.98).select("vec_id")
    surv_planted = similarity.embedding_near_dup(
        emb.unionByName(copies), threshold=0.98
    ).select("vec_id")

    def count_row(name: str, n_df: DataFrame) -> DataFrame:
        return n_df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("bigint").alias("n_violations"),
            (F.col("n") == 0).cast("bigint").alias("ok"),
        )

    removed_all = count_row(
        "scaled_copies_all_removed",
        surv_planted.where(F.col("vec_id") >= offset).agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    organic = surv_planted.where(F.col("vec_id") < offset)
    sym1 = organic.exceptAll(surv).union(surv.exceptAll(organic))
    unchanged = count_row(
        "organic_survivors_unchanged", sym1.agg(F.count(F.lit(1)).alias("n"))
    )
    surv_rows = similarity.embedding_near_dup(emb, threshold=0.98).select(
        "vec_id", "embedding"
    )
    again = similarity.embedding_near_dup(surv_rows, threshold=0.98).select("vec_id")
    sym2 = (
        again.exceptAll(surv_rows.select("vec_id"))
        .union(surv_rows.select("vec_id").exceptAll(again))
    )
    fixpoint = count_row(
        "idempotent_fixpoint", sym2.agg(F.count(F.lit(1)).alias("n"))
    )
    return fixpoint.union(unchanged).union(removed_all).orderBy("check_name")


@register(
    "embed_norm",
    f"""
    SELECT vec_id,
           len(embedding) AS dim,
           round(sqrt({_DOT_SQL.format(a='embedding', b='embedding')}), 6) AS l2_norm,
           round(list_aggregate([CAST(embedding[i] AS DOUBLE) for i in range(1, 65)], 'sum')
                 / CAST(len(embedding) AS DOUBLE), 6) AS mean_val
    FROM embeddings
    """,
)
def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 — per-vector norm/mean/dim via higher-order functions."""
    return similarity.embed_norms(read_table(spark, "embeddings", sf_dir))


_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_STOP_SQL = {
    lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(ws)})\\b'))"
    for lang, ws in text.LANG_STOPWORDS.items()
}
_BEST_SQL = "greatest(" + ", ".join(_STOP_SQL.values()) + ")"
_LANG_CASE_SQL = (
    f"CASE WHEN {_BEST_SQL} = 0 THEN 'unknown' "
    + " ".join(f"WHEN {_STOP_SQL[lang]} = {_BEST_SQL} THEN '{lang}'" for lang in text.LANG_STOPWORDS)
    + " END"
)


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           len(string_split_regex(trim(text), '\\s+')) AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
             / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
           {_LANG_CASE_SQL} AS lang_pred,
           (CASE WHEN length(text) BETWEEN 200 AND 20000 THEN 1.0
                 WHEN length(text) < 200 THEN CAST(length(text) AS DOUBLE) / 200.0
                 ELSE 0.5 END
            + CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                        / CAST(greatest(length(text), 1) AS DOUBLE) <= 0.1 THEN 1.0 ELSE 0.5 END
            + CASE WHEN {_STOP_SQL['en']} > 0 THEN 1.0 ELSE 0.5 END) / 3.0 AS quality,
           md5({_NORM_SQL}) AS fp
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 — per-document statistics: counts, BPE-ish tokens, punctuation
    ratio, language ID, quality score, fingerprint."""
    return text.text_stats(read_table(spark, "documents", sf_dir))


@register(
    "lang_dist",
    f"""
    SELECT {_LANG_CASE_SQL} AS lang_pred, lang AS lang_tagged, COUNT(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def q_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4b — predicted-vs-tagged language distribution (the groupBy
    form of the lang-ID heuristic)."""
    docs = read_table(spark, "documents", sf_dir)
    return (
        docs.select(
            text.lang_id(F.col("text")).alias("lang_pred"), F.col("lang").alias("lang_tagged")
        )
        .groupBy("lang_pred", "lang_tagged")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "multimodal_bytes",
    """
    SELECT doc_id AS media_id,
           'mem://doc/' || doc_id AS uri,
           'image' AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 — binary payload column plumbing: bytes + typed metadata
    (payload itself excluded from the compared projection)."""
    media = multimodal.documents_as_media(read_table(spark, "documents", sf_dir))
    return media.select("media_id", "uri", "media_type", "n_bytes")


@register(
    "multimodal_decode",
    # the oracle re-derives the ENTIRE image independently: synthetic
    # PPMs are closed-form in doc_id (dims, header length, every pixel
    # byte), so header parsing AND pixel access are value-checked
    """
    WITH m AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents)
    SELECT doc_id AS media_id,
           CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                + 3 * w * h AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           'ppm' AS format,
           (SELECT CAST(SUM(CASE WHEN i < 3 * w * h
                                 THEN (doc_id * 31 + 7 * i) % 256 END) AS BIGINT)
            FROM range(672) t(i)) AS pix_sum
    FROM m
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5b — REAL decode stage (r5, clears the stub-codec weak flag):
    one genuine PPM payload per document (deterministic synthetic
    pixels), decoded by the pure-Python codec through Arrow-batched
    mapInPandas. Output is (dims, channels, format, pixel byte sum);
    the oracle recomputes all of it from the generation rule alone, so
    a header-parse or pixel-indexing bug anywhere in the codec breaks
    the hash."""
    media = multimodal.documents_as_ppm_media(read_table(spark, "documents", sf_dir))
    return multimodal.decode_image_meta(media, with_pixels=True)


@register(
    "multimodal_resize",
    # oracle replays the nearest-neighbor index math in SQL: resized
    # pixel (y, x, c) reads source byte 3*((y*h DIV 8)*w + (x*w DIV 8))+c
    """
    WITH m AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      FROM documents)
    SELECT doc_id AS media_id,
           CAST(203 AS BIGINT) AS n_bytes,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           'ppm' AS format,
           (SELECT CAST(SUM((doc_id * 31
                + 7 * (3 * (((y.i * h) // 8) * w + ((x.i * w) // 8)) + c.i))
                % 256) AS BIGINT)
            FROM range(8) y(i), range(8) x(i), range(3) c(i)) AS pix_sum
    FROM m
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5c — REAL resize stage (r5): synthetic PPMs resampled to 8x8 by
    the nearest-neighbor kernel, then decoded AGAIN through the codec.
    The oracle replays the resample's index arithmetic symbolically, so
    a wrong stride, a flipped axis, or an off-by-one in the index map
    changes pix_sum and breaks the hash. n_bytes pins the re-encoded
    header too (P6, '8 8', 255 -> 11 header + 192 pixel bytes)."""
    media = multimodal.documents_as_ppm_media(read_table(spark, "documents", sf_dir))
    resized = multimodal.resize_images(media, 8, 8)
    return multimodal.decode_image_meta(resized, with_pixels=True)


# (multimodal_frames retired in r7 — VERDICT r6 item 4: redundant with
# avi_frames, which drives the REAL RIFF container walker with a
# pixel-level oracle; the generic byte-window sample_frames stub it
# exercised remains unit-tested in tests/test_ops.py.)
