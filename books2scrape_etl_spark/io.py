"""IO layer: schemas + readers/writers.

The reference re-infers its schema on every CSV read
(transformation_pipeline.py:40 — ``pd.read_csv`` with no dtype=) and uses CSV
as the only on-disk format (SURVEY.md §1.1). At scale both are wrong:
inference is an extra full pass and nondeterministic; CSV is row-oriented,
schema-less and unsplittable when compressed. The engine defaults to Parquet
(columnar, schema-carrying, predicate-pushdown + column-pruning capable) and
hands every table scan an explicit schema: ``read_table`` takes it from the
parquet footer in the Spark driver, with no Spark job, converted exactly as
Spark's own inference would; CSV and JSONL reads take declared StructTypes.
CSV remains an edge format for parity with the reference
(extract_pipeline.py:89).
"""

from __future__ import annotations

import json
import logging
import os
import string
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_log = logging.getLogger(__name__)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ---------------------------------------------------------------------------
# Testdata schemas (TESTDATA.md / FIXTURES.md §B) — the declared contract.
# ``read_table`` does not read with these: it takes each file's own footer
# schema, because the physical types have drifted between data vintages.
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(TESTDATA_SCHEMAS)

# books_raw: mirrors the reference scraper output (extract_pipeline.py:36-51),
# exact column names the reference writes to books.csv, dirty types as scraped.
BOOKS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("Title", T.StringType()),
        T.StructField("Description", T.StringType()),  # nullable, mojibake-prone
        T.StructField("Category", T.StringType()),
        T.StructField("Image_link", T.StringType()),
        T.StructField("Is_in_Stock", T.BooleanType()),
        T.StructField("No_of_books_in_Stock", T.IntegerType()),
        T.StructField("Rating", T.IntegerType()),
        T.StructField("UPC", T.StringType()),
        T.StructField("Product Type", T.StringType()),
        T.StructField("Price (excl. tax)", T.StringType()),  # dirty currency text
        T.StructField("Price (incl. tax)", T.StringType()),
        T.StructField("Tax", T.StringType()),
        T.StructField("Number of reviews", T.StringType()),
    ]
)


def read_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one testdata parquet table (S7). Parquet gives the vectorized
    reader, column pruning and predicate pushdown for free — the scan the
    reference never had (it re-reads a full CSV, transformation_pipeline.py:40).

    ``events.ts`` has shipped in two physical vintages: TIMESTAMP(NANOS)
    (which Spark only reads as raw BIGINT via the legacy ``nanosAsLong``
    conf) and TIMESTAMP(MICROS) without isAdjustedToUTC (which Spark reads
    as TIMESTAMP_NTZ). The contract downstream is a plain TimestampType
    column whose UTC epoch equals the stored wall-clock value — exactly
    what micros-precision engines (e.g. DuckDB) yield on the same file.
    Branch on the dtype the scan actually produced, never on an assumed
    vintage: schema drift in the input must not break the reader."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _read_events_any_vintage(spark, path)
    return _read_parquet(spark, path)


def _placeholders(template: str) -> set[str]:
    return {field for _, field, _, _ in string.Formatter().parse(template) if field}


def table_sql(template: str) -> str:
    """``template`` with each ``{table}`` placeholder filled in by its own
    name: the text an engine with tables of those names runs (the DuckDB
    oracle)."""
    return template.format(**{name: name for name in _placeholders(template)})


def sql_over_tables(
    spark: SparkSession, template: str, sf_dir: str = DEFAULT_SF_DIR, **frames: DataFrame
) -> DataFrame:
    """``spark.sql(template)`` with each ``{table}`` placeholder bound to
    ``frames[table]`` or, when not given, to :func:`read_table`.

    The frames go in as DataFrame arguments: PySpark names each one by a
    uuid temp view for analysis and drops it before ``spark.sql``
    returns, so the query neither reads nor replaces a catalog name a
    caller may hold. Dropping a view also uncaches every cached plan
    equal to its frame and re-plans every unfilled cache that contains
    it, under a query that may be reading that cache on another thread
    (a concurrent prefix-sum query once returned no rows). So each
    frame carries a literal no other plan holds, which the optimizer
    prunes again. Write literal braces as ``{{``/``}}``."""
    from pyspark.sql import functions as F

    names = _placeholders(template) - frames.keys()
    tables = {name: read_table(spark, name, sf_dir) for name in names}
    token = f"__bind_{uuid.uuid4().hex}"
    bound = {
        name: df.withColumn(token, F.lit(token)).drop(token)
        for name, df in {**tables, **frames}.items()
    }
    return spark.sql(template, **bound)


def _read_parquet(spark: SparkSession, path: str, footer=None) -> DataFrame:
    """``spark.read.parquet(path)`` under the schema that call would infer,
    read from one footer in the Spark driver. Inference itself runs a Spark job
    on every call (Spark's schema merge parallelizes even a single file);
    this is a handful of JVM calls and no job. A path with no
    footer to read goes to Spark unchanged, so its error is Spark's own.
    ``footer`` is :func:`_read_footer`'s result when the caller already
    read it."""
    if footer is None:
        footer = _read_footer(spark, path)
    schema = None if footer is None else _footer_schema(spark, footer)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _read_footer(spark: SparkSession, path: str):
    """The parquet footer Spark's schema inference reads for ``path``
    without ``mergeSchema`` (a JVM ``Footer``): that of
    ``_common_metadata``, else ``_metadata``, else the first data file by
    path, listed as Spark's file index lists (recursively, skipping hidden
    and ``_``-prefixed names). ``None`` when the path does not exist or
    holds no file."""
    from py4j.java_gateway import JavaClass

    # JavaClass by name: one JVM round trip per call, where each dotted
    # step of ``spark._jvm.org.apache...`` costs one more
    gateway = spark.sparkContext._gateway._gateway_client

    def cls(name: str) -> JavaClass:
        return JavaClass(name, gateway)

    conf = spark._jsparkSession.sessionState().newHadoopConf()
    root = cls("org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None
    leaves = []
    pending = [fs.getFileStatus(root)]
    while pending:
        status = pending.pop()
        if not status.isDirectory():
            leaves.append(status)
            continue
        for child in fs.listStatus(status.getPath()):
            name = child.getPath().getName()
            hidden = (
                (name.startswith("_") and "=" not in name)
                or name.startswith(".")
                or name.endswith("._COPYING_")
            )
            if not hidden or name.startswith(("_common_metadata", "_metadata")):
                pending.append(child)
    if not leaves:
        return None
    rank = {"_common_metadata": 0, "_metadata": 1}
    chosen = min(leaves, key=lambda s: (rank.get(s.getPath().getName(), 2), s.getPath().toString()))
    return cls("org.apache.parquet.hadoop.Footer")(
        chosen.getPath(),
        cls(_PARQUET + "ParquetFooterReader").readFooter(
            cls("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(chosen, conf),
            cls("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        ),
    )


_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def _footer_schema(spark: SparkSession, footer) -> T.StructType:
    """``footer``'s Spark schema, converted by Spark's
    ``ParquetToSparkSchemaConverter`` under the session's SQLConf — so
    ``nanosAsLong`` and the TIMESTAMP_NTZ inference apply exactly as in a
    scan."""
    from py4j.java_gateway import JavaClass

    gateway = spark.sparkContext._gateway._gateway_client
    state = spark._jsparkSession.sessionState()
    converter = JavaClass(_PARQUET + "ParquetToSparkSchemaConverter", gateway)(state.conf())
    schema = JavaClass(_PARQUET + "ParquetFileFormat", gateway).readSchemaFromFooter(
        footer, converter
    )
    return T.StructType.fromJson(json.loads(schema.json()))


def _ts_is_nanos(footer) -> bool:
    """Whether ``footer``'s top-level ``ts`` column is annotated
    TIMESTAMP(NANOS)."""
    if footer is None:
        return False
    schema = footer.getParquetMetadata().getFileMetaData().getSchema()
    if not schema.containsField("ts"):
        return False
    ann = schema.getType("ts").getLogicalTypeAnnotation()
    return (
        ann is not None
        and ann.getClass().getSimpleName() == "TimestampLogicalTypeAnnotation"
        and ann.getUnit().name() == "NANOS"
    )


# Epoch-unit magnitude bands: 2000-2100 wall clocks land at ~1e9 (s),
# ~1e12 (ms), ~1e15 (us), ~1e18 (ns) — three orders of magnitude apart,
# so one sample value identifies the unit unambiguously.
_EPOCH_UNIT_BANDS: tuple[tuple[int, str], ...] = (
    (10**17, "ns"),
    (10**14, "us"),
    (10**11, "ms"),
    (0, "s"),
)


def infer_epoch_unit(sample: int) -> str:
    """'ns' | 'us' | 'ms' | 's' from one epoch value's magnitude."""
    v = abs(int(sample))
    return next(unit for floor, unit in _EPOCH_UNIT_BANDS if v >= floor)


# epoch-unit inference memo for unannotated INT64 columns:
# (path, file-mtime) -> unit. The sample job is one LocalLimit collect;
# without the memo it re-runs on EVERY plan construction over such a
# file (ADVICE r4). mtime in the key invalidates the entry when the
# driver regenerates the testdata.
_EPOCH_UNIT_CACHE: dict[tuple[str, float], str] = {}


def _path_mtime(path: str) -> float:
    """Latest mtime under ``path`` (parquet 'files' are often directories
    of part files; the dir mtime alone misses in-place part rewrites)."""
    try:
        if os.path.isdir(path):
            times = [os.path.getmtime(path)]
            for entry in os.scandir(path):
                times.append(entry.stat().st_mtime)
            return max(times)
        return os.path.getmtime(path)
    except OSError:
        return -1.0  # unstat-able (e.g. remote FS) -> cache per path only


def _epoch_long_to_ts(df, path: str = "", unit: str | None = None):
    """TimestampType from a raw BIGINT epoch ``ts`` column in ``unit``
    (``'ns'``, ``'us'``, ``'ms'`` or ``'s'``).

    ``unit`` comes from the footer's annotation when there is one. For an
    unannotated column it is inferred from sampled values instead of
    assuming a vintage (a raw int64 epoch column could arrive as nanos,
    micros or millis). The sample is a LocalLimit job — first non-empty
    partition only, even on a 100 TB table; it takes the MEDIAN magnitude
    of up to 16 non-null, non-zero values so neither a 0/epoch-start
    sentinel nor a few corrupt oversized values can misclassify the whole
    column. The result is memoized per (path, mtime) so the job runs once
    per file vintage, not once per plan construction, and the chosen unit
    is logged so a misclassification is visible. Integer arithmetic
    throughout: float division of epoch-nanos longs exceeds double's
    53-bit mantissa and rounds the last microsecond."""
    from pyspark.sql import functions as F

    cache_key = (path, _path_mtime(path)) if path and unit is None else None
    if unit is None and cache_key:
        unit = _EPOCH_UNIT_CACHE.get(cache_key)
    if unit is None:
        rows = (
            df.where(F.col("ts").isNotNull() & (F.col("ts") != 0))
            .select("ts")
            .limit(16)
            .collect()
        )
        if rows:
            mags = sorted(abs(r[0]) for r in rows)
            unit = infer_epoch_unit(mags[len(mags) // 2])
        else:
            unit = "ns"
        _log.info("epoch unit for %s: %s (from %d samples)", path or "<df>", unit, len(rows))
        if cache_key:
            _EPOCH_UNIT_CACHE[cache_key] = unit
    expr = {
        "ns": "ts DIV 1000",
        "us": "ts",
        "ms": "ts * 1000",
        "s": "ts * 1000000",
    }[unit]
    return F.timestamp_micros(F.expr(expr))


def _pin_utc(spark: SparkSession) -> None:
    """Pin the session TZ to UTC for NTZ-reinterpretation reads, loudly.

    The cast that follows resolves against the session TZ at analysis
    time, so a save-and-restore would silently break the lazy plan; the
    session must genuinely stay UTC. session.py pins UTC at creation, so
    in-repo this never fires a warning — but a caller embedding the
    readers in a non-UTC session deserves to hear that later queries'
    timestamp semantics just changed (ADVICE r4)."""
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    if prev not in (None, "UTC", "Etc/UTC", "GMT"):
        import warnings

        warnings.warn(
            f"read_table(events): session timeZone changed {prev!r} -> 'UTC' "
            "to reinterpret a TIMESTAMP_NTZ vintage; this affects the whole "
            "session",
            stacklevel=3,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV scan with an explicit schema (S6) — replaces the reference's
    inferring ``pd.read_csv`` (transformation_pipeline.py:40). No inference
    pass, deterministic types at any scale."""
    return spark.read.schema(schema).option("header", True).csv(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S5) — parity with the reference's ``df.to_csv``
    (extract_pipeline.py:89; transformation_pipeline.py:66-117).
    ``single_file`` coalesces to 1 partition for small dims only; the
    default keeps one file per partition (the scale path)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-Lines scan with an explicit schema — the interchange format
    of LLM training corpora (one document object per line). Explicit
    schema skips Spark's sampling inference pass (a full extra scan at
    100 TB) and keeps types deterministic; JSONL splits by line, so a
    single large file still parallelizes across executors."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON-Lines sink (one object per row, newline-delimited). The
    default writes one file per partition — the scale path; pair with
    ``repartition`` upstream to control shard count/size."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — Spark's second built-in columnar format (vectorized
    reader, predicate pushdown and column pruning like parquet). Kept
    for interchange with Hive/Trino-era warehouses."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib-striped columnar, one file per partition)."""
    df.write.mode("overwrite").orc(path)


def compact_small_files(
    spark: SparkSession, src_path: str, dst_path: str, target_files: int
) -> DataFrame:
    """Small-files compaction — the lakehouse maintenance op every
    streaming/batch landing zone eventually needs: N tiny parquet files
    (each its own scan task, footer fetch and open cost) rewritten as
    ``target_files`` right-sized ones. One read + one repartition + one
    write; row content is untouched, which is exactly what the caller
    should verify (the compact_files qname's oracle does). At scale the
    target count comes from bytes/target-size, not a constant — the
    mechanism is identical."""
    df = spark.read.parquet(src_path)
    df.repartition(target_files).write.mode("overwrite").parquet(dst_path)
    return spark.read.parquet(dst_path)


def read_events_landing(spark: SparkSession, root: str) -> DataFrame:
    """Read an events landing zone whose batches may span PHYSICAL ts
    vintages (TIMESTAMP(NANOS) rounds <=2, TIMESTAMP(MICROS)-NTZ rounds
    >=3, raw int64 epochs as a future drift). ``mergeSchema`` cannot
    reconcile physical drift — the footer merge sees bigint vs
    timestamp_ntz and fails — so each batch directory goes through the
    vintage-adaptive events reader (:func:`read_table`'s normalization)
    FIRST and the union happens on the normalized TimestampType schema.
    This is the round-3 lesson made structural: a driver testdata
    re-encode lands as just another vintage in one batch, and the union
    keeps reading. At scale this is a per-batch footer decision — no
    data rewrite, no extra shuffle (unionByName is a narrow op)."""
    # Skip writer metadata/staging entries (_temporary, .spark-staging,
    # _delta_log, _SUCCESS, .crc) — the same leading '_'/'.' convention
    # Spark's own file index uses. Reading those as batches would fail
    # the scan or duplicate data in a real landing zone (ADVICE r6).
    batches = sorted(
        e.path for e in os.scandir(root)
        if not e.name.startswith(("_", "."))
        and (e.is_dir() or e.name.endswith(".parquet"))
    )
    if not batches:
        raise ValueError(f"no landed batches under {root}")
    frames = [_read_events_any_vintage(spark, b) for b in batches]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _read_events_raw(spark: SparkSession, path: str) -> tuple[DataFrame, str | None]:
    """The events scan before ``ts`` is normalized, and the epoch unit
    of a BIGINT ``ts`` when the footer states it (``None`` otherwise).

    The footer says the ts vintage. Only a TIMESTAMP(NANOS) column needs
    the legacy ``nanosAsLong`` conf (Spark otherwise fails the scan),
    which reads it as a BIGINT of epoch nanos; other vintages leave the
    session alone."""
    footer = _read_footer(spark, path)
    nanos = _ts_is_nanos(footer)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read_parquet(spark, path, footer), "ns" if nanos else None


def _read_events_any_vintage(spark: SparkSession, path: str) -> DataFrame:
    """The vintage-adaptive events scan shared by ``read_table`` and
    :func:`read_events_landing`. Branch on the dtype the scan actually
    produced, never on an assumed vintage."""
    from pyspark.sql import functions as F

    df, unit = _read_events_raw(spark, path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", _epoch_long_to_ts(df, path, unit))
    if ts_type == "timestamp_ntz":
        # micros-NTZ vintage: reinterpret the wall-clock value as UTC so
        # the epoch matches the nanos-vintage path bit for bit. The cast
        # resolves against the session TZ at analysis time — pin it here
        # rather than trusting the caller to have done so.
        _pin_utc(spark)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df  # already a session-TZ timestamp — pass through


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink — the engine's default interchange format. Optional
    ``partition_by`` enables static + dynamic partition pruning downstream
    (SURVEY.md §4.2 'partition pruning')."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
