"""Schema-drift regression tests for ``read_table`` (VERDICT r3 item 2).

The driver's ``events.parquet`` has shipped in two physical vintages —
TIMESTAMP(NANOS) (round ≤2) and TIMESTAMP(MICROS) without isAdjustedToUTC
(round ≥3). Round 3 died because the reader assumed the nanos vintage;
these tests pin the contract: ``read_table`` must yield ``ts: timestamp``
with identical UTC epoch values for BOTH vintages, so the next physical
re-encode of the testdata fails here (builder-side) and not in the
driver's correctness run.
"""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from books2scrape_etl_spark.io import TABLES, read_table
from tests.fixtures import jobs_started

# Wall-clock instants the fixture writers encode; chosen with non-zero
# microseconds so precision truncation bugs can't hide.
_INSTANTS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
    datetime.datetime(2024, 6, 15, 12, 30, 45, 654321),
    datetime.datetime(2025, 12, 31, 23, 59, 59, 999999),
]


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    n = len(_INSTANTS)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(['{"k": 1}'] * n),
        }
    )
    path = f"{tmpdir}/events.parquet"
    pq.write_table(table, path)
    return tmpdir


@pytest.fixture
def nanos_dir(tmp_path):
    # legacy vintage: physical TIMESTAMP(NANOS)
    return _write_events(str(tmp_path), pa.array(_INSTANTS, pa.timestamp("ns")))


@pytest.fixture
def micros_dir(tmp_path):
    # current vintage: physical TIMESTAMP(MICROS), no isAdjustedToUTC
    # (Spark reads this as TIMESTAMP_NTZ)
    return _write_events(str(tmp_path), pa.array(_INSTANTS, pa.timestamp("us")))


def _epochs(spark, sf_dir):
    df = read_table(spark, "events", sf_dir)
    assert dict(df.dtypes)["ts"] == "timestamp"
    return [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]


def _expected_epochs():
    return [
        int(dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
        for dt in _INSTANTS
    ]


def test_read_table_events_nanos_vintage(spark, nanos_dir):
    assert _epochs(spark, nanos_dir) == _expected_epochs()


def test_read_table_events_raw_int64_micros(spark, tmp_path):
    # a future drift to a PLAIN int64 epoch column (no parquet timestamp
    # annotation at all) must not be misread as nanos: the unit is
    # inferred from magnitude
    us = pa.array(_expected_epochs(), pa.int64())
    d = _write_events(str(tmp_path), us)
    assert _epochs(spark, d) == _expected_epochs()


def test_read_table_events_raw_int64_millis(spark, tmp_path):
    ms = pa.array([e // 1000 for e in _expected_epochs()], pa.int64())
    d = _write_events(str(tmp_path), ms)
    assert _epochs(spark, d) == [e // 1000 * 1000 for e in _expected_epochs()]


def test_epoch_unit_inference_bands():
    from books2scrape_etl_spark.io import infer_epoch_unit

    base = 1_700_000_000  # ~2023 in seconds
    assert infer_epoch_unit(base) == "s"
    assert infer_epoch_unit(base * 10**3) == "ms"
    assert infer_epoch_unit(base * 10**6) == "us"
    assert infer_epoch_unit(base * 10**9) == "ns"


def test_read_table_events_micros_vintage(spark, micros_dir):
    assert _epochs(spark, micros_dir) == _expected_epochs()


def test_both_vintages_agree(spark, nanos_dir, micros_dir):
    assert _epochs(spark, nanos_dir) == _epochs(spark, micros_dir)


def test_driver_testdata_reads_as_timestamp(spark, sf_dir):
    """Whatever vintage the driver currently ships, the contract holds."""
    df = read_table(spark, "events", sf_dir)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.where(F.col("ts").isNull()).limit(1).count() == 0


def test_mixed_vintage_landing_union(spark, tmp_path):
    """A landing zone where batch 1 shipped as TIMESTAMP(NANOS) and
    batch 2 as TIMESTAMP(MICROS)-NTZ — the realistic drift when the
    driver re-encodes testdata mid-history (VERDICT r5 item 6).
    mergeSchema cannot reconcile physical drift (bigint-via-nanosAsLong
    vs timestamp_ntz), so read_events_landing normalizes each batch
    through the vintage-adaptive reader BEFORE the union; the result
    must carry every row of both batches with identical UTC epochs."""
    from books2scrape_etl_spark.io import read_events_landing

    root = tmp_path / "landing"
    (root / "b1").mkdir(parents=True)
    (root / "b2").mkdir()
    _write_events(str(root / "b1"), pa.array(_INSTANTS, pa.timestamp("ns")))
    _write_events(str(root / "b2"), pa.array(_INSTANTS, pa.timestamp("us")))

    df = read_events_landing(spark, str(root))
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(
        r[0] for r in df.select(F.unix_micros("ts")).collect()
    )
    assert got == sorted(_expected_epochs() * 2)


def test_mixed_vintage_landing_compacts_losslessly(spark, tmp_path):
    """Compacting a mixed-vintage landing zone must preserve every
    epoch: normalize first (read_events_landing), then the compaction
    rewrite — the maintenance job a new-vintage drop must survive."""
    from books2scrape_etl_spark.io import read_events_landing

    root = tmp_path / "landing"
    (root / "b1").mkdir(parents=True)
    (root / "b2").mkdir()
    _write_events(str(root / "b1"), pa.array(_INSTANTS, pa.timestamp("ns")))
    _write_events(str(root / "b2"), pa.array(_INSTANTS, pa.timestamp("us")))

    dst = str(tmp_path / "compacted")
    read_events_landing(spark, str(root)).repartition(1).write.parquet(dst)
    again = spark.read.parquet(dst)
    got = sorted(r[0] for r in again.select(F.unix_micros("ts")).collect())
    assert got == sorted(_expected_epochs() * 2)


def test_landing_skips_writer_metadata_dirs(spark, tmp_path):
    """ADVICE r6: _temporary / .spark-staging / _delta_log entries in a
    real landing zone are writer metadata, not batches — the scan must
    skip them (leading '_'/'.' convention) instead of failing or
    duplicating data."""
    from books2scrape_etl_spark.io import read_events_landing

    root = tmp_path / "landing"
    (root / "b1").mkdir(parents=True)
    _write_events(str(root / "b1"), pa.array(_INSTANTS, pa.timestamp("us")))
    # junk the zone: an in-flight staging dir with a partial copy, and
    # marker files
    (root / "_delta_log").mkdir()
    (root / "_delta_log" / "000.json").write_text("{}")
    (root / ".spark-staging-123").mkdir()
    _write_events(str(root / ".spark-staging-123"), pa.array(_INSTANTS, pa.timestamp("us")))
    (root / "_SUCCESS").write_text("")

    df = read_events_landing(spark, str(root))
    got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
    assert got == sorted(_expected_epochs())  # exactly one batch, no dupes


def test_read_table_starts_no_job_and_keeps_inferred_schema(spark, sf_dir):
    """``read_table`` takes each table's schema from its parquet footer in
    the Spark driver: no schema-inference job, and the schema Spark's own
    inference gives the same file. (events' contract is its normalized
    ``ts``, pinned by the vintage tests.)"""
    for name in TABLES:
        df, jobs = jobs_started(spark, lambda: read_table(spark, name, sf_dir))
        assert jobs == 0, name
        if name != "events":
            inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
            assert df.schema == inferred, name


@pytest.mark.parametrize("vintage", ["nanos_dir", "micros_dir"])
def test_read_table_events_vintage_starts_no_job(spark, vintage, request):
    """No job for either vintage, not even on a file's first read: the
    schema and the nanos vintage's epoch unit both come from the parquet
    footer (only an unannotated INT64 column is sampled)."""
    d = request.getfixturevalue(vintage)
    _, first = jobs_started(spark, lambda: read_table(spark, "events", d))
    assert first == 0
    df, again = jobs_started(spark, lambda: read_table(spark, "events", d))
    assert again == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert _epochs(spark, d) == _expected_epochs()
