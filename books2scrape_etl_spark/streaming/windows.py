"""Streaming operators T1-T6 (SURVEY.md §2.9).

The reference's only streaming construct is a 10-minute full recompute
under Airflow (airflow.py:31,35). Here:

- T1: the recompute becomes a Structured Streaming job with
  ``availableNow`` (drain-and-stop) or ``processingTime`` triggers.
- T2/T3: tumbling / session windows over ``events.ts``. Each has a
  **batch-equivalent** form (same F.window / F.session_window
  expressions on a static DataFrame) — those are the oracle-checkable
  semantics — plus the streaming wrapper.
- T4: watermark + late-data drop; T5: streaming dedup within the
  watermark; T6: arbitrary stateful per-key processing
  (applyInPandasWithState).

Scale notes: windowed aggregations shuffle on (window, key) — state
store size is bounded by watermark horizon x key cardinality;
``spark.sql.shuffle.partitions`` fixes streaming state partition count
at first run (choose for the target cluster, not the laptop).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from books2scrape_etl_spark.functions.util import conf_guard, land_once
from books2scrape_etl_spark.io import TESTDATA_SCHEMAS


def tumbling_counts_batch(events: DataFrame, minutes: int = 10) -> DataFrame:
    """T2 batch-equivalent: epoch-aligned tumbling buckets as plain
    longs — timezone-free (ts -> epoch seconds -> integer division), so
    semantics are identical in any engine at any session timezone."""
    bucket = F.floor(F.col("ts").cast("long") / (minutes * 60)).alias("bucket")
    return (
        events.groupBy(bucket, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


def hopping_counts_batch(
    events: DataFrame, minutes: int = 30, slide_minutes: int = 10
) -> DataFrame:
    """T2b — hopping (sliding) windows via F.window(size, slide): each
    event lands in size/slide overlapping windows, the shape behind
    trailing-30-minutes-updated-every-10 dashboards. Uses the REAL
    window expression (identical under readStream); start surfaced as
    an epoch long (TZ-free). State per key is size/slide concurrent
    windows — bounded, watermark-evictable; the fan-out is a generator
    inside the aggregate, never a stored copy of the input."""
    w = F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tumbling_counts_window(events: DataFrame, minutes: int = 10) -> DataFrame:
    """T2 via F.window — the form that runs identically under
    readStream; window start/end surfaced as epoch longs (TZ-free)."""
    w = F.window("ts", f"{minutes} minutes")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("w_start"),
            F.col("w.end").cast("long").alias("w_end"),
            "event_type",
            "n_events",
        )
    )


def session_windows_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """T3 batch-equivalent: per-user session windows.

    ``F.session_window`` works on static frames too; sessions close
    after ``gap_minutes`` of per-user inactivity."""
    sw = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        events.groupBy(sw.alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def _stage_events_dir(spark: SparkSession, src: str, copies: int) -> str:
    """The file-stream source wants a directory: land one holding
    ``copies`` symlinks to the events file ``src`` (what a real
    deployment's landing directory would be), once per (src, copies)
    per session. Concurrent drains (stream_windows_suite's seven
    streams) share it; it is never rebuilt under a live stream."""

    def link(base: str) -> None:
        os.makedirs(base)
        for i in range(copies):
            os.symlink(src, os.path.join(base, f"events_{i}.parquet"))

    return land_once(spark, f"events_stream_x{copies}", src, link)


def _stream_events(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    # Streaming twin of io.read_table's events branch: ``ts`` has shipped
    # as TIMESTAMP(NANOS) (readable only as raw BIGINT via the legacy
    # conf) and as TIMESTAMP(MICROS)-NTZ. readStream needs a declared
    # schema, so read the actual dtype from the footer first (no job) and
    # declare to match; assuming a vintage is exactly the round-3
    # regression.
    from pyspark.sql import types as T

    from books2scrape_etl_spark.io import _read_events_raw

    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    probe, unit = _read_events_raw(spark, src)
    ts_read = dict(probe.dtypes)["ts"]
    ts_type: T.DataType = {
        "bigint": T.LongType(),
        "timestamp_ntz": T.TimestampNTZType(),
    }.get(ts_read, T.TimestampType())
    schema = T.StructType(
        [
            T.StructField(f.name, ts_type if f.name == "ts" else f.dataType)
            for f in TESTDATA_SCHEMAS["events"].fields
        ]
    )
    # ``copies`` > 1 is a genuinely duplicated stream for exercising
    # dedup (every event arrives ``copies`` times; exactly-once
    # semantics must collapse it).
    stream_dir = _stage_events_dir(spark, src, copies)
    raw = spark.readStream.schema(schema).parquet(stream_dir)
    if ts_read == "bigint":
        # raw epoch longs: the footer's unit, else inferred (ns/us/ms/s)
        # from sampled values of the batch probe — same rule as io.py; a
        # streaming source can't run the sample job itself
        from books2scrape_etl_spark.io import _epoch_long_to_ts

        return raw.withColumn("ts", _epoch_long_to_ts(probe, src, unit))
    if ts_read == "timestamp_ntz":
        # micros-NTZ vintage: reinterpret wall clock as UTC epoch
        from books2scrape_etl_spark.io import _pin_utc

        _pin_utc(spark)
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


# Shuffle width for the self-contained drain helpers. Streaming state
# partition count is fixed per checkpoint at first run; a vanilla
# session's default 200 means 200 state-store instances PER stateful
# operator PER micro-batch — ~10x the wall clock of the drain on toy
# data. Drains execute EAGERLY inside the guard, so nothing lazy
# escapes with the narrowed width. On a real cluster callers drive
# partitioning via their own conf.
STATE_PARTITION_CONFS = {"spark.sql.shuffle.partitions": "8"}


def _drain_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming query to completion (availableNow) into a memory
    sink and return the result table — T1's drain-and-stop trigger, the
    streaming analogue of the reference's scheduled full recompute.

    Checkpoint + memory-table lifecycle (the ADVICE r6 leak class): the
    checkpoint dir lives in a TemporaryDirectory removed after the
    drain, and the memory table is dropped once its rows are pinned by
    an eager localCheckpoint — one drain leaves nothing behind."""
    name = f"s_{uuid.uuid4().hex[:10]}"
    spark = stream_df.sparkSession
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        with conf_guard(spark, STATE_PARTITION_CONFS):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(ckpt, "offsets"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.table(name).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
    return out


def streaming_tumbling(spark: SparkSession, sf_dir: str, minutes: int = 10) -> DataFrame:
    """T1+T2+T4: watermarked tumbling counts over a real readStream,
    drained with availableNow. Late rows beyond the 1-hour watermark
    would be dropped; with a single drained batch nothing is late, so
    the result equals the batch form (which is how it's oracle-checked)."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = tumbling_counts_window(ev, minutes)
    return _drain_to_memory(agg, "append")


def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars over a real readStream (the streaming form of
    query_defs12.q_ohlc_bars): ``min_by``/``max_by`` on the composite
    (epoch-second, event_id) key run as STREAMING aggregates inside a
    watermarked F.window — per-key state is the pair (value, best key)
    per extremum, constant-size and mergeable across micro-batches, so
    a bar's open/close settle to the same rows the batch form picks
    regardless of how the files split into batches.

    Complete mode for the same reason as hopping: append would hold
    back the final unevicted windows of the drain. The suite verifies
    open/close (the order-sensitive outputs; high/low/volume are plain
    min/max/count already covered by the tumbling section)."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    es = F.col("ts").cast("long")
    key = es * F.lit(1_000_000) + F.col("event_id")
    agg = (
        ev.groupBy(F.window("ts", "60 minutes").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_es"),
            "event_type",
            "open",
            "close",
            "volume",
        )
    )
    return _drain_to_memory(agg, "complete")


def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7b — stream-STATIC enrichment join (the other join shape next
    to the stream-stream interval join): streaming events inner-join
    the static customer dimension on user_id = c_custkey, then a
    per-segment streaming aggregate, drained availableNow in complete
    mode.

    Unlike stream-stream, a stream-static inner join needs NO
    watermark and keeps NO join state — each micro-batch joins against
    the (broadcastable) static side, which is exactly how a 100 TB
    stream enriches against dimension tables. The drained result must
    equal the plain batch join+group the oracle replays."""
    import os as _os

    ev = _stream_events(spark, sf_dir)
    cust = (
        spark.read.parquet(_os.path.join(sf_dir, "customer.parquet"))
        .select(F.col("c_custkey"), F.col("c_mktsegment"))
    )
    joined = ev.join(cust, ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    return _drain_to_memory(agg, "complete")


def streaming_hopping(
    spark: SparkSession, sf_dir: str, minutes: int = 30, slide_minutes: int = 10
) -> DataFrame:
    """T2b streaming form (VERDICT r6 item 8): watermarked hopping
    counts over a real readStream, drained with availableNow. The same
    F.window(size, slide) expression as :func:`hopping_counts_batch`,
    so the drained result equals the batch form — which is how the
    suite oracle value-checks it (the window_hopping single pins the
    batch expression against DuckDB's explicit 3-way expansion).

    Complete output mode, not append: append only emits windows the
    final watermark has passed, so the last size/slide windows of the
    drain stay parked in state and the result comes up short of the
    batch form (measured: 6 rows at sf0.001). Complete emits every
    window — for a bounded availableNow drain the unevicted state is
    bounded too."""
    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = hopping_counts_batch(ev, minutes, slide_minutes)
    return _drain_to_memory(agg, "complete")


def streaming_dedup(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """T5: dropDuplicatesWithinWatermark on event_id over a real stream.

    With ``copies > 1`` every event arrives ``copies`` times (duplicated
    landing files — the classic at-least-once delivery scenario) and the
    deduped per-type counts must equal the single-copy counts exactly:
    whether the copies land in one micro-batch (in-batch dedup state) or
    several (cross-batch state lookup, or late-drop once the watermark
    has passed them), every path collapses the duplicate. That equality
    is what the oracle-paired suite section checks."""
    ev = _stream_events(spark, sf_dir, copies=copies).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    counted = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return _drain_to_memory(counted, "complete")


def stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: arbitrary stateful per-key processing — running max of
    ``value`` per user via applyInPandasWithState (GroupState keyed by
    user_id, one state row per key)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")

    def fn(key, pdfs, state: GroupState):
        mx = state.get[0] if state.exists else float("-inf")
        n = 0
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += len(pdf)
        state.update((mx,))
        yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx], "n_seen": [n]})

    out = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, max_value double, n_seen long",
        stateStructType="max_value double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    return _drain_to_memory(out, "update")


def stateful_session_agg_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6b — the Spark 4 ``transformWithStateInPandas`` surface: typed
    per-key ValueState (running count + exact-cents value sum per user)
    through a StatefulProcessor. Differs from applyInPandasWithState
    (T6) in state typing, multiple named state variables, timers, and
    eviction hooks — the API new stateful operators should target;
    the older surface stays for parity. Exact-cents accumulation keeps
    the emitted sums deterministic under any batch split."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = 0, 0
            if self._state.exists():
                n, cents = self._state.get()
            for pdf in rows:
                n += len(pdf)
                cents += int((pdf["value"] * 100).round().astype("int64").sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
            )

        def close(self) -> None:
            pass

    ev = _stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        UserTotals(),
        outputStructType="user_id long, n_events long, value_cents long",
        outputMode="Update",
        timeMode="None",
    )
    return _drain_to_memory(out, "update")


def click_purchase_join_batch(events: DataFrame, window_minutes: int = 30) -> DataFrame:
    """T7 batch-equivalent: clicks joined to same-user purchases within
    ``window_minutes`` after the click. Event times surfaced as floored
    epoch longs (TZ-free — the same convention as the window qnames), so
    any engine replays the identical join predicate."""
    e = F.col("ts").cast("long")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), e.alias("c_e")
    )
    buys = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("event_id").alias("buy_id"), e.alias("b_e")
    )
    return (
        clicks.join(
            buys,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("b_e") >= F.col("c_e"))
            & (F.col("b_e") <= F.col("c_e") + window_minutes * 60),
        )
        .select("user_id", "click_id", "buy_id", (F.col("b_e") - F.col("c_e")).alias("lag_s"))
    )


def streaming_click_purchase_join(
    spark: SparkSession, sf_dir: str, window_minutes: int = 30
) -> DataFrame:
    """T7: stream-stream inner join — the one streaming shape T1-T6
    don't cover. Both sides are watermarked and the join carries a
    time-range predicate, so state eviction is bounded: a click older
    than watermark + ``window_minutes`` can never match again and its
    state row is dropped. Without the range condition a stream-stream
    join would buffer both streams forever — the predicate IS the scale
    design. Self-joining one source stream is two logical streams to
    the engine (each side tracks its own watermark)."""
    ev = _stream_events(spark, sf_dir)
    # Event time truncated to whole seconds: the attribution window is
    # defined at second granularity (the batch twin and its oracle use
    # floor(epoch(ts))), so the stream must bound the interval on the
    # same clock — on raw microsecond timestamps, a purchase landing in
    # the sub-second gap at exactly the +30min boundary would match the
    # batch form but not the stream.
    sec = F.date_trunc("second", F.col("ts"))
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), sec.alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            sec.alias("b_ts"),
        )
        .withWatermark("b_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        F.expr(
            f"user_id = b_user AND b_ts >= c_ts "
            f"AND b_ts <= c_ts + interval {window_minutes} minutes"
        ),
    ).select(
        "user_id",
        "click_id",
        "buy_id",
        (F.col("b_ts").cast("long") - F.col("c_ts").cast("long")).alias("lag_s"),
    )
    return _drain_to_memory(joined, "append")
