"""Structured Streaming tests: real readStream runs drained with
availableNow, checked against their batch-equivalent semantics."""

import pytest
from pyspark.sql import functions as F

from books2scrape_etl_spark.io import read_table
from books2scrape_etl_spark.streaming.windows import (
    session_windows_batch,
    streaming_dedup,
    streaming_tumbling,
    stateful_running_max,
    tumbling_counts_batch,
    tumbling_counts_window,
)


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    ev = read_table(spark, "events", sf_dir)
    batch = {
        (r.w_start, r.event_type): r.n_events
        for r in tumbling_counts_window(ev, 10).collect()
    }
    stream = {
        (r.w_start, r.event_type): r.n_events
        for r in streaming_tumbling(spark, sf_dir, 10).collect()
    }
    # append mode emits a window only once the watermark passes its end:
    # every emitted window must match batch exactly, and the only windows
    # withheld are those within the 1-hour watermark horizon of max(ts)
    assert stream.items() <= batch.items()
    max_ts = ev.agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    withheld = set(batch) - set(stream)
    assert all(w_start + 600 > max_ts - 3600 for (w_start, _) in withheld)
    assert len(stream) > 0.9 * len(batch)


def test_streaming_dedup_counts(spark, sf_dir):
    ev = read_table(spark, "events", sf_dir)
    expected = {
        r.event_type: r.n
        for r in ev.dropDuplicates(["event_id"]).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    got = {r.event_type: r.n_events for r in streaming_dedup(spark, sf_dir).collect()}
    assert got == expected


def test_stateful_running_max(spark, sf_dir):
    ev = read_table(spark, "events", sf_dir)
    expected = {
        r.user_id: r.mx
        for r in ev.groupBy("user_id").agg(F.max("value").alias("mx")).collect()
    }
    got = {r.user_id: r.max_value for r in stateful_running_max(spark, sf_dir).collect()}
    assert got == expected


def test_session_window_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1, 1.0),
        (2, "2024-01-01 00:10:00", 1, 1.0),  # within 30min -> same session
        (3, "2024-01-01 01:00:00", 1, 1.0),  # 50min gap -> new session
        (4, "2024-01-01 00:00:00", 2, 1.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, user_id long, value double")
    ev = ev.withColumn("ts", F.to_timestamp("ts"))
    got = sorted(
        (r.user_id, r.n_events) for r in session_windows_batch(ev, 30).collect()
    )
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_streaming_books_star_foreachbatch_idempotent(spark, tmp_path):
    import os

    from books2scrape_etl_spark.streaming.pipeline import (
        land_one_batch,
        streaming_books_star,
    )
    from tests.fixtures import books_raw_df

    raw = books_raw_df(spark)
    landing = str(tmp_path / "landing")
    raw.repartition(2).write.parquet(landing)

    out = str(tmp_path / "star")
    fact = streaming_books_star(spark, landing, out_dir=out, max_files_per_trigger=1)
    total = fact.count()
    assert total == raw.count()  # every raw row landed exactly once
    n_batches = fact.select("batch_id").distinct().count()
    assert n_batches >= 2  # maxFilesPerTrigger=1 -> one batch per file

    # replaying a batch id must overwrite, not append (exactly-once)
    some_batch = fact.select("batch_id").distinct().collect()[0][0]
    replay_rows = fact.where(fact["batch_id"] == some_batch).count()
    land_one_batch(
        spark,
        raw.limit(replay_rows),
        out,
        int(some_batch),
    )
    again = spark.read.parquet(os.path.join(out, "fact"))
    assert again.count() == total  # unchanged total: partition overwritten


def test_books_datasource_streams_one_page_per_batch(spark, tmp_path):
    import time
    import uuid

    from books2scrape_etl_spark.sources.datasource import register_books_source

    register_books_source(spark)
    name = f"books_stream_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("books")
        .option("pages", "2")
        .option("fixtures", "true")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table(name).collect()
    titles = {r["Title"] for r in rows}
    assert "A Light in the Attic" in titles
    assert len(rows) >= 3  # all fixture books landed exactly once
    assert len(rows) == len({r["UPC"] for r in rows} | {None}) - (
        0 if all(r["UPC"] for r in rows) else 1
    ) or len(rows) == len([r["UPC"] for r in rows])


def test_transform_with_state_totals(spark, sf_dir):
    pytest.importorskip(
        "google.protobuf", reason="transformWithStateInPandas needs protobuf"
    )
    from books2scrape_etl_spark.streaming.windows import stateful_session_agg_tws

    out = stateful_session_agg_tws(spark, sf_dir)
    rows = {r.user_id: (r.n_events, r.value_cents) for r in out.collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    import pyspark.sql.functions as F

    exp = {
        r.user_id: (r.n, r.cents)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    # final state per user equals the batch aggregate
    assert {u: v for u, v in rows.items()} == exp


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The RT stream-stream join must produce exactly the pairs a batch
    join with the same (microsecond-precision) predicate produces."""
    from pyspark.sql import functions as F

    from books2scrape_etl_spark.io import read_table
    from books2scrape_etl_spark.streaming.windows import (
        streaming_click_purchase_join,
    )

    got = {
        (r.user_id, r.click_id, r.buy_id)
        for r in streaming_click_purchase_join(spark, sf_dir, 30).collect()
    }
    ev = read_table(spark, "events", sf_dir)
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    b = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("b_ts"),
    )
    want = {
        (r.user_id, r.click_id, r.buy_id)
        for r in c.join(
            b,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("c_ts"))
            & (F.col("b_ts") <= F.col("c_ts") + F.expr("interval 30 minutes")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup_collapses_duplicated_stream(spark, sf_dir):
    """T5 with at-least-once delivery simulated: every event arrives
    twice (two landing files of the same data); the watermarked dedup
    must collapse the stream back to single-copy per-type counts."""
    from books2scrape_etl_spark.streaming.windows import streaming_dedup

    got = {
        (r.event_type, r.n_events)
        for r in streaming_dedup(spark, sf_dir, copies=2).collect()
    }
    ev = read_table(spark, "events", sf_dir)
    want = {
        (r.event_type, r.n)
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """True restart semantics (not just batch-replay idempotence): a
    SECOND query started with the SAME checkpoint must resume from the
    recorded source offsets — new files process exactly once, already-
    processed files are NOT re-delivered to the sink."""
    import os

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def land(lo, hi, name):
        spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(
            os.path.join(landing, name)
        )

    def drain():
        q = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(landing + "/*")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    land(0, 100, "b1")
    drain()  # first run: file b1 -> offsets recorded in ckpt
    first = spark.read.parquet(out)
    assert first.count() == 100

    land(100, 150, "b2")
    drain()  # restart with the SAME checkpoint: only b2 may process
    final = spark.read.parquet(out)
    assert final.count() == 150  # 100 would mean b2 missed; 250 a re-delivery
    ids = [r.id for r in final.select("id").distinct().collect()]
    assert len(ids) == 150 and min(ids) == 0 and max(ids) == 149


def test_stream_static_join_matches_batch(spark, sf_dir):
    """T7b: the drained stream-static enrichment join equals the plain
    batch join+group (stateless per-batch join against the static
    dimension — no watermark required)."""
    import os

    from books2scrape_etl_spark.streaming.windows import streaming_static_join

    ev = read_table(spark, "events", sf_dir)
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    batch = {
        r.c_mktsegment: (r.n, float(r.v))
        for r in ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v"),
        )
        .collect()
    }
    assert batch  # the join overlaps (user ids are customer keys)
    streamed = {
        r.c_mktsegment: (r.n_events, float(r.sum_value))
        for r in streaming_static_join(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stateful_state_survives_midrun_kill(spark, tmp_path):
    """State-store recovery, not just source-offset recovery: a
    dropDuplicates stream hard-stopped MID-DRAIN must, after restart
    from the same checkpoint, still suppress duplicates of ids it
    deduped before the kill. If the state store were lost on restart,
    the second wave's copies of the first wave's ids would re-emit and
    the sink would hold duplicates."""
    import os
    import time

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def land(ids, name):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.parquet(
            os.path.join(landing, name)
        )

    def start():
        return (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(landing + "/*")
            .dropDuplicates(["id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # wave 1: four 1-file micro-batches, heavy overlap between files
    land(range(0, 100), "f1")
    land(range(0, 120), "f2")   # 0..99 duplicate f1
    land(range(50, 150), "f3")  # 50..119 duplicate f1/f2
    land(range(0, 150), "f4")   # all duplicates
    q = start()
    # hard-stop as soon as at least one micro-batch has committed
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "no micro-batch committed within 120s"
    q.stop()
    q.awaitTermination(60)

    # wave 2: every id 0..149 again (pure duplicates of wave-1 state)
    # plus fresh 150..199
    land(range(0, 200), "f5")
    q2 = start()
    q2.awaitTermination(180)
    assert not q2.isActive

    final = spark.read.parquet(out)
    ids = [r.id for r in final.select("id").collect()]
    assert len(ids) == len(set(ids)), "duplicates in sink: state store lost on restart"
    assert sorted(set(ids)) == list(range(200))


def test_stage_events_dir_concurrent_and_reusable(spark, sf_dir):
    """The staging dir must survive concurrent stagers (the parallel
    suite's seven drains) and be REUSED, not rebuilt, once landed — a
    destructive rebuild deletes a sibling's landing dir mid-drain
    (the r9c3 FileExistsError find)."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from books2scrape_etl_spark.streaming.windows import _stage_events_dir

    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    with ThreadPoolExecutor(max_workers=8) as pool:
        dirs = list(pool.map(lambda _: _stage_events_dir(spark, src, 1), range(16)))
    assert len(set(dirs)) == 1
    d = dirs[0]
    assert sorted(os.listdir(d)) == ["events_0.parquet"]
    assert os.readlink(os.path.join(d, "events_0.parquet")) == src
    # steady state: a second call reuses the landed dir untouched
    ino = os.stat(d).st_ino
    assert _stage_events_dir(spark, src, 1) == d
    assert os.stat(d).st_ino == ino
    # a different layout (copies=2) gets its own dir, same guarantees
    d2 = _stage_events_dir(spark, src, 2)
    assert d2 != d
    assert sorted(os.listdir(d2)) == ["events_0.parquet", "events_1.parquet"]
