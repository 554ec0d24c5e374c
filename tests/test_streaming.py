"""Structured Streaming tests: drive bounded file streams through the
real incremental engine and cross-check against the batch plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_building_inspector_spark.sources.tables import load_table
from etl_building_inspector_spark.streaming.events import (
    read_event_stream,
    run_to_memory,
    session_windows,
    streaming_windowed_counts,
)


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    # fixture parquet is TIMESTAMP(NANOS); rewrite via the batch loader
    # (which normalizes to micros) so the stream source can read it
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
    return d


def test_streaming_window_counts_match_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    result = run_to_memory(
        streaming_windowed_counts(stream, "1 hour"), "win_counts"
    ).collect()
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    stream_counts = {(r.window_start, r.event_type): r.n_events for r in result}
    batch_counts = {(r.w.start, r.event_type): r.n for r in batch}
    assert stream_counts == batch_counts


def test_streaming_session_windows(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    result = run_to_memory(session_windows(stream, "30 minutes"), "sessions")
    rows = result.collect()
    assert len(rows) > 0
    # session invariants: start <= end, counts positive
    assert all(r.session_start <= r.session_end and r.n_events > 0 for r in rows)
    # total events preserved across sessions
    total = sum(r.n_events for r in rows)
    assert total == spark.read.parquet(event_dir).count()


def test_watermark_drops_late_data(spark, tmp_path_factory):
    """Append-mode window agg across micro-batches: an event far older
    than the advanced watermark must be dropped; windows close and emit
    once the watermark passes them."""
    import datetime as dt

    d = str(tmp_path_factory.mktemp("late_events"))
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    # batch 1: events in hour 0 and hour 5 (watermark -> 5:00 - 10min)
    write_batch("b1", [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=5), 1, "click", 1.0, "{}"),
    ])

    stream = spark.readStream.schema(schema).parquet(d)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 -> watermark advances to 4:50
        # batch 2 lands while the query runs: one on-time event (hour 6)
        # + one VERY late event back in hour 0 -- the hour-0 window is
        # already past the watermark, so the late row must be dropped
        write_batch("b2", [
            (3, t0 + dt.timedelta(hours=6), 1, "click", 1.0, "{}"),
            (4, t0 + dt.timedelta(minutes=1), 1, "click", 99.0, "{}"),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {
        r.w.start.hour: (r.n, r.v)
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # hour-0 window emitted exactly once with ONLY the on-time event:
    # the late 99.0-value row was dropped by the watermark
    assert emitted.get(0) == (1, 1.0)


def test_foreach_batch_exactly_once_sink(spark, event_dir, tmp_path_factory):
    """foreachBatch custom sink: per-epoch idempotent parquet writes
    (mode=overwrite into an epoch-keyed dir) -- re-delivery of a batch
    can't duplicate rows; total rows match the source exactly."""
    out = str(tmp_path_factory.mktemp("fb_sink"))

    def write_epoch(df, epoch_id):
        df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")
        # simulate a retry re-delivering the same epoch: idempotent
        df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    stream = read_event_stream(spark, event_dir)
    q = stream.writeStream.foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.parquet(out)
    src_count = spark.read.parquet(event_dir).count()
    assert written.count() == src_count
    assert written.select("event_id").distinct().count() == src_count


def test_streaming_dedup_within_watermark(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark
    horizon collapse to one row; the key state is evicted after the
    watermark passes, which is what bounds it (we verify the dedup
    semantics and that the query runs append-mode across batches)."""
    import datetime as dt

    from etl_building_inspector_spark.streaming.events import streaming_dedup

    d = str(tmp_path_factory.mktemp("dedup_events"))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    # batch 1: event 1 twice (in-horizon dup) + event 2
    write_batch([
        (1, t0, 1, "click", 1.0, "{}"),
        (1, t0 + dt.timedelta(seconds=30), 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 1, "click", 2.0, "{}"),
    ])
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        streaming_dedup(stream, ["event_id"], watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event 1 AGAIN within the horizon (still dropped) and
        # a fresh event 3 advancing the watermark
        write_batch([
            (1, t0 + dt.timedelta(minutes=2), 1, "click", 1.0, "{}"),
            (3, t0 + dt.timedelta(minutes=3), 1, "click", 3.0, "{}"),
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT event_id FROM dedup_stream").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3]


def test_stream_stream_join_matches_batch(spark, event_dir):
    """Stream-stream range join must produce exactly the batch join's
    pairs once both streams are exhausted."""
    from etl_building_inspector_spark.streaming.events import (
        stream_stream_click_purchase_join,
    )

    ev = spark.read.parquet(event_dir)
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    ct, pt = sorted(types)[0], sorted(types)[-1]

    clicks_s = read_event_stream(spark, event_dir).filter(
        F.col("event_type") == ct
    )
    purch_s = read_event_stream(spark, event_dir).filter(
        F.col("event_type") == pt
    )
    joined = stream_stream_click_purchase_join(
        clicks_s, purch_s, horizon="1 hour", watermark="24 hours"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    c = ev.filter(F.col("event_type") == ct).select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("cid"),
        F.col("ts").alias("cts"),
    )
    p = ev.filter(F.col("event_type") == pt).select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r.cid, r.pid)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want
    assert len(want) > 0


def test_statestore_reader_exposes_agg_state(spark, tmp_path_factory):
    """Spark 4 state-store data source: the state of a running
    streaming aggregation read back as a BATCH DataFrame from the
    checkpoint -- the debugging/ops surface for stateful pipelines
    (inspect skew across state partitions, audit per-key state
    without stopping the job)."""
    import datetime as dt

    d = str(tmp_path_factory.mktemp("ss_events"))
    ckpt = str(tmp_path_factory.mktemp("ss_ckpt"))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (1, t0, 1, "click", 1.0, "{}"),
            (2, t0, 1, "view", 2.0, "{}"),
            (3, t0, 2, "view", 2.0, "{}"),
        ],
        schema,
    ).write.mode("append").parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    agg = stream.groupBy("user_id").agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ss_state_test")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    state = spark.read.format("statestore").load(ckpt)
    got = {r["key"]["user_id"]: r["value"]["count"] for r in state.collect()}
    assert got == {1: 2, 2: 1}


def test_session_window_exact_gap_boundary_merges(spark, tmp_path):
    """Pin the gap-merge boundary semantics the streaming_sessionize
    oracle depends on: an inter-event gap of EXACTLY the session gap
    merges (new session only when gap is strictly greater), matching
    the batch/oracle lag+cumsum formulation's strict-`>` condition.
    Probed against the real incremental engine, not the batch twin."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def us(**kw):
        return t0 + datetime.timedelta(**kw)

    rows = [
        (1, 10, us()), (2, 10, us(minutes=30)),                      # == gap: merge
        (3, 20, us()), (4, 20, us(minutes=30, microseconds=1)),      # > gap by 1us: split
        (5, 30, us()), (6, 30, us(minutes=29, seconds=59)),          # < gap: merge
    ]
    d = str(tmp_path / "boundary_events")
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    ).withColumn("event_type", F.lit("x")).withColumn(
        "value", F.lit(0.0)
    ).withColumn("props", F.lit(None).cast("string")).write.parquet(d)

    stream = read_event_stream(spark, d)
    got = {
        (r.user_id, r.n_events)
        for r in run_to_memory(
            session_windows(stream, "30 minutes"), "boundary_sessions"
        ).collect()
    }
    assert got == {(10, 2), (20, 1), (30, 2)}


def test_streaming_sessionize_driver_query_matches_batch_twin(spark, sf_dir):
    """The registered driver query (incremental session_window path)
    must agree with the batch lag+cumsum sessionization on session
    count and total events per user."""
    from etl_building_inspector_spark.plans.queries_core import events_sessionize
    from etl_building_inspector_spark.plans.queries_streaming import (
        streaming_sessionize,
    )

    stream_rows = streaming_sessionize(spark, sf_dir)
    got = {
        (r.user_id, r.n_sessions, r.n_events)
        for r in stream_rows.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .collect()
    }
    want = {
        (r.user_id, r.n_sessions, r.n_events)
        for r in events_sessionize(spark, sf_dir).collect()
    }
    assert got == want


def test_checkpoint_restart_no_double_count(spark, sf_dir, tmp_path_factory):
    """Kill a checkpointed aggregation mid-input, add more input,
    restart with the SAME checkpoint: totals equal the batch answer --
    the checkpoint replays offsets exactly once, never re-counting the
    first tranche. (The recovery contract every production streaming
    job leans on; memory-sink tests elsewhere never exercise it.)"""
    import os

    from pyspark.sql import functions as F

    from etl_building_inspector_spark.sources.tables import load_table
    from etl_building_inspector_spark.streaming.events import read_event_stream

    base = str(tmp_path_factory.mktemp("ckpt_restart"))
    in_dir, ckpt, out = base + "/in", base + "/ckpt", base + "/out"
    os.makedirs(in_dir)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    first = ev.where(F.col("event_id") % 2 == 0)
    second = ev.where(F.col("event_id") % 2 == 1)
    first.write.parquet(in_dir + "/batch0")

    def start():
        stream = read_event_stream(spark, in_dir + "/*")
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias(
                "value_e4"
            ),
        )
        return (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .format("memory")
            .queryName("ckpt_restart_agg")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()  # simulate failure/redeploy after tranche 1 committed

    second.write.parquet(in_dir + "/batch1")
    q = start()
    q.processAllAvailable()
    got = {
        (r.event_type, r.n, r.value_e4)
        for r in spark.sql("SELECT * FROM ckpt_restart_agg").collect()
    }
    q.stop()

    expect = {
        (r.event_type, r.n, r.value_e4)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias(
                "value_e4"
            ),
        )
        .collect()
    }
    assert got == expect


def test_late_data_drop_metric_matches_prediction(spark, sf_dir):
    """streaming_late_data_drop's oracle checks the RESULT; this pins
    the MECHANISM: the straggler batch's numRowsDroppedByWatermark
    must equal the count of straggler CELLS (post-partial-agg rows,
    not raw events) whose window_end <= wm1 (the PREVIOUS batch's
    watermark -- Spark's late-input filter lags the eviction
    watermark by one batch)."""
    import datetime
    import json

    from pyspark.sql import functions as F

    from etl_building_inspector_spark.plans.queries_streaming import (
        LATE_DELAY_DAYS,
        LATE_T0,
        LATE_T1,
        _stream_late_events_dir,
    )
    from etl_building_inspector_spark.sources.tables import load_table
    from etl_building_inspector_spark.streaming.events import EVENTS_SCHEMA

    d = _stream_late_events_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", f"{LATE_DELAY_DAYS} days")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_metric_probe")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    dropped_per_batch = [
        sum(s.get("numRowsDroppedByWatermark", 0) for s in p.get("stateOperators", []))
        for p in progress
        if p["numInputRows"] > 0
    ]
    assert len(dropped_per_batch) == 3  # bulk, newest, stragglers
    assert dropped_per_batch[0] == 0 and dropped_per_batch[1] == 0

    ev = load_table(spark, sf_dir, "events")
    bulk_max = (
        ev.filter((F.col("ts") >= LATE_T0) & (F.col("ts") < LATE_T1))
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    wm1 = bulk_max - datetime.timedelta(days=LATE_DELAY_DAYS)
    expected_dropped_cells = (
        ev.filter(F.col("ts") < LATE_T0)
        .select(F.window("ts", "1 hour").alias("w"), "event_type")
        .distinct()
        .filter(F.col("w.end") <= F.lit(wm1))
        .count()
    )
    assert dropped_per_batch[2] == expected_dropped_cells
    assert expected_dropped_cells > 0  # the fixture must exercise the drop


def test_stream_staging_cache_invalidates_on_inplace_rewrite(spark, tmp_path):
    """Pin the round-9 incident class (queries_streaming staging cache
    served stale events after an in-place fixture rebuild) at its
    sharpest edge: a rewrite that keeps the SAME byte size within the
    SAME wall-clock second must still invalidate (ADVICE r9 -->
    st_mtime_ns in the fingerprint), and stale stagings for the same
    fixture basename must be reaped, not leaked."""
    import os
    import shutil

    from etl_building_inspector_spark.plans.queries_streaming import (
        _stream_events_dir,
    )

    sf_like = tmp_path / "sfTESTfp"
    sf_like.mkdir()
    src = str(sf_like / "events.parquet")
    shutil.copyfile("/root/testdata/sf0.001/events.parquet", src)
    os.utime(src, ns=(1_700_000_000_000_000_000, 1_700_000_000_000_000_000))

    d1 = _stream_events_dir(spark, str(sf_like))
    assert os.path.exists(os.path.join(d1, "_SUCCESS"))

    # in-place rewrite: identical bytes (same size), mtime bumped by
    # ONE NANOSECOND -- int(st_mtime) is unchanged, so the old
    # size+whole-second key would have reused d1
    os.utime(src, ns=(1_700_000_000_000_000_000, 1_700_000_000_000_000_001))
    d2 = _stream_events_dir(spark, str(sf_like))
    assert d2 != d1
    assert os.path.exists(os.path.join(d2, "_SUCCESS"))
    # the stale staging for the same basename was reaped, not leaked
    assert not os.path.exists(d1)

    # unchanged source -> cache hit (no re-stage, same dir back)
    assert _stream_events_dir(spark, str(sf_like)) == d2


def test_late_events_staging_follows_inplace_rewrite(spark, tmp_path):
    """streaming_late_data_drop's three-file replay is staged per
    version of the events parquet: rewriting the fixture at the same
    path stages the new rows, not the first staging's, and reaps the
    old staging."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_building_inspector_spark.plans.queries_streaming import (
        _stream_late_events_dir,
    )

    sf_like = tmp_path / "sfTESTlate"
    sf_like.mkdir()
    src = str(sf_like / "events.parquet")

    def write_events(first_id: int, mtime_ns: int) -> None:
        # one row in each replay split: straggler, bulk, newest
        ts = pa.array(
            [1_704_067_200_000_000, 1_705_708_800_000_000, 1_706_745_600_000_000],
            pa.timestamp("us"),
        )
        pq.write_table(
            pa.table({
                "event_id": pa.array(range(first_id, first_id + 3), pa.int64()),
                "ts": ts,
                "user_id": pa.array([1, 2, 3], pa.int64()),
                "event_type": ["view", "click", "view"],
                "value": [1.0, 2.0, 3.0],
                "props": ["{}", "{}", "{}"],
            }),
            src,
        )
        os.utime(src, ns=(mtime_ns, mtime_ns))

    def staged_ids(d: str) -> list[int]:
        return sorted(r.event_id for r in spark.read.parquet(d).collect())

    staged = []
    try:
        write_events(100, 1_700_000_000_000_000_000)
        staged.append(_stream_late_events_dir(spark, str(sf_like)))
        assert staged_ids(staged[0]) == [100, 101, 102]
        write_events(200, 1_700_000_000_000_000_001)
        staged.append(_stream_late_events_dir(spark, str(sf_like)))
        assert staged_ids(staged[1]) == [200, 201, 202]
        assert not os.path.exists(staged[0])
    finally:
        for d in staged:
            shutil.rmtree(d, ignore_errors=True)
