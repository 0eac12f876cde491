"""Batch↔stream equivalence (SURVEY.md §5.2 item 4): replay a bounded
parquet file through the streaming source; the streaming windowed
aggregation must equal its batch twin — the guarantee Structured Streaming
makes and the contract Q27/Q28's batch forms stand in for."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tsdb_parquet_spark.streaming import (
    read_events_stream,
    session_counts,
    session_counts_batch,
    stream_dedup,
    tumbling_counts,
    tumbling_counts_batch,
)


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    # bounded synthetic event stream: 2 users, 3 hours, some dup event_ids
    rows = []
    base = 1_700_000_000  # epoch seconds
    eid = 0
    for u in (1, 2):
        for k in range(40):
            ts = base + u * 120 + k * 300  # every 5 min
            rows.append((eid, ts, u, "click" if k % 3 else "view", float(k)))
            eid += 1
    # duplicates of the first two events (at-least-once delivery)
    rows.append((0, base + 120, 1, "view", 0.0))
    rows.append((40, base + 240, 2, "view", 0.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts_epoch long, user_id long, event_type string, value double"
    ).withColumn("ts", F.timestamp_seconds("ts_epoch")).drop("ts_epoch")
    p = str(tmp_path_factory.mktemp("stream") / "events")
    df.repartition(4).write.parquet(p)  # 4 files -> 4 micro-batches
    return p


def _run_stream_to_memory(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events_path):
    batch_df = spark.read.parquet(events_path)
    stream_df = read_events_stream(spark, events_path)

    expected = tumbling_counts_batch(batch_df)
    got = _run_stream_to_memory(spark, tumbling_counts(stream_df), "tumbling_t")

    cols = ["bucket_start", "event_type", "n", "sv"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_session_stream_equals_batch(spark, events_path):
    batch_df = spark.read.parquet(events_path)
    stream_df = read_events_stream(spark, events_path)

    expected = session_counts_batch(batch_df)
    # equivalence holds modulo late data beyond the watermark; the replay
    # shuffles rows across micro-batches arbitrarily, so the watermark must
    # exceed the full event-time span for exact equality
    got = _run_stream_to_memory(
        spark, session_counts(stream_df, watermark="24 hours"), "session_t"
    )

    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_stream_dedup_drops_watermark_duplicates(spark, events_path):
    stream_df = read_events_stream(spark, events_path)
    deduped = stream_dedup(stream_df, ["event_id"], watermark="6 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("dedup_t")
    assert out.count() == 80  # 82 rows in, 2 duplicates dropped
    assert out.select("event_id").distinct().count() == 80


def test_stateful_running_totals_matches_batch(spark, events_path):
    from tsdb_parquet_spark.streaming.stateful import running_totals

    stream_df = read_events_stream(spark, events_path)
    q = (
        running_totals(stream_df, key_col="user_id", value_col="value")
        .writeStream.format("memory")
        .queryName("totals_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    from tsdb_parquet_spark.streaming import drain_available_now

    drain_available_now(q)  # timeout-bearing state never self-terminates
    # update mode appends one row per (key, batch); the final state per key
    # is the row with the max running count
    got = {
        r["key"]: (r["n"], round(r["sv"], 6))
        for r in spark.sql(
            "SELECT key, n, sv FROM totals_t t WHERE n = "
            "(SELECT MAX(n) FROM totals_t WHERE key = t.key)"
        ).collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["sv"], 6))
        for r in spark.read.parquet(events_path)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert got == batch


def test_stream_interval_join_equals_batch(spark, events_path, tmp_path):
    from tsdb_parquet_spark.streaming import (
        stream_interval_join,
        stream_interval_join_batch,
    )

    # Stream-stream joins run in APPEND mode, where the watermark REALLY
    # drops late rows (unlike the complete-mode agg tests above): replaying
    # time-shuffled files would legitimately lose pairs.  Replay in time
    # order — range-partition by ts so part-00000..03 are consecutive time
    # slices, matching the file source's path-ordered micro-batches (an
    # in-order source is also the realistic ingest shape).
    ordered = str(tmp_path / "ordered_events")
    src = spark.read.parquet(events_path)
    # the file source orders micro-batches by file MTIME, so each time
    # slice must be its own commit with a distinct timestamp
    import time as _time

    with_sec = src.withColumn("_sec", F.unix_timestamp("ts"))
    qs = with_sec.approxQuantile("_sec", [0.25, 0.5, 0.75], 0.0)
    lo = None
    for hi in [*qs, None]:
        sl = with_sec
        if lo is not None:
            sl = sl.filter(F.col("_sec") > lo)
        if hi is not None:
            sl = sl.filter(F.col("_sec") <= hi)
        sl = sl.drop("_sec")
        sl.coalesce(1).sortWithinPartitions("ts").write.mode("append").parquet(ordered)
        _time.sleep(1.1)
        lo = hi

    batch = spark.read.parquet(ordered)
    want = _canon(
        stream_interval_join_batch(
            batch.filter("event_type = 'view'"),
            batch.filter("event_type = 'click'"),
        ),
        ["user_id", "l_ts", "r_ts", "l_event", "r_event"],
    )
    assert len(want) > 0

    s_left = read_events_stream(spark, ordered).filter("event_type = 'view'")
    s_right = read_events_stream(spark, ordered).filter("event_type = 'click'")
    joined = stream_interval_join(s_left, s_right)
    q = (
        joined.writeStream.format("memory")
        .queryName("ivjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = _canon(spark.table("ivjoin"),
                 ["user_id", "l_ts", "r_ts", "l_event", "r_event"])
    assert got == want


def test_streaming_counter_rate_equals_batch(spark, tmp_path):
    """Reset-aware streaming counter rate accumulated across ordered
    micro-batches equals the batch counter_rate on the same samples."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsdb_parquet_spark.streaming import streaming_counter_rate
    from tsdb_parquet_spark.timeseries import counter_rate

    # two counter series: one monotone, one with a mid-stream reset that
    # falls ON a micro-batch boundary (the cross-batch state must bridge it)
    series = {
        "a": [0.0, 10.0, 25.0, 30.0, 2.0, 8.0],   # reset at sample 4
        "b": [5.0, 6.0, 9.0, 9.0, 14.0, 20.0],
    }
    d = tmp_path / "samples"
    d.mkdir()
    per_file = 2
    for i in range(3):  # 3 time-ordered files -> 3 micro-batches
        rows = {"series_key": [], "time": [], "value": []}
        for k, vs in series.items():
            for j in range(i * per_file, (i + 1) * per_file):
                rows["series_key"].append(k)
                rows["time"].append((j + 1) * 60_000)
                rows["value"].append(vs[j])
        f = str(d / f"batch_{i}.parquet")
        pq.write_table(pa.table(rows), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))  # mtime order

    schema = "series_key string, time long, value double"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(str(d))
    )
    out = streaming_counter_rate(sdf)
    q = (
        out.writeStream.format("memory")
        .queryName("rate_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    from tsdb_parquet_spark.streaming import drain_available_now

    drain_available_now(q)  # timeout-bearing state never self-terminates
    # update mode appends one row per key per batch: final = max last_time
    got = (
        spark.table("rate_stream")
        .orderBy("last_time")
        .groupBy("key")
        .agg(F.max_by("increase", "last_time").alias("increase"),
             F.max_by("rate", "last_time").alias("rate"),
             F.max("n_samples").alias("n"))
    )
    stream_res = {r["key"]: r for r in got.collect()}

    batch = spark.read.parquet(str(d))
    batch_res = {r["series_key"]: r for r in
                 counter_rate(batch, labels=["series_key"]).collect()}

    for k in series:
        assert stream_res[k]["n"] == batch_res[k]["n_samples"]
        # batch counter_rate rounds to 6 dp; round the stream side to match
        assert round(stream_res[k]["increase"], 6) == pytest.approx(
            float(batch_res[k]["increase"]), abs=1e-9)
        assert round(stream_res[k]["rate"], 6) == pytest.approx(
            float(batch_res[k]["rate"]), abs=1e-9)


def test_q86_entry_equals_batch_group_by(spark):
    # the driver-gated stateful entry (q86): applyInPandasWithState
    # running totals over exact 1e-4 units must equal the plain batch
    # GROUP BY — including the multi-batch replay path the memory-sink
    # finality filter (max-n row per key) exists for
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {r["user_id"]: (r["n"], r["sv_units"])
           for r in entry.q86_streaming_stateful_totals(spark, sf).collect()}
    batch = {
        r["user_id"]: (r["n"], r["sv_units"])
        for r in entry._t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
            .alias("sv_units"),
        )
        .collect()
    }
    assert got == batch


def test_session_window_boundary_merges_at_exact_gap(spark):
    # pins the boundary convention the q100 oracle encodes: an event at
    # EXACTLY prev_ts + gap still merges (break is strictly >), and
    # session_end = last event + gap
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 30, 0)),   # exactly +gap -> merges
        (1, datetime(2024, 1, 1, 1, 0, 0, 1)), # +gap+1us -> new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = [(r.session_start, r.session_end, r.n_events)
           for r in session_counts_batch(df).orderBy("session_start").collect()]
    t0 = 1704067200
    assert got == [(t0, t0 + 3600, 2), (t0 + 3600, t0 + 5400, 1)]


def test_stream_outer_join_finality_strict_watermark_cutoff(spark, tmp_path):
    # pins the left_outer finality rule the q103 oracle encodes: matches
    # emit eagerly; an unmatched left emits ONLY once the watermark
    # STRICTLY passes l.ts + interval.  On this bounded replay the final
    # watermark is min(max_a, max_b) - 10s = 00:30, so: left@0 matched,
    # left@10 (bound 15 < 30) emits null-padded, left@25 (bound 30 ==
    # 30, NOT strictly past) withheld, left@29/left@40 withheld.
    from datetime import datetime

    from tsdb_parquet_spark.streaming.windows import stream_interval_join

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        (1, 100, t(0), "a"), (1, 101, t(3), "b"),
        (1, 102, t(10), "a"),
        (1, 103, t(25), "a"),
        (1, 104, t(29), "a"),
        (1, 105, t(40), "a"),
        (2, 106, t(50), "b"),
    ]
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    ).coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    out = stream_interval_join(
        stream.filter(F.col("event_type") == "a"),
        stream.filter(F.col("event_type") == "b"),
        interval="5 seconds", watermark="10 seconds", how="left_outer",
    )
    q = (out.writeStream.format("memory").queryName("t_louter_syn")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.l_event, r.r_event) for r in
                 spark.table("t_louter_syn").collect())
    assert got == [(100, 101), (102, None)]


def test_heartbeat_flushes_withheld_outer_join_tail(spark, tmp_path):
    # SCALE.md 5h as CODE: the strict-cutoff test above leaves left@25/
    # left@29 withheld forever on a bounded replay.  A heartbeat row in
    # BOTH inputs (ts past tail + interval + delay) advances the global
    # watermark and the next run of the SAME checkpointed query flushes
    # exactly the withheld unmatched rows; the heartbeat itself never
    # appears (left heartbeats self-withhold + sentinel filter).
    from datetime import datetime

    from tsdb_parquet_spark.streaming.windows import (
        append_heartbeat,
        stream_interval_join,
        without_heartbeats,
    )

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        (1, 100, t(0), "a"), (1, 101, t(3), "b"),
        (1, 102, t(10), "a"),
        (1, 103, t(25), "a"),
        (1, 104, t(29), "a"),
        (2, 106, t(30), "b"),
    ]
    d = str(tmp_path / "ev")
    chk = str(tmp_path / "chk")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    ).coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema

    sink = str(tmp_path / "out")

    def run():
        # memory sink can't recover a checkpoint; the durable file sink
        # is the production shape anyway.  The sentinel filter is
        # applied BATCH-SIDE on the read-back: inside the streaming
        # plan Catalyst pushes it below withWatermark and the heartbeat
        # never advances anything (append_heartbeat docstring).
        stream = spark.readStream.schema(schema).parquet(d)
        out = stream_interval_join(
            stream.filter(F.col("event_type") == "a"),
            stream.filter(F.col("event_type") == "b"),
            interval="5 seconds", watermark="10 seconds",
            how="left_outer",
        )
        q = (out.writeStream.format("parquet").option("path", sink)
             .outputMode("append").trigger(availableNow=True)
             .option("checkpointLocation", chk).start())
        q.awaitTermination(120)
        res = without_heartbeats(spark.read.parquet(sink), "user_id", -1)
        return sorted((r.l_event, r.r_event) for r in res.collect())

    # bounded replay: watermark ends at 30-10=20 -> only left@0 matched
    # and left@10 (bound 15 < 20) finalize; 25/29 withheld
    assert run() == [(100, 101), (102, None)]

    # heartbeat into both routed inputs: ts 50 > 29 + 5 + 10
    for et in ("a", "b"):
        append_heartbeat(
            spark, d,
            {"user_id": -1, "event_id": -1, "ts": t(50), "event_type": et},
            schema,
        )
    # same checkpoint -> continuation: the withheld tail flushes, the
    # heartbeats never appear
    assert run() == [(100, 101), (102, None), (103, None), (104, None)]


def _totals_writer(spark, events_path):
    # per-key state with a 5-minute processing-time timeout: after the
    # data drains the query keeps scheduling state-cleanup batches, so
    # it never self-terminates inside a test's time
    from tsdb_parquet_spark.streaming.stateful import running_totals

    return (
        running_totals(read_events_stream(spark, events_path),
                       key_col="user_id", value_col="value")
        .writeStream.format("memory").outputMode("update")
    )


def test_bounded_replay_timeout_raises_stops_and_cleans(
    spark, events_path, monkeypatch
):
    # an awaited replay that cannot terminate must fail at the deadline:
    # the query stopped, TimeoutError raised, the run dir removed — never
    # a partial sink returned as the answer
    import os

    from tsdb_parquet_spark.streaming import windows

    monkeypatch.setattr(windows, "REPLAY_TIMEOUT_S", 3.0)
    name = "replay_timeout_t"
    with pytest.raises(TimeoutError):
        with windows.bounded_replay(spark, name) as replay:
            run_dir = replay.dir
            assert os.path.isdir(run_dir)
            replay.run(_totals_writer(spark, events_path))
    assert not any(q.name == name for q in spark.streams.active)
    assert not os.path.exists(run_dir)


def test_drain_available_now_raises_at_deadline(spark, events_path):
    from tsdb_parquet_spark.streaming import drain_available_now

    q = (_totals_writer(spark, events_path).queryName("drain_deadline_t")
         .trigger(availableNow=True).start())
    try:
        with pytest.raises(TimeoutError):
            drain_available_now(q, timeout=0.0)
        assert not q.isActive
    finally:
        q.stop()


def test_q86_entry_reentrant_in_one_session(spark):
    # a second run of the same named replay stops nothing live, gets a
    # fresh run dir and replaces the memory table with equal rows
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    first = sorted(entry.q86_streaming_stateful_totals(spark, sf).collect())
    second = sorted(entry.q86_streaming_stateful_totals(spark, sf).collect())
    assert first and first == second


def test_append_heartbeat_rejects_non_atomic_fields(spark, tmp_path):
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tsdb_parquet_spark.streaming.windows import append_heartbeat

    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("tags", ArrayType(StringType())),
    ])
    with pytest.raises(TypeError, match="'tags'"):
        append_heartbeat(spark, str(tmp_path / "hb"), {"ts": None}, schema)
    assert not (tmp_path / "hb").exists()
