"""Streaming windowed aggregation — tumbling and session windows with
watermarks, plus the batch-equivalent forms used for oracle checks and
batch↔stream equivalence tests (SURVEY.md §5.2 item 4).

Structured Streaming guarantees a streaming query's eventual result equals
the batch query over the same input (modulo late data dropped past the
watermark) — so each streaming transform here has a `_batch` twin with
identical semantics, and the tests replay a bounded parquet file through
both and compare.

Scale notes: windowed streaming aggs keep state per (window, keys) in the
state store; the watermark bounds state size (windows older than the
watermark are evicted and finalized).  ``session_window`` state merges
per-key sessions — the skew risk is a hot key, same as the batch window
(operators/windows.py docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import decimal_sum


# The one deadline of a bounded replay: a streaming gate that neither
# terminates nor drains inside it fails instead of returning a partial
# sink (180 s, the longest wait any gate has needed).
REPLAY_TIMEOUT_S = 180.0


def drain_available_now(
    query, timeout: float = REPLAY_TIMEOUT_S, poll: float = 0.2
) -> None:
    """Wait until an ``availableNow`` query has processed every file that
    existed at start, then stop it if it hasn't stopped itself.  Raises
    ``TimeoutError`` (after stopping the query) if the replay is not
    drained within ``timeout`` seconds.

    Why not just ``awaitTermination``: a stateful query with a
    processing-time timeout (``applyInPandasWithState`` eviction) never
    self-terminates under availableNow — after draining the data it
    schedules back-to-back empty "No new data but cleaning up state"
    batches until every per-key timeout has fired (measured: 187 empty
    batches in the 120 s awaitTermination ceiling on a bounded replay),
    so termination-as-the-wait-condition turns every bounded replay into
    a fixed 120 s stall.  Drained is the right condition: at least one
    batch recorded AND the source reports no data available (the
    availableNow end-offset is fixed at start, so ``isDataAvailable``
    stays true until the last planned batch commits); two consecutive
    confirmations dodge the planning-tick race between micro-batches.
    Self-terminating queries (no timeouts) exit via ``isActive`` first.

    Drain detection (r14 fix): the primary condition is per-source
    OFFSET EQUALITY — availableNow pins each source's ``latestOffset``
    at start, so the replay is drained exactly when every source's
    committed ``endOffset`` equals it.  The previous condition (two
    consecutive ``isDataAvailable == false`` polls) raced the
    inter-batch planning gap: under CPU contention both 0.2 s polls can
    land between micro-batches while files remain, stopping the query
    mid-replay (q160 flaked "expected >=4 micro-batches, got 2" only
    when another Spark session loaded the box).  The status flag stays
    as a FALLBACK for sources whose progress carries no latestOffset,
    with a longer confirmation run to shrink the race window.
    """
    import time as _time

    def _offsets_drained(progress) -> bool:
        try:
            sources = progress["sources"]
        except Exception:  # noqa: BLE001 — malformed progress: fall back
            return False
        if not sources:
            return False
        for s in sources:
            end, latest = s.get("endOffset"), s.get("latestOffset")
            if end is None or latest is None or end != latest:
                return False
        return True

    deadline = _time.time() + timeout
    confirmed = 0
    while query.isActive:
        if _time.time() >= deadline:
            query.stop()
            raise TimeoutError(
                f"streaming query {query.name!r} not drained in {timeout} s"
            )
        lp = query.lastProgress
        if lp is not None and _offsets_drained(lp):
            break
        if lp is not None and not query.status["isDataAvailable"]:
            confirmed += 1
            if confirmed >= 10:  # fallback path only (no latestOffset)
                break
        else:
            confirmed = 0
        _time.sleep(poll)
    if query.isActive:
        query.stop()
    query.awaitTermination(30)


class bounded_replay:
    """One bounded availableNow replay of the streaming query ``name`` —
    the harness every streaming gate runs through::

        with bounded_replay(spark, name) as replay:
            stream = read_events_stream(spark, path, max_files_per_trigger=None)
            replay.run(tumbling_counts(stream).writeStream.format("memory")
                       .outputMode("complete"))
        result = spark.table(name)

    On enter it stops any active query named ``name`` (a re-run in the
    same session) before any directory is touched, then makes a fresh
    per-run directory ``replay.dir`` for split copies, sidecar sources
    and checkpoints.  On exit it stops the query again and removes that
    directory.  Memory-sink tables live in the session, not in the
    directory, so they outlive the replay.

    Fails loud: a replay that neither terminates nor drains within
    ``REPLAY_TIMEOUT_S`` is stopped and raises ``TimeoutError``, and one
    that ran fewer than ``min_batches`` non-empty micro-batches raises
    ``AssertionError`` — a loaded box never returns a partial sink as
    the answer."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark, self.name = spark, name

    def __enter__(self) -> "bounded_replay":
        import tempfile

        self._stop()
        self.dir = tempfile.mkdtemp(prefix=f"tsdb_spark_{self.name}_")
        return self

    def __exit__(self, *exc) -> None:
        import shutil

        self._stop()
        shutil.rmtree(self.dir, ignore_errors=True)

    def _stop(self) -> None:
        for q in self.spark.streams.active:
            if q.name == self.name:
                q.stop()

    def run(self, writer, *, drained: bool = False, min_batches: int = 1):
        """Start ``writer`` (a ``DataStreamWriter`` with sink and output
        mode, no name or trigger) as this replay's query and wait for
        it: with :func:`drain_available_now` when ``drained`` (state with
        a timeout never self-terminates), else with ``awaitTermination``."""
        q = writer.queryName(self.name).trigger(availableNow=True).start()
        if drained:
            drain_available_now(q, REPLAY_TIMEOUT_S)
        elif not q.awaitTermination(REPLAY_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming replay {self.name!r} not done in {REPLAY_TIMEOUT_S} s"
            )
        n = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        if n < min_batches:
            raise AssertionError(
                f"streaming replay {self.name!r}: expected >= {min_batches} "
                f"non-empty micro-batches, got {n}"
            )


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-source stream over a parquet directory or single file — the
    replay source of the streaming gates and the batch↔stream
    equivalence tests.  A schema is required by streaming file sources;
    it is read from the files when not supplied.  The file source wants
    a directory, so a single-file table is selected out of its parent
    with a name glob.  A TIMESTAMP(NANOS) ``ts`` arrives as a µs
    timestamp, as in ``tables.load_table``.  ``max_files_per_trigger=None``
    sets no per-trigger limit: the whole replay is one micro-batch."""
    from ..tables import _normalize_ns_timestamps

    # without nanosAsLong a TIMESTAMP(NANOS) column is unreadable (the
    # load_table rationale: the session may have been built elsewhere)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = schema or spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if not os.path.isdir(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return _normalize_ns_timestamps(reader.parquet(path))


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window counts + decimal sums per key.

    ``withWatermark`` bounds state: windows more than ``watermark`` behind
    the max observed event time finalize and evict; later-arriving rows for
    them are dropped (the documented late-data policy).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_len).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            decimal_sum(F.col("value"), scale=4).alias("sv"),
        )
        .select(
            F.unix_timestamp("win.start").alias("bucket_start"),
            key_col,
            "n",
            "sv",
        )
    )


def tumbling_counts_batch(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
) -> DataFrame:
    """Batch twin of ``tumbling_counts`` — identical buckets, no watermark
    (batch has no late data).  This is Q27's engine form.

    Unlike the streaming form, the grouping key here is the LONG bucket
    start (``floor(epoch/len)*len`` — exactly where ``window()`` puts an
    epoch-aligned tumbling window's start), not the ``window()`` struct:
    grouping by a two-timestamp struct hashes and compares 16 bytes of
    struct per probe and measured 3x slower at sf10 (1.05 s → 0.33 s over
    6 M events; SCALE.md round-7).  The streaming twin keeps ``window()``
    because watermark semantics attach to it."""
    step = _interval_seconds(window_len)
    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / step) * step).alias(
        "bucket_start"
    )
    return events.groupBy(bucket, F.col(key_col)).agg(
        F.count(F.lit(1)).alias("n"),
        decimal_sum(F.col("value"), scale=4).alias("sv"),
    )


def _interval_seconds(s: str) -> int:
    """Seconds from a '<n> <unit>' interval string (the subset batch
    bucketing needs — streaming keeps Spark's own interval parser)."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", s)
    if not m:
        raise ValueError(f"unsupported interval for batch bucketing: {s!r}")
    return int(m.group(1)) * {
        "second": 1,
        "minute": 60,
        "hour": 3600,
        "day": 86400,
    }[m.group(2)]


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming session windows: per (user, session) event counts, sessions
    merging while events arrive within ``gap`` of each other."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.unix_timestamp("sess.start").alias("session_start"),
            F.unix_timestamp("sess.end").alias("session_end"),
            "n_events",
        )
    )


def session_counts_batch(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Batch twin of ``session_counts`` (``session_window`` works in batch
    too — same state-merge semantics, executed as an aggregation)."""
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("sess"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.unix_timestamp("sess.start").alias("session_start"),
            F.unix_timestamp("sess.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only within the
    watermark horizon — the streaming counterpart of exact dedup
    (llm/dedup.py) for at-least-once sources."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def write_sorted_stream(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    trigger_once: bool = True,
):
    """Streaming sink producing the engine's sorted parquet layout: each
    micro-batch is range-partitioned + sorted on ``time`` via foreachBatch
    (writer.write_sorted), making streaming ingest produce the same
    prunable layout as batch ingest — the reference's converter made
    continuous."""
    from ..writer import write_sorted

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_sorted(batch_df, out_path, mode="append")

    writer = df.writeStream.foreachBatch(_write).option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INTERVAL join: pair each left event with the right
    events for the same key within ``(left_ts, left_ts + interval]`` — the
    streaming twin of ``operators.joins.interval_self_join``.

    Both sides carry watermarks and the join condition carries the time
    bound — TOGETHER these let Structured Streaming evict buffered state:
    a buffered left row can match only right rows up to ``interval``
    ahead, so once the right watermark passes that bound the row
    finalizes.  An equi key plus a range condition keeps this a streaming
    symmetric hash join keyed on ``key_col`` — never a cartesian — exactly
    the batch operator's scale posture, plus bounded state.

    ``how="left_outer"``: matches still emit eagerly, but an UNMATCHED
    left row emits its null-padded result only once the global watermark
    strictly passes ``left_ts + interval`` (measured, strict inequality
    at the boundary — tests/test_streaming.py pins it).  On a bounded
    replay the watermark ends at ``min(max left_ts, max right_ts) -
    watermark_delay``, so the TAIL's unmatched rows are withheld forever
    — a production outer stream join needs either a continuing stream or
    a watermark-advancing heartbeat to flush them (SCALE.md §5h).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {interval}"))
    )
    # coalesce: identical to l.key for inner/left_outer rows; carries the
    # right key on a full_outer's unmatched-right rows
    return l.join(r, cond, how).select(
        F.coalesce(
            F.col(f"l.{key_col}"), F.col(f"r.{key_col}")
        ).alias(key_col),
        F.col(f"l.{left_ts}").alias("l_ts"),
        F.col(f"r.{right_ts}").alias("r_ts"),
        F.col("l.event_id").alias("l_event"),
        F.col("r.event_id").alias("r_event"),
    )


def stream_interval_join_batch(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "10 minutes",
) -> DataFrame:
    """Batch twin of ``stream_interval_join`` (equivalence-tested)."""
    l, r = left.alias("l"), right.alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key_col}").alias(key_col),
        F.col(f"l.{left_ts}").alias("l_ts"),
        F.col(f"r.{right_ts}").alias("r_ts"),
        F.col("l.event_id").alias("l_event"),
        F.col("r.event_id").alias("r_event"),
    )


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: tuple[str, ...] = ("c_mktsegment",),
    group_cols: tuple[str, ...] = ("c_mktsegment", "event_type"),
) -> DataFrame:
    """Stream-static broadcast enrichment + aggregate: each micro-batch
    of the event stream joins the (slowly-changing) static dimension —
    the canonical streaming ETL enrich step — then rolls up counts and
    exact decimal sums per group.

    Stream-static inner joins are STATELESS in Structured Streaming
    (no watermark needed on the join itself: the static side is fixed
    per micro-batch, re-broadcast on updates), so the only stateful
    operator is the final aggregate.  The static side is explicitly
    ``broadcast()``: a shuffled stream-static join would re-exchange
    every micro-batch.

    100 TB shape: dimension tables are broadcast-sized by definition
    here; for a dimension too large to broadcast, pre-bucket BOTH
    sides on the key (a bucketed sources.Layout) and let the
    stream reuse the at-rest layout instead.
    """
    d = F.broadcast(dim.select(dim_key, *dim_cols))
    joined = events.join(d, events[key_col] == d[dim_key], "inner")
    return (
        joined.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            decimal_sum(F.col("value"), scale=4).alias("sv"),
        )
    )


def append_heartbeat(
    spark: SparkSession,
    src_dir: str,
    values: dict,
    schema=None,
) -> None:
    """Append ONE synthetic watermark-advancing row to a file-stream
    source directory — the production fix for outer-join finality on a
    stream that stops producing (SCALE.md §5h).

    An unmatched left row in a left-outer stream-stream join emits only
    once the GLOBAL watermark strictly passes ``l.ts + interval``, and
    the global watermark is the min over inputs of ``max event time -
    delay`` — so when real traffic stops, the tail's unmatched rows are
    withheld forever.  A heartbeat row with event time ``>
    tail_ts + interval + delay`` injected into EVERY input advances the
    watermark past the tail and flushes it on the next micro-batch.

    ``values`` maps column -> value for the synthetic row (at minimum
    the event-time column, plus whatever sentinel key / routing columns
    the query's filters need to let the row REACH each withWatermark
    operator — a heartbeat filtered out before the watermark node
    advances nothing).  Unset columns are null.  Use a sentinel key
    (e.g. -1) that real data cannot carry and drop it from results with
    :func:`without_heartbeats` — **batch-side, on the sink read-back,
    never inside the streaming plan**: Catalyst pushes a deterministic
    ``key != -1`` predicate through the join down to the file scans
    (left side directly; right side via the inferred equi-key
    constraint), which silently drops the heartbeat BEFORE the
    watermark operator and defeats the whole mechanism (measured: the
    restarted batch reads the heartbeat files with numInputRows=0 and
    the watermark never moves).  In a one-shot heartbeat scheme the
    filter is belt-and-braces anyway: a heartbeat LEFT row
    self-withholds (its own finality bound ``H + interval`` is never
    passed by a watermark capped at ``H - delay``) and a heartbeat
    RIGHT row only ever emits as a match partner, which the sentinel
    key precludes; only REPEATED heartbeats (a later one flushing an
    earlier one as unmatched) can surface sentinel rows.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    schema = schema or spark.read.parquet(src_dir).schema
    for f in schema.fields:
        # the literal projection below casts one scalar per field
        if isinstance(f.dataType, (ArrayType, MapType, StructType)):
            raise TypeError(
                f"append_heartbeat: field {f.name!r} is "
                f"{f.dataType.simpleString()}; only atomic types are supported"
            )
    # r16: build the one row as a JVM literal projection over range(1)
    # instead of createDataFrame([...]).coalesce(1) — the Arrow local
    # relation parallelizes into defaultParallelism slices and the
    # coalesce(1) task then pays one sequential Python-worker round per
    # slice (measured 4.3-6 s PER 1-ROW WRITE on 32 cores; the literal
    # plan writes in ~0.2 s).  Same file contents, one partition by
    # construction.
    row = spark.range(1).select(*[
        F.lit(values.get(f.name)).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])
    row.write.mode("append").parquet(src_dir)


def without_heartbeats(df: DataFrame, key_col: str, sentinel) -> DataFrame:
    """Drop heartbeat rows from a query RESULT by their sentinel key.

    Apply to the batch read-back of the sink (or inside foreachBatch),
    NOT to the streaming plan — see :func:`append_heartbeat` for the
    predicate-pushdown trap that rule exists to dodge."""
    return df.filter(F.col(key_col) != F.lit(sentinel))
