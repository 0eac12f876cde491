"""Batch window-operator semantics (operators/windows.py) not already
covered by the oracle mirror: the q28 aggregate identity and the pinned
partitioning's plan shape."""

import pyspark.sql.functions as F
import pytest

from tsdb_parquet_spark.operators.windows import sessionize


@pytest.fixture()
def events(spark):
    # two users; user 1 has 3 sessions (gaps > 1800 s), user 2 has 1
    rows = [
        (1, 1_000.0, 1),
        (1, 1_100.0, 2),
        (1, 4_000.0, 3),   # +2900s -> new session
        (1, 9_000.0, 4),   # +5000s -> new session
        (2, 1_000.0, 5),
        (2, 2_500.0, 6),   # +1500s -> same session
    ]
    df = spark.createDataFrame(rows, "user_id long, epoch double, event_id long")
    return df.withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")


def test_sessionize_assigns_running_ids(events):
    s = sessionize(events, "user_id", "ts", "event_id", gap_seconds=1800)
    got = {(r["user_id"], r["event_id"]): r["session_id"] for r in s.collect()}
    assert got == {
        (1, 1): 1, (1, 2): 1, (1, 3): 2, (1, 4): 3,
        (2, 5): 1, (2, 6): 1,
    }


def test_session_count_max_equals_count_distinct(events):
    # session_id is a per-user running count from 1, so max(session_id)
    # == countDistinct(session_id) — the identity q28 relies on to skip
    # the distinct expansion
    s = sessionize(events, "user_id", "ts", "event_id", gap_seconds=1800)
    a = {r["user_id"]: r["n"] for r in
         s.groupBy("user_id").agg(F.max("session_id").alias("n")).collect()}
    b = {r["user_id"]: r["n"] for r in
         s.groupBy("user_id").agg(F.countDistinct("session_id").alias("n")).collect()}
    assert a == b == {1: 3, 2: 1}


def test_sessionize_single_pinned_exchange(events):
    # one pinned hash exchange on user_id feeds both window functions and
    # the downstream aggregate — no ENSURE_REQUIREMENTS data exchange
    s = sessionize(events, "user_id", "ts", "event_id", gap_seconds=1800)
    agg = s.groupBy("user_id").agg(F.max("session_id").alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "ENSURE_REQUIREMENTS" not in plan or plan.count("Exchange") == 1


def test_regroup_and_downsample_hashed_key_equals_exact(spark):
    # the 64-bit hashed grouping key is a pure optimization: identical
    # output to the exact multi-string key (incl. NULL label columns,
    # where xxhash64's null-skipping would collide without the sentinel)
    from tsdb_parquet_spark.tables import load_table
    from tsdb_parquet_spark.timeseries import downsample, regroup_series_stats

    tsdb = load_table(spark, "/root/testdata/sf0.001", "tsdb")
    labels = ["label_name", "label_instance", "label_job", "label_quantile"]

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    assert canon(regroup_series_stats(tsdb, labels, hashed_key=True)) == canon(
        regroup_series_stats(tsdb, labels)
    )
    assert canon(downsample(tsdb, 300_000, labels, hashed_key=True)) == canon(
        downsample(tsdb, 300_000, labels)
    )


def test_hashed_group_key_null_vs_shifted_value_distinct(spark):
    # (NULL,'x') vs ('x',NULL) must be DIFFERENT groups — the case raw
    # xxhash64 merges because it skips null inputs
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.operators.aggregates import hashed_group_key

    df = spark.createDataFrame(
        [(None, "x", 1), ("x", None, 2)], "a string, b string, v int"
    )
    out = df.groupBy(hashed_group_key(df, ["a", "b"]).alias("k")).count().collect()
    assert len(out) == 2
    # ...and raw xxhash64 indeed collides here (documents WHY the helper exists)
    raw = df.select(F.xxhash64("a", "b").alias("h")).distinct().count()
    assert raw == 1


def test_money_units_exact_across_money_domain(spark):
    # money_units must reproduce the exact integer cent/1e-4 units for
    # every 2dp value in a wide range, bit-identical to the decimal cast
    # path it replaces (q09's long-unit revenue sum)
    from decimal import Decimal

    from tsdb_parquet_spark.operators.aggregates import money_units

    # every 2dp value in [0, 2) plus large magnitudes near the double
    # precision edge for 2dp money (1e9 dollars)
    vals = [i / 100 for i in range(200)] + [
        999_999_999.99, 123_456_789.01, 104_949.5, 0.07, 0.29, 1e9 - 0.01
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.u for r in df.select(money_units("x").alias("u")).collect()]
    want = [int(Decimal(str(v)) * 100) for v in vals]
    assert got == want

    # the q09 revenue identity: units-of-price * (100 - units-of-discount)
    # == exact 1e-4 units of price*(1-discount) for 2dp price/discount
    pairs = [(9999.99, 0.05), (0.01, 0.0), (123.45, 0.10), (88.2, 0.09)]
    pdf = spark.createDataFrame(pairs, "p double, d double")
    got = [
        r.ru
        for r in pdf.select(
            (money_units("p") * (F.lit(100) - money_units("d"))).alias("ru")
        ).collect()
    ]
    want = [
        int(Decimal(str(p)) * 100) * (100 - int(Decimal(str(d)) * 100))
        for p, d in pairs
    ]
    assert got == want


def test_series_dim_layout_matches_raw_regroup(spark):
    # the at-rest series-dictionary layout must be invisible in results:
    # q06_series_dim == q06_series_regroup bit-for-bit (incl. the exact
    # decimal value sum and NULL label_quantile rows)
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    a = entry.q06_series_regroup(spark, sf).collect()
    b = entry.q06_series_dim(spark, sf).collect()
    assert a == b
    assert any(r.label_quantile is None for r in b)  # NULL labels survive

    # and the facts aggregate consumes the bucket partitioning: no
    # Exchange between the facts scan and the final series_id aggregate
    from tsdb_parquet_spark.tables import TSDB_PATH
    from tsdb_parquet_spark.timeseries import (
        regroup_series_stats_dim,
        series_dim_layouts,
    )

    labels = ["label_name", "label_instance", "label_job", "label_quantile"]
    layouts = series_dim_layouts(
        spark, "q06d_tsdb_sf0_001",
        lambda: entry._t(spark, sf, "tsdb").select(*labels, "time", "value"),
        labels, source_paths=TSDB_PATH,
    )
    facts, dim = [layout.ensure(spark) for layout in layouts]
    agg_plan = facts.groupBy("series_id").count()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in agg_plan


def test_distributed_cumsum_matches_single_window(spark):
    # two-phase parallel prefix sum == the single-partition window form,
    # across bucket boundaries and with num_buckets > distinct keys
    import random

    from pyspark.sql import Window

    from tsdb_parquet_spark.operators.prefix import (
        distributed_cumsum,
        packed_sequences,
    )

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(997)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v int")

    for nb in (1, 4, 2000):
        got = {
            r.k: r.c
            for r in distributed_cumsum(
                df, "k", "v", alias="c", num_buckets=nb
            ).collect()
        }
        want = {
            r.k: r.c
            for r in df.withColumn(
                "c", F.sum("v").over(Window.orderBy("k"))
            ).collect()
        }
        assert got == want, f"num_buckets={nb}"

    # packing: every doc's pack is floor(start/L); pack token totals
    # cover the corpus exactly once
    packed = packed_sequences(df, "k", "v", seq_len=64, num_buckets=8)
    out = packed.groupBy("pack_id").agg(F.sum("v").alias("t")).collect()
    assert sum(r.t for r in out) == sum(v for _, v in rows)

    # empty input doesn't crash the bounds probe
    empty = spark.createDataFrame([], "k long, v int")
    assert distributed_cumsum(empty, "k", "v").count() == 0


def test_interval_concurrency_sweep(spark):
    from tsdb_parquet_spark.operators.prefix import interval_concurrency

    # [0,10) [5,15) [10,20): at t=10 the first ends as the third starts
    # (end-exclusive -> no double count); plus an instant-tie pair
    iv = [(0, 10), (5, 15), (10, 20), (30, 40), (30, 35)]
    df = spark.createDataFrame(iv, "s long, e long")
    got = {r["t"]: r["concurrent"] for r in
           interval_concurrency(df, "s", "e", num_buckets=3).collect()}
    assert got == {0: 1, 5: 2, 10: 2, 15: 1, 20: 0, 30: 2, 35: 1, 40: 0}


def test_budget_select_matches_single_window(spark):
    # greedy per-group budget fill == the single-window SQL form, with
    # priority ties (broken by id), bucket-boundary straddles, a budget
    # dict, and both overfill conventions
    import random

    from pyspark.sql import Window

    from tsdb_parquet_spark.operators.prefix import budget_select

    rng = random.Random(11)
    rows = [
        (i, f"g{i % 3}", rng.randint(1, 9), rng.randint(0, 5))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, g string, sz int, prio int")
    w = Window.partitionBy("g").orderBy(F.asc("prio"), F.asc("id"))
    ref = df.withColumn("cum_size", F.sum(F.col("sz").cast("long")).over(w))

    for nb in (1, 4, 64):
        got = {
            (r.id, r.cum_size)
            for r in budget_select(
                df, 100, "sz", "prio", id_col="id", group_col="g",
                num_buckets=nb,
            ).collect()
        }
        want = {
            (r.id, r.cum_size)
            for r in ref.filter(
                F.col("cum_size") - F.col("sz") < 100
            ).collect()
        }
        assert got == want, f"num_buckets={nb}"

    # overfill=False never exceeds the budget; overfill=True reaches it
    fit = budget_select(df, 100, "sz", "prio", id_col="id", group_col="g",
                        overfill=False)
    assert fit.groupBy("g").agg(F.max("cum_size").alias("m")) \
              .filter(F.col("m") > 100).count() == 0
    reach = budget_select(df, 100, "sz", "prio", id_col="id", group_col="g")
    assert reach.groupBy("g").agg(F.max("cum_size").alias("m")) \
                .filter(F.col("m") < 100).count() == 0

    # budget dict: per-group caps, absent group falls to default_budget
    bd = budget_select(df, {"g0": 20, "g1": 50}, "sz", "prio", id_col="id",
                       group_col="g", default_budget=0)
    per_g = {r.g: r.m for r in
             bd.groupBy("g").agg(F.max("cum_size").alias("m")).collect()}
    assert "g2" not in per_g and per_g["g0"] >= 20 and per_g["g1"] >= 50

    # global (no group), string priority via a monotone numeric bucket key
    prio = F.md5(F.concat(F.col("id").cast("string"), F.lit("s")))
    bkey = F.conv(F.substring(prio, 1, 15), 16, 10).cast("bigint")
    got_g = {r.id for r in budget_select(
        df, 60, "sz", prio, id_col="id", bucket_key=bkey).collect()}
    wg = Window.orderBy(prio.asc(), F.asc("id"))
    want_g = {r.id for r in df.withColumn(
        "c", F.sum(F.col("sz").cast("long")).over(wg))
        .filter(F.col("c") - F.col("sz") < 60).collect()}
    assert got_g == want_g

    # non-numeric priority without a bucket_key is an explicit error;
    # empty input keeps the schema contract
    import pytest as _pytest
    with _pytest.raises(TypeError):
        budget_select(df, 10, "sz", prio, id_col="id")
    empty = spark.createDataFrame([], "id long, g string, sz int, prio int")
    out = budget_select(empty, 10, "sz", "prio", id_col="id")
    assert out.count() == 0 and "cum_size" in out.columns


def test_funnel_counts_strict_order_and_window(spark):
    from datetime import datetime

    from tsdb_parquet_spark.operators.funnel import funnel_counts

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        # u1: clean a->b->c inside 30 min
        (1, t(0), "a"), (1, t(5), "b"), (1, t(10), "c"),
        # u2: b BEFORE its a, then c -> stops at step 1 (order is strict)
        (2, t(0), "b"), (2, t(5), "a"), (2, t(6), "c"),
        # u3: first anchor's window misses b; the SECOND anchor converts
        (3, t(0), "a"), (3, t(40), "b"),
        (3, t(35), "a"), (3, t(50), "c"),
        # u4: simultaneous a and b -> the later step needs STRICTLY
        # greater ts, so u4 stops at step 1
        (4, t(0), "a"), (4, t(0), "b"),
        # u5: never does a at all -> reaches nothing
        (5, t(0), "b"), (5, t(1), "c"),
        # noise event type outside the funnel
        (1, t(2), "zz"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")

    got = {r.step: r.users for r in
           funnel_counts(df, ["a", "b", "c"], within_ms=30 * 60000).collect()}
    assert got == {1: 4, 2: 2, 3: 2}

    # unwindowed: u3 converts via plain order too (a@0 b@40 c@50)
    got2 = {r.step: r.users for r in
            funnel_counts(df, ["a", "b", "c"]).collect()}
    assert got2 == {1: 4, 2: 2, 3: 2}

    # a tight window breaks u3's chain between b@40 and c@50
    got3 = {r.step: r.users for r in
            funnel_counts(df, ["a", "b", "c"], within_ms=14 * 60000).collect()}
    assert got3 == {1: 4, 2: 2, 3: 1}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        funnel_counts(df, [])
    with _pytest.raises(ValueError):
        funnel_counts(df, ["a", "a"])


def test_cohort_retention_offsets(spark):
    from datetime import datetime

    from tsdb_parquet_spark.operators.funnel import cohort_retention

    rows = [
        # u1: first active Mon Jan 1 week, returns weeks +1 and +3
        (1, datetime(2024, 1, 2)), (1, datetime(2024, 1, 10)),
        (1, datetime(2024, 1, 24)),
        # u2: same cohort, week 0 only (two events, ONE active week)
        (2, datetime(2024, 1, 3)), (2, datetime(2024, 1, 4)),
        # u3: cohort of Jan 8, returns week +1
        (3, datetime(2024, 1, 9)), (3, datetime(2024, 1, 15)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r.cohort), r.offset_periods): r.users
           for r in cohort_retention(df).collect()}
    assert got == {
        ("2024-01-01", 0): 2, ("2024-01-01", 1): 1, ("2024-01-01", 3): 1,
        ("2024-01-08", 0): 1, ("2024-01-08", 1): 1,
    }
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cohort_retention(df, period="month")


def test_budget_select_property_random_inputs(spark):
    # hypothesis sweep: for any sizes/priorities (ties included), any
    # group shape, any budget and bucket count, the two-phase fill
    # equals the single-window reference — inner loop drives ONE Spark
    # job per example, so examples are kept small and few
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Window

    from tsdb_parquet_spark.operators.prefix import budget_select

    rows_st = st.lists(
        st.tuples(
            st.integers(0, 5),      # group id
            st.integers(0, 20),     # size (0 allowed)
            st.integers(0, 3),      # priority (heavy ties)
        ),
        min_size=1, max_size=40,
    )

    @given(rows_st, st.integers(0, 60), st.sampled_from([1, 3, 17]),
           st.booleans())
    @settings(max_examples=12, deadline=None)
    def check(rows, budget, nb, overfill):
        data = [(i, f"g{g}", sz, pr) for i, (g, sz, pr) in enumerate(rows)]
        df = spark.createDataFrame(data, "id long, g string, sz int, prio int")
        w = Window.partitionBy("g").orderBy(F.asc("prio"), F.asc("id"))
        cum = F.sum(F.col("sz").cast("long")).over(w)
        c = F.col("c")
        cond = (c - F.col("sz") < budget) if overfill else (c <= budget)
        want = {(r.id, r.c) for r in
                df.withColumn("c", cum).filter(cond).collect()}
        got = {(r.id, r.cum_size) for r in
               budget_select(df, budget, "sz", "prio", id_col="id",
                             group_col="g", num_buckets=nb,
                             overfill=overfill).collect()}
        assert got == want

    check()


def test_funnel_property_matches_python_reference(spark):
    # hypothesis sweep of the anchored conversion-window recurrence:
    # random small event streams vs a brute-force reference that tries
    # every anchor and greedily chains earliest-next-within-window
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tsdb_parquet_spark.operators.funnel import funnel_counts

    STEPS = ["a", "b", "c"]

    def ref_reached(events, within):
        # events: [(ts, step_idx)] for ONE user; returns max step reached
        by_step = {i: sorted(t for t, s in events if s == i) for i in range(3)}
        best = 1 if by_step[0] else 0
        for t1 in by_step[0]:
            prev, reach = t1, 1
            for i in (1, 2):
                nxt = [x for x in by_step[i]
                       if x > prev and (within is None or x <= t1 + within)]
                if not nxt:
                    break
                prev = min(nxt)
                reach += 1
            best = max(best, reach)
        return best

    ev_st = st.lists(
        st.tuples(st.integers(0, 2),            # user
                  st.integers(0, 30),           # ts (seconds; ties likely)
                  st.integers(0, 2)),           # step idx
        min_size=1, max_size=25,
    )

    @given(ev_st, st.sampled_from([None, 5, 12]))
    @settings(max_examples=10, deadline=None)
    def check(events, within):
        from datetime import datetime, timedelta

        base = datetime(2024, 1, 1)
        rows = [(u, base + timedelta(seconds=t), STEPS[s])
                for u, t, s in events]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string")
        got = {r.step: r.users for r in funnel_counts(
            df, STEPS,
            within_ms=None if within is None else within * 1000).collect()}
        per_user = {}
        for u, t, s in events:
            per_user.setdefault(u, []).append((t, s))
        want = {i: sum(1 for evs in per_user.values()
                       if ref_reached(evs, within) >= i)
                for i in (1, 2, 3)}
        assert got == want

    check()


def test_transition_counts_flows_and_gaps(spark):
    from datetime import datetime

    from tsdb_parquet_spark.operators.funnel import transition_counts

    from datetime import timedelta

    def t(s):
        return datetime(2024, 1, 1) + timedelta(seconds=s)

    rows = [
        # u1: a -> b -> (gap 100s) -> c  => entry a, a->b, entry c
        (1, t(0), "a"), (1, t(5), "b"), (1, t(105), "c"),
        # u2: simultaneous a,b tie-break by name: a -> b
        (2, t(0), "b"), (2, t(0), "a"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {(r.src, r.dst): r.n for r in
           transition_counts(df, gap_ms=60_000).collect()}
    assert got == {("__start__", "a"): 2, ("a", "b"): 2, ("__start__", "c"): 1}
    # without gap, c continues u1's flow; without entries only real pairs
    got2 = {(r.src, r.dst): r.n for r in
            transition_counts(df, include_entry=False).collect()}
    assert got2 == {("a", "b"): 2, ("b", "c"): 1}


def test_funnel_conversion_times(spark):
    from datetime import datetime, timedelta

    from tsdb_parquet_spark.operators.funnel import funnel_conversion_times

    def t(s):
        return datetime(2024, 1, 1) + timedelta(seconds=s)

    rows = [
        # u1: anchors at 0 and 60; chain from 60 completes FASTER
        (1, t(0), "a"), (1, t(100), "b"), (1, t(200), "c"),
        (1, t(60), "a"),   # 60 -> b@100 -> c@200: duration 140 < 200
        # u2: never completes (no c)
        (2, t(0), "a"), (2, t(5), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r.user_id: r.duration_us for r in
           funnel_conversion_times(df, ["a", "b", "c"]).collect()}
    assert got == {1: 140_000_000}

    # a conversion window that excludes the late c drops u1 too
    assert funnel_conversion_times(
        df, ["a", "b", "c"], within_ms=120_000).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        funnel_conversion_times(df, ["a"])


def test_cusum_drift_drawdown_identity(spark):
    # hand recurrence y_i = max(0, y_{i-1} + (x - target - slack)):
    # x = [15,7,6,12,16], target 10, slack 0 -> dev [5,-3,-4,2,6]
    # y = [5,2,0,2,8]; threshold 1.5 alarms at t1 (5), t2 (2), t4 (2), t5 (8)
    from tsdb_parquet_spark.timeseries import cusum_drift

    rows = [("s", t, v) for t, v in
            enumerate([15.0, 7.0, 6.0, 12.0, 16.0], start=1)]
    df = spark.createDataFrame(rows, "label_name string, time long, value double")
    got = {r.time: r.cusum_u for r in
           cusum_drift(df, target=10.0, threshold=1.5).collect()}
    assert got == {1: 5_000_000, 2: 2_000_000, 4: 2_000_000, 5: 8_000_000}
    # slack shifts the drift allowance; higher threshold silences all
    assert cusum_drift(df, target=10.0, threshold=9.0).count() == 0
    got2 = {r.time: r.cusum_u for r in
            cusum_drift(df, target=10.0, slack=1.0, threshold=1.5).collect()}
    assert got2 == {1: 4_000_000, 5: 6_000_000}  # y=[4,0,0,1,6]


def test_autocorr_lag_exact_moments(spark):
    import statistics

    from tsdb_parquet_spark.timeseries import autocorr_lag

    # smooth ramp -> r1 ~ 1; alternating -> r1 ~ -1; constant -> NULL
    ramp = [float(i) for i in range(20)]
    alt = [float(i % 2) for i in range(20)]
    rows = ([("ramp", t, v) for t, v in enumerate(ramp)]
            + [("alt", t, v) for t, v in enumerate(alt)]
            + [("const", t, 5.0) for t in range(10)]
            + [("tiny", 0, 1.0), ("tiny", 1, 2.0)])
    df = spark.createDataFrame(rows, "label_name string, time long, value double")
    got = {r.label_name: (r.n_pairs, r.autocorr)
           for r in autocorr_lag(df, lag=1).collect()}

    def ref(vals):
        x, y = vals[:-1], vals[1:]
        return round(statistics.correlation(x, y), 6)

    assert got["ramp"] == (19, ref(ramp))
    assert got["alt"] == (19, ref(alt)) and got["alt"][1] < -0.9
    assert got["const"] == (9, None)          # zero variance
    assert got["tiny"][1] is None             # below min_pairs
    # lag-2 on the alternating series is perfectly POSITIVE
    got2 = {r.label_name: r.autocorr for r in
            autocorr_lag(df, lag=2).collect()}
    assert got2["alt"] == 1.0


def test_value_heatmap_cells(spark):
    from tsdb_parquet_spark.timeseries import value_heatmap

    rows = [("s", 0, 0.01), ("s", 1, 0.019999), ("s", 2, 0.02),
            ("s", 1_000_000, 0.05)]
    df = spark.createDataFrame(rows, "label_name string, time long, value double")
    got = {(r.t_bucket, r.v_bucket): r.n for r in
           value_heatmap(df, step_ms=600_000, value_width=0.02).collect()}
    # band edges exact: 0.019999 stays in band 0, 0.02 starts band 1
    assert got == {(0, 0): 2, (0, 1): 1, (1, 2): 1}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        value_heatmap(df, 600_000, value_width=0.0)


def test_budget_select_null_group(spark):
    # a NULL group is a real group: it must neither crash the offsets
    # sort (None vs str comparison) nor be silently dropped by a
    # non-null-safe offsets join
    from pyspark.sql import Window

    from tsdb_parquet_spark.operators.prefix import budget_select

    rows = [(i, None if i % 3 == 0 else f"g{i % 2}", 5, i % 4)
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, g string, sz int, prio int")
    w = Window.partitionBy("g").orderBy(F.asc("prio"), F.asc("id"))
    want = {(r.id, r.c) for r in
            df.withColumn("c", F.sum(F.col("sz").cast("long")).over(w))
              .filter(F.col("c") - F.col("sz") < 30).collect()}
    got = {(r.id, r.cum_size) for r in
           budget_select(df, 30, "sz", "prio", id_col="id", group_col="g",
                         num_buckets=7).collect()}
    assert got == want
    assert any(r.g is None for r in
               budget_select(df, 30, "sz", "prio", id_col="id",
                             group_col="g").collect())


def test_funnel_step_names_with_quotes(spark):
    # step names are data, not SQL: quotes must not break the unpivot
    from datetime import datetime

    from tsdb_parquet_spark.operators.funnel import funnel_counts

    rows = [(1, datetime(2024, 1, 1, 0, 0), "o'reilly"),
            (1, datetime(2024, 1, 1, 0, 1), 'say "hi"')]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r.event_type: r.users for r in
           funnel_counts(df, ["o'reilly", 'say "hi"']).collect()}
    assert got == {"o'reilly": 1, 'say "hi"': 1}


def test_cohort_and_transitions_property_random(spark):
    # random event sets vs pure-Python references for cohort_retention
    # (daily) and transition_counts (gap + entries)
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tsdb_parquet_spark.operators.funnel import (
        cohort_retention,
        transition_counts,
    )

    ev_st = st.lists(
        st.tuples(st.integers(0, 3),          # user
                  st.integers(0, 20),         # day
                  st.integers(0, 86_399),     # second within day
                  st.sampled_from("abc")),    # event type
        min_size=1, max_size=30, unique=True,
    )

    @given(ev_st, st.sampled_from([None, 3600_000]))
    @settings(max_examples=8, deadline=None)
    def check(events, gap_ms):
        from datetime import datetime, timedelta

        base = datetime(2024, 1, 1)
        rows = [(u, base + timedelta(days=d, seconds=s), e)
                for u, d, s, e in events]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string")

        # cohort (daily)
        got = {(str(r.cohort), r.offset_periods): r.users
               for r in cohort_retention(df, period="day").collect()}
        per_user_days = {}
        for u, d, s, e in events:
            per_user_days.setdefault(u, set()).add(d)
        want = {}
        for u, days in per_user_days.items():
            c = min(days)
            for d in days:
                key = (str((base + timedelta(days=c)).date()), d - c)
                want[key] = want.get(key, 0) + 1
        assert got == want

        # transitions
        got_t = {(r.src, r.dst): r.n for r in
                 transition_counts(df, gap_ms=gap_ms).collect()}
        want_t = {}
        for u in per_user_days:
            seq = sorted(
                ((d * 86_400 + s, e) for uu, d, s, e in events if uu == u)
            )
            prev = None
            for t, e in seq:
                broke = prev is None or (
                    gap_ms is not None
                    and (t - prev[0]) * 1000 > gap_ms  # seconds -> ms
                )
                src = "__start__" if broke else prev[1]
                want_t[(src, e)] = want_t.get((src, e), 0) + 1
                prev = (t, e)
        assert got_t == want_t

    check()


def test_exact_moment_stats_reference(spark):
    import statistics

    from tsdb_parquet_spark.operators.aggregates import exact_moment_stats

    vals = [1.0, 2.0, 2.0, 3.0, 7.0, 9.0]
    rows = [("g", v) for v in vals] + [("const", 4.0)] * 5
    df = spark.createDataFrame(rows, "k string, value double")
    got = {r.k: r for r in
           exact_moment_stats(df, ["k"], unit=1e-3).collect()}

    n = len(vals)
    m = sum(vals) / n
    var = sum((v - m) ** 2 for v in vals) / n
    skew = (sum((v - m) ** 3 for v in vals) / n) / var ** 1.5
    kurt = (sum((v - m) ** 4 for v in vals) / n) / var ** 2 - 3
    g = got["g"]
    assert g.n == n and g.mean == round(m, 6)
    assert abs(g.var_pop - var) < 1e-6
    assert abs(g.skew - skew) < 1e-6 and abs(g.kurt_excess - kurt) < 1e-6
    c = got["const"]
    assert c.var_pop == 0.0 and c.skew is None and c.kurt_excess is None
