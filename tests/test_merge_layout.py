"""Merge-order invariants (R18, hello.go:380-418) and sorted-layout footer
assertions (R5/O3, hello.go:148-155) — SURVEY.md §5.2 items 2-3 & 5."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tsdb_parquet_spark.metadata import inspect_parquet, row_group_time_ranges
from tsdb_parquet_spark.timeseries import merge_series, regroup_series
from tsdb_parquet_spark.writer import write_sorted


def test_merge_preserves_duplicates_and_left_ties(spark):
    # identical timestamps in both runs: duplicates preserved, left first
    a = spark.createDataFrame([(1, 1.0), (2, 1.0), (3, 1.0)], "time long, value double")
    b = spark.createDataFrame([(2, 2.0), (3, 2.0), (4, 2.0)], "time long, value double")
    out = merge_series([("x", a), ("y", b)]).collect()
    assert [(r["time"], r["src"]) for r in out] == [
        (1, "x"), (2, "x"), (2, "y"), (3, "x"), (3, "y"), (4, "y"),
    ]


def test_merge_tiebreak_is_list_order_not_tag_sort(spark):
    # tags sort the "wrong" way lexically; list order must still win
    a = spark.createDataFrame([(1, 1.0)], "time long, value double")
    b = spark.createDataFrame([(1, 2.0)], "time long, value double")
    out = merge_series([("zzz", a), ("aaa", b)]).collect()
    assert [r["src"] for r in out] == ["zzz", "aaa"]


@settings(max_examples=10, deadline=None)
@given(
    ta=st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=12),
    tb=st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=12),
)
def test_merge_property_sorted_and_complete(spark, ta, tb):
    # property: output is time-sorted, length-preserving, tie -> 'a' first
    if not ta and not tb:
        return
    a = spark.createDataFrame([(t, 0.0) for t in ta] or [(0, 0.0)], "time long, value double")
    b = spark.createDataFrame([(t, 1.0) for t in tb] or [(0, 1.0)], "time long, value double")
    if not ta:
        a = a.filter(F.lit(False))
    if not tb:
        b = b.filter(F.lit(False))
    rows = merge_series([("a", a), ("b", b)]).collect()
    assert len(rows) == len(ta) + len(tb)
    key = [(r["time"], 0 if r["src"] == "a" else 1) for r in rows]
    assert key == sorted(key)


def test_regroup_series_collects_sorted_samples(spark, tsdb_mini):
    out = regroup_series(tsdb_mini, ["label_name"])
    lat = next(r for r in out.collect() if r["label_name"] == "latency")
    assert lat["n_samples"] == 3
    assert [s["time"] for s in lat["samples"]] == [2000, 3000, 5000]


def test_write_sorted_row_groups_monotone(spark, tmp_path):
    # random-order input -> sorted layout -> footer time ranges monotone
    import random

    rnd = random.Random(7)
    rows = [(t, float(t)) for t in rnd.sample(range(100000), 50000)]
    df = spark.createDataFrame(rows, "time long, value double")
    out = str(tmp_path / "sorted")
    write_sorted(df, out, num_files=4)

    ranges = row_group_time_ranges(out)
    assert len(ranges) >= 4
    # within the concatenated file order, each group is internally valid
    for lo, hi in ranges:
        assert lo <= hi
    # ranges must be pairwise disjoint when sorted by min — the pruning
    # property: a time-range scan can skip every non-overlapping group
    by_min = sorted(ranges)
    for (lo1, hi1), (lo2, hi2) in zip(by_min, by_min[1:]):
        assert hi1 <= lo2

    info = inspect_parquet(out)
    assert info.num_rows == 50000

    # Encoding parity with the reference's time column (hello.go:131-138):
    # with parquet.writer.version=v2 (session.py), the monotone int64 time
    # column must carry DELTA_BINARY_PACKED.  50k distinct values also
    # overflow the dictionary, so this asserts the real fallback encoding,
    # not a dictionary page.
    time_encodings = set()
    for g in info.row_groups:
        for c in g.columns:
            if c.column == "time":
                time_encodings.update(c.encodings)
    assert "DELTA_BINARY_PACKED" in time_encodings, time_encodings


def test_write_sorted_arrow_table_one_job(spark, tmp_path):
    # a driver-resident Arrow table takes the one-job recipe: sorted in
    # Arrow, written by one task in num_files consecutive files — the same
    # layout contract as the range-partitioned DataFrame path
    import glob
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(11)
    times = rnd.sample(range(100000), 50000)
    job = [rnd.choice(["api", "db", None]) for _ in times]
    table = pa.table({
        "time": pa.array(times, pa.int64()),
        "value": pa.array([float(t) for t in times], pa.float64()),
        "label_job": pa.array(job, pa.string()),
    })
    sc = spark.sparkContext
    for num_files in (None, 4, 2 * sc.defaultParallelism):
        out = str(tmp_path / f"arrow_{num_files}")
        sc.setJobGroup(out, "arrow write")
        write_sorted(table, out, num_files=num_files)
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(out)) == 1  # no sample job
        files = sorted(glob.glob(os.path.join(out, "*.parquet")))
        assert len(files) == (num_files or 1)
        prev_hi = None
        for f in files:
            t = pq.read_table(f)
            keys = list(zip(t.column("time").to_pylist(), t.column("label_job").to_pylist()))
            assert keys == sorted(keys, key=lambda k: (k[0], k[1] is not None, k[1] or ""))
            if prev_hi is not None:
                assert prev_hi <= keys[0][0]
            prev_hi = keys[-1][0]
            md = pq.ParquetFile(f).metadata
            assert "DELTA_BINARY_PACKED" in md.row_group(0).column(0).encodings
        assert spark.read.parquet(out).count() == 50000


def test_inspect_parquet_single_file(spark):
    # works against the committed fixture file (single-file path)
    from tsdb_parquet_spark.tables import TSDB_PATH

    if not os.path.exists(TSDB_PATH):
        return
    info = inspect_parquet(TSDB_PATH)
    assert info.num_rows == 153965
    ranges = row_group_time_ranges(TSDB_PATH)
    by_min = sorted(ranges)
    for (lo1, hi1), (lo2, hi2) in zip(by_min, by_min[1:]):
        assert hi1 <= lo2


def test_operators_on_empty_input(spark):
    # every core operator must return a well-formed empty result, not throw
    from tsdb_parquet_spark.timeseries import (
        counter_rate,
        downsample,
        regroup_series_stats,
        select_series,
        table_meta,
    )
    from tsdb_parquet_spark.matchers import Matcher

    empty = spark.createDataFrame(
        [], "time long, value double, label_name string"
    )
    assert select_series(empty, [Matcher("=", "name", "x")], t0=0, t1=1).count() == 0
    assert regroup_series_stats(empty).count() == 0
    assert counter_rate(empty).count() == 0
    assert downsample(empty, 1000).count() == 0
    meta = table_meta(empty).collect()[0]
    assert meta["n"] == 0 and meta["t0"] is None and meta["t1"] is None


def test_counter_rate_single_sample_has_null_rate(spark):
    df = spark.createDataFrame(
        [(1000, 5.0, "m")], "time long, value double, label_name string"
    )
    from tsdb_parquet_spark.timeseries import counter_rate

    r = counter_rate(df, ["label_name"]).collect()[0]
    assert r["increase"] == 0.0 and r["rate"] is None  # zero span -> no rate


def test_label_schema_evolution_reads_merged_with_prom_null_matchers(spark, tmp_path):
    # the layout's normal mode: a later ingest adds a NEW label column.
    # load_tsdb must see the union schema regardless of which footer
    # Spark would sample, and matchers on the new label must treat
    # pre-evolution rows as absent-label (Prometheus-null semantics)
    from tsdb_parquet_spark.matchers import Matcher
    from tsdb_parquet_spark.timeseries import load_tsdb, select_series
    from tsdb_parquet_spark.writer import write_sorted

    d = str(tmp_path / "evolving")
    write_sorted(
        spark.createDataFrame(
            [(1000, 1.0, "up", "api")],
            "time long, value double, label_name string, label_job string",
        ),
        d,
    )
    write_sorted(
        spark.createDataFrame(
            [(2000, 2.0, "up", "api", "eu-1")],
            "time long, value double, label_name string, label_job string, "
            "label_zone string",
        ),
        d,
        mode="append",
    )
    df = load_tsdb(spark, d)
    assert "label_zone" in df.columns
    # the pinned footer union is exactly the schema Spark's merge infers
    assert df.schema == spark.read.option("mergeSchema", "true").parquet(d).schema

    eq = [r.time for r in select_series(
        df, [Matcher("=", "zone", "eu-1")],
        null_semantics="prometheus").collect()]
    assert eq == [2000]
    # absent label matches the EMPTY value under Prometheus semantics
    empty = [r.time for r in select_series(
        df, [Matcher("=", "zone", "")],
        null_semantics="prometheus").collect()]
    assert empty == [1000]
    neq = [r.time for r in select_series(
        df, [Matcher("!=", "zone", "eu-1")],
        null_semantics="prometheus").collect()]
    assert neq == [1000]


def test_compaction_keeps_labels_added_by_an_appended_file(spark, tmp_path):
    # a partition holding a {name, job} file and a later {name, job, zone}
    # file must compact to the same rows with every label.  A plain read
    # takes the schema of the first file by path, so the files are renamed
    # to sort in write order: that read would drop label_zone and merge the
    # two series
    from tsdb_parquet_spark.maintenance import compact_table
    from tsdb_parquet_spark.timeseries import load_tsdb

    table = str(tmp_path / "t")
    part = os.path.join(table, "blk=00000")

    def append(df, tag):
        write_sorted(df, part, mode="append")
        for f in os.listdir(part):
            if f.startswith("part-"):
                os.rename(os.path.join(part, f), os.path.join(part, f"{tag}-{f}"))

    append(
        spark.createDataFrame(
            [(1000, 1.0, "up", "api"), (2000, 2.0, "up", "api")],
            "time long, value double, label_name string, label_job string",
        ),
        "a",
    )
    append(
        spark.createDataFrame(
            [(1000, 5.0, "up", "api", "eu-1"), (3000, 6.0, "up", "api", "eu-1")],
            "time long, value double, label_name string, label_job string, "
            "label_zone string",
        ),
        "b",
    )

    def rows():
        df = load_tsdb(spark, table)
        cols = sorted(df.columns)
        return cols, sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)

    before = rows()
    assert "label_zone" in before[0] and len(before[1]) == 4
    assert compact_table(spark, table) == ["blk=00000"]
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1
    assert rows() == before
