"""Python DataSource ``format("tsdb")`` — the block reader as a first-class
Spark source.  Scans a synthetic block (the ``synthetic_block`` fixture:
NaN and ±Inf samples, a series lacking a label, jittered timestamps, a
64-bit delta-of-delta) and must agree exactly with the generated samples
and with the established ``tsdb_block.ingest_block`` path."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from tsdb_parquet_spark import datasource as ds
from tsdb_parquet_spark.tsdb_block import block_meta

T0 = 1_700_000_000_000  # the synthetic block's first scrape


@pytest.fixture(scope="module")
def tsdb_scan(spark, synthetic_block):
    ds.register(spark)
    return spark.read.format("tsdb").load(synthetic_block)


def test_schema_is_wide_layout(tsdb_scan):
    names = tsdb_scan.columns
    assert names[:2] == ["time", "value"]
    assert "label_name" in names
    assert all(c.startswith("label_") for c in names[2:])


def test_counts_match_block_meta(tsdb_scan, synthetic_block, synthetic_series):
    meta = block_meta(synthetic_block)
    agg = tsdb_scan.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("time").alias("t0"),
        F.sum(F.isnan("value").cast("int")).alias("nan"),
        F.sum(F.col("value").isNull().cast("int")).alias("null"),
    ).first()
    assert agg["n"] == meta["stats"]["numSamples"] == sum(len(s) for _, s in synthetic_series)
    assert agg["t0"] == meta["minTime"]
    # NaN samples scan as NaN, never as null
    assert agg["nan"] == sum(1 for _, s in synthetic_series for _, v in s if math.isnan(v)) > 0
    assert agg["null"] == 0


def test_partitioned_scan_equals_single_partition(spark, tsdb_scan, synthetic_block):
    # series_per_partition=3 → 6 slices of the 16-series block; the
    # union of slices must be exactly the whole block (no dup/lost series
    # at slice boundaries)
    fine = (
        spark.read.format("tsdb")
        .option("series_per_partition", "3")
        .load(synthetic_block)
    )
    assert fine.rdd.getNumPartitions() == 6
    a = sorted(tsdb_scan.groupBy("label_name", "label_handler", "label_code").count().collect())
    b = sorted(fine.groupBy("label_name", "label_handler", "label_code").count().collect())
    assert a == b


def test_matches_ingest_block_path(spark, tsdb_scan, synthetic_block, tmp_path):
    from tsdb_parquet_spark.tsdb_block import ingest_block

    out = str(tmp_path / "via_ingest")
    ingest_block(spark, synthetic_block, out)
    via_ingest = spark.read.parquet(out)
    cols = sorted(tsdb_scan.columns)
    assert sorted(via_ingest.columns) == cols
    # exact multiset equality via per-row hash aggregation
    h = lambda df: (  # noqa: E731
        df.select(F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]).alias("h"))
        .agg(
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    assert h(tsdb_scan) == h(via_ingest)


def test_query_composition_pushes_into_plan(tsdb_scan):
    # the reference's literal query (hello.go:517-525) composed over the
    # source: matcher filter + projection must run and give Q2's shape
    got = (
        tsdb_scan.filter(
            (F.col("label_name") == "http_requests_total")
            & (F.col("label_instance") == "10.0.0.1:9090")
        )
        .select("time", "value")
        .count()
    )
    assert got == 4 * 60  # 4 of the 12 counter series, 60 scrapes each


def test_stream_reader_ingests_new_blocks_exactly_once(spark, tmp_path):
    # the reference's converter made continuous: blocks appearing in a
    # Prometheus data dir become micro-batches; offsets (the set of seen
    # ULIDs) checkpoint so a restart ingests only genuinely new blocks
    from tsdb_parquet_spark.tsdb_block import write_block

    ds.register(spark)
    datadir = str(tmp_path / "promdata")
    os.makedirs(datadir)
    schema = "time bigint, value double, label_name string"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_batch():
        q = (
            spark.readStream.format("tsdb")
            .schema(schema)
            .load(datadir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_block(
        os.path.join(datadir, "01AAAAAAAAAAAAAAAAAAAAAAAA"),
        [({"__name__": "m1"}, [(1000, 1.0), (2000, 2.0)])],
        ulid="01AAAAAAAAAAAAAAAAAAAAAAAA",
    )
    run_batch()
    first = spark.read.parquet(out).collect()
    assert sorted((r["time"], r["value"], r["label_name"]) for r in first) == [
        (1000, 1.0, "m1"), (2000, 2.0, "m1"),
    ]

    # a second block appears; restart from the checkpoint → only the diff
    write_block(
        os.path.join(datadir, "01BBBBBBBBBBBBBBBBBBBBBBBB"),
        [({"__name__": "m2"}, [(3000, 3.0)])],
        ulid="01BBBBBBBBBBBBBBBBBBBBBBBB",
    )
    run_batch()
    both = spark.read.parquet(out).collect()
    got = sorted((r["time"], r["value"], r["label_name"]) for r in both)
    assert got == [(1000, 1.0, "m1"), (2000, 2.0, "m1"), (3000, 3.0, "m2")]


def test_filter_pushdown_label_and_time(spark, synthetic_block, synthetic_series):
    # label-eq filters resolve at the series level inside the source
    # (inverted-index parity, SURVEY §4 O5) and time bounds prune chunks;
    # results must equal the generated samples filtered the same way
    lo, hi = T0 + 200_000, T0 + 600_000
    q = (
        (F.col("label_name") == "http_requests_total")
        & (F.col("label_instance") == "10.0.0.1:9090")
        & (F.col("time") > lo)
        & (F.col("time") < hi)
    )
    pushed = (
        spark.read.format("tsdb").load(synthetic_block)
        .filter(q)
        .select("time", "value")
        .collect()
    )
    expect = [
        (t, v) for labels, samples in synthetic_series
        if labels["__name__"] == "http_requests_total"
        and labels.get("instance") == "10.0.0.1:9090"
        for t, v in samples if lo < t < hi
    ]
    assert sorted(tuple(r) for r in pushed) == sorted(expect)
    assert len(pushed) > 0
    # chunks wholly before the bound are pruned; the answer stays exact
    beyond = spark.read.format("tsdb").load(synthetic_block).filter(F.col("time") > T0 + (1 << 39))
    assert [tuple(r) for r in beyond.select("time", "value").collect()] == [
        (T0 + (1 << 40), 3.0), (T0 + (1 << 40) + 15_000, 4.0),
    ]


def test_filter_pushdown_absorbs_label_eq(spark, synthetic_block):
    # the label equality must disappear from Spark's post-scan Filter
    # (fully pushed), while the time bounds remain (partial)
    df = (
        spark.read.format("tsdb").load(synthetic_block)
        .filter((F.col("label_name") == "http_requests_total") & (F.col("time") > T0 + 300_000))
        .select("time", "value")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "label_name" not in plan.split("Scan")[0]  # no Spark-side label filter
    assert "time" in plan  # time bound still re-checked by Spark


def test_filter_pushdown_is_null_presence(spark, synthetic_block):
    scan = spark.read.format("tsdb").load(synthetic_block)
    present = scan.filter(F.col("label_quantile").isNotNull()).select("label_name").distinct()
    assert [r["label_name"] for r in present.collect()] == ["rpc_duration_seconds"]
    absent = scan.filter(F.col("label_instance").isNull()).select("label_name").distinct()
    assert [r["label_name"] for r in absent.collect()] == ["build_info"]
