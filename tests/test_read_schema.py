"""The pinned read schema (``metadata.read_parquet``, behind
``timeseries.load_tsdb``): no Spark job infers it, and it equals the schema
Spark's ``mergeSchema`` read infers on every table the engine reads."""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from pathlib import Path

import pytest
from pyspark.sql import types as T

from tsdb_parquet_spark.metadata import read_parquet
from tsdb_parquet_spark.tables import TABLE_NAMES, TSDB_BLOCK_PATH, table_path
from tsdb_parquet_spark.timeseries import load_tsdb
from test_plans import SF  # the sf0.001 driver tables

# the committed fixtures: pyarrow-written files and one Spark-written table
DATA = sorted(glob.glob(str(Path(__file__).resolve().parents[1] / "data" / "*.parquet")))
DATA.append(TSDB_BLOCK_PATH)


def _merged(spark, path):
    return spark.read.option("mergeSchema", "true").parquet(path).schema


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs, counted by job group.  A
    sentinel job in a second group runs after it: job starts reach the
    status tracker in order, so once the sentinel shows, so has every job
    ``fn`` launched."""
    sc = spark.sparkContext
    group = f"read-schema-{uuid.uuid4().hex}"
    for g, run in ((group, fn), (f"{group}-sentinel", lambda: spark.range(1).count())):
        sc.setJobGroup(g, "probe")
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(f"{group}-sentinel"):
            break
        time.sleep(0.05)
    else:
        raise AssertionError("the sentinel job never reached the status tracker")
    return len(tracker.getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def block_table(spark, synthetic_series, synthetic_block, tmp_path_factory):
    """Three ``ingest_block`` partitions, as perfbench's block_ingest table
    holds them; the middle block's series carry one more label."""
    from tsdb_parquet_spark.tsdb_block import ingest_block, write_block

    root = tmp_path_factory.mktemp("blocks")
    zoned = str(root / "01ZONEDBLOCK00000000000000")
    write_block(zoned, [({**labels, "zone": "eu-1"}, samples)
                        for labels, samples in synthetic_series])
    table = str(root / "t")
    for i, block in enumerate((synthetic_block, zoned, synthetic_block)):
        ingest_block(spark, block, os.path.join(table, f"blk={i:05d}"), num_files=2)
    return table


def test_load_tsdb_schema_launches_no_job(spark, block_table):
    assert _jobs_run_by(spark, lambda: load_tsdb(spark, block_table).schema) == 0
    assert _jobs_run_by(spark, lambda: _merged(spark, block_table)) >= 1  # what it replaces


def test_pinned_schema_equals_merged_on_block_table(spark, block_table):
    df = load_tsdb(spark, block_table)
    assert df.schema == _merged(spark, block_table)
    assert "label_zone" in df.columns and df.columns[-1] == "blk"  # partition column inferred by Spark, last
    assert df.count() == spark.read.parquet(block_table).count()


@pytest.mark.parametrize("path", DATA, ids=os.path.basename)
def test_pinned_schema_equals_merged_on_fixtures(spark, path):
    assert load_tsdb(spark, path).schema == _merged(spark, path)


def test_pinned_schema_equals_merged_on_driver_tables(spark):
    paths = [table_path(SF, t) for t in TABLE_NAMES if os.path.exists(table_path(SF, t))]
    if not paths:
        pytest.skip("driver tables not present")
    for p in paths:
        assert read_parquet(spark, p).schema == _merged(spark, p), p


def test_listing_skips_hidden_files_and_reads_globs_through_spark(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t"
    (d / "k=1").mkdir(parents=True)
    (d / "_temporary").mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "k=1" / "part-0.parquet")
    # names Spark's file index skips: not part of the union
    pq.write_table(pa.table({"hidden": [1.0]}), d / "_temporary" / "part-0.parquet")
    pq.write_table(pa.table({"dot": [1.0]}), d / "k=1" / ".part-1.parquet")
    (d / "_SUCCESS").write_bytes(b"")
    df = read_parquet(spark, str(d))
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        ("a", T.LongType()), ("k", T.IntegerType())]
    assert df.schema == _merged(spark, str(d))
    # a glob is Spark's to expand
    assert read_parquet(spark, str(d / "k=*")).schema == _merged(spark, str(d / "k=*"))


def test_conflicting_column_types_raise(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), d / "part-0.parquet")
    pq.write_table(pa.table({"a": pa.array(["x"])}), d / "part-1.parquet")
    with pytest.raises(ValueError, match="cannot merge"):
        read_parquet(spark, str(d))


def test_unreadable_footer_keeps_sparks_read(spark, tmp_path):
    # a file pyarrow cannot open leaves the read to Spark, which raises
    # (or skips it, under ignoreCorruptFiles) by its own rules
    from py4j.protocol import Py4JJavaError

    d = tmp_path / "t"
    d.mkdir()
    shutil.copy(DATA[0], d / "part-0.parquet")
    (d / "part-1.parquet").write_bytes(b"not parquet")
    with pytest.raises(Py4JJavaError):
        read_parquet(spark, str(d)).schema
