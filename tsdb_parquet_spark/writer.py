"""Sorted time-series Parquet write path.

The reference declares its physical layout in the FrostDB schema: rows kept
globally sorted by (time ASC, then each dynamic label ASC nulls-first)
(``/root/reference/hello.go:148-155``), with value PLAIN+SNAPPY, time
DELTA_BINARY_PACKED+SNAPPY, labels RLE_DICTIONARY (hello.go:126-144).  The
sort is what makes time-range queries prune: Parquet row-group min/max stats
on ``time`` become disjoint ranges, so a range scan touches few groups.

One layout contract — ``num_files`` files, each sorted, with ordered and
disjoint time ranges — and two recipes, chosen by where the input lives:

- **A Spark DataFrame** (distributed data; SURVEY.md §4 O3): sorting is a
  write-time recipe, not a schema property —

      df.repartitionByRange(N, "time")      # global range partition on time
        .sortWithinPartitions("time", *labels, nulls-first)
        .write.parquet(path)

  ``repartitionByRange`` samples the time distribution, so output files
  hold disjoint time ranges (file-level pruning); ``sortWithinPartitions``
  orders rows inside each file (row-group-level pruning).  Three Spark
  jobs: the range sample, the shuffle, the write.
- **A ``pyarrow.Table``** (already on the driver, e.g. a decoded TSDB
  block): the table is sorted in Arrow, handed to Spark once, and written
  by one task — ``coalesce(1)`` with ``maxRecordsPerFile = ceil(rows /
  N)`` cuts the sorted stream into consecutive files.  One Spark job, no
  sample and no exchange.  ``num_files=None`` writes one file.

Dictionary encoding is automatic; delta encoding comes with the Parquet V2
writer; snappy/zstd via session config (session.py).

At 100 TB, additionally partition the output directory by a coarse time
bucket (``date``) for catalog-level partition pruning — ``bucket_col``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .timeseries import LABEL_PREFIX, TIME_COL, label_columns


def write_sorted(
    df: DataFrame | pa.Table,
    path: str,
    num_files: int | None = None,
    labels: list[str] | None = None,
    bucket_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` in the reference's sorted time-series layout.

    ``num_files`` is the output file count (None → for a DataFrame, Spark's
    default range-partition count, i.e. ``spark.sql.shuffle.partitions``;
    for an Arrow table, one file).  An Arrow table of ``rows`` rows gets
    exactly ``num_files`` files whenever ``rows > (num_files - 1)**2``;
    below that, every file holds ``ceil(rows / num_files)`` rows but the
    last, so there may be fewer.  Size so one file ≈ 128 MB-1 GB at the
    target scale.  ``bucket_col`` adds a directory-level partition column
    (e.g. a pre-computed date string) for partition pruning; an Arrow
    table with one takes the DataFrame recipe.
    """
    if isinstance(df, pa.Table):
        if bucket_col is None:
            _write_arrow_sorted(df, path, num_files, labels, mode)
            return
        df = SparkSession.active().createDataFrame(df)
    labels = labels if labels is not None else label_columns(df)
    # nulls-first to mirror the reference's NullsFirst sorting columns
    # (hello.go:153).
    sort_cols = [F.col(TIME_COL).asc()] + [F.col(c).asc_nulls_first() for c in labels]

    if num_files:
        out = df.repartitionByRange(num_files, TIME_COL)
    else:
        out = df.repartitionByRange(TIME_COL)
    out = out.sortWithinPartitions(*sort_cols)

    writer = out.write.mode(mode)
    if bucket_col:
        writer = writer.partitionBy(bucket_col)
    writer.parquet(path)


def _write_arrow_sorted(
    table: pa.Table, path: str, num_files: int | None, labels: list[str] | None, mode: str,
) -> None:
    """The driver-resident recipe: the same (time, labels nulls-first) order,
    sorted in Arrow, written by a single task in ``num_files`` consecutive
    slices."""
    if labels is None:
        labels = sorted(c for c in table.column_names if c.startswith(LABEL_PREFIX))
    table = table.sort_by(
        [(TIME_COL, "ascending")] + [(c, "ascending") for c in labels],
        null_placement="at_start",
    )
    writer = SparkSession.active().createDataFrame(table).coalesce(1).write.mode(mode)
    if num_files and table.num_rows:
        writer = writer.option("maxRecordsPerFile", -(-table.num_rows // num_files))
    writer.parquet(path)


def ingest_increment(
    spark,
    new_df: DataFrame,
    path: str,
    key_cols: list[str] | None = None,
) -> int:
    """Idempotent incremental ingest: append only rows whose fingerprint
    (xxhash64 over ``key_cols``, default: all columns) is absent from the
    existing table — the at-least-once-safe batch ingest pattern (the
    streaming twin is ``streaming.stream_dedup``).

    Scale: the anti-join key is an 8-byte hash, so the shuffle carries
    (hash) pairs, not rows; the existing side is pre-projected to the
    hash column only.  At 100 TB, additionally restrict the existing-side
    scan to the time range of the new batch (partition pruning makes the
    anti-join read only overlapping partitions).

    Returns the number of rows appended.
    """
    import os

    cols = key_cols or new_df.columns
    fp = F.xxhash64(*cols)
    if not os.path.exists(path):
        write_sorted(new_df, path)
        return new_df.count()
    existing = spark.read.parquet(path)
    # Prune the existing side to the new batch's time range before hashing —
    # but ONLY when the fingerprint covers the time column.  If key_cols
    # excludes time, an existing row with the same key at a time outside the
    # batch's range would be invisible to the pruned scan and the duplicate
    # would be appended, breaking idempotence (round-3 advisor finding).
    if TIME_COL in cols and TIME_COL in existing.columns:
        t = new_df.agg(F.min(TIME_COL), F.max(TIME_COL)).collect()[0]
        if t[0] is not None:
            existing = existing.filter(
                (F.col(TIME_COL) >= t[0]) & (F.col(TIME_COL) <= t[1])
            )
    seen = existing.select(F.xxhash64(*cols).alias("_fp")).distinct()
    novel = (
        new_df.withColumn("_fp", fp)
        .join(seen, "_fp", "left_anti")
        .drop("_fp")
    )
    n = novel.count()
    if n:
        write_sorted(novel, path, mode="append")
    return n


def with_time_bucket(df: DataFrame, granularity: str = "dt") -> DataFrame:
    """Add a coarse time-bucket column (UTC date string from epoch-ms
    ``time``) for directory partitioning at scale."""
    ts = F.timestamp_millis(F.col(TIME_COL))
    if granularity == "dt":
        return df.withColumn("dt", F.date_format(ts, "yyyy-MM-dd"))
    if granularity == "hour":
        return df.withColumn("dt", F.date_format(ts, "yyyy-MM-dd-HH"))
    raise ValueError(f"unknown granularity: {granularity!r}")
