"""Spark Python DataSource for Prometheus TSDB blocks: the reference's
ingest half (R1–R3, ``/root/reference/hello.go:50-74,489-497``) exposed as a
first-class Spark source —

    spark.dataSource.register(TsdbBlockDataSource)
    df = spark.read.format("tsdb").load("/path/to/block-or-dir")

This is the idiomatic Spark-4 integration of ``tsdb_block.py``'s
dependency-free decoder (index v2 + XOR chunks): instead of a
driver-orchestrated conversion job, the block becomes a *table* — scans
compose with every downstream operator, and Catalyst handles projection
into the scan output like any other source.

Scale design:

- **Planning reads only index files.**  ``schema()`` and ``partitions()``
  touch per-block ``index`` files (tens of KB — the reference block's is
  80,678 B for 154,529 samples); sample bytes (``chunks/``) are only read
  by executors inside ``read()``.
- **Two-level parallelism.**  One input partition per (block, series
  range): many blocks fan out block-per-task (the retention dimension —
  a year of 2 h blocks is ~4,380 independent tasks), and a single large
  block splits into ``series_per_partition`` slices so one hot block
  cannot serialize a stage.  Each slice re-reads the small index on the
  executor and decodes only its own series' chunks.
- **Arrow-batched rows.**  ``read()`` yields the record batches of
  ``tsdb_block.block_to_arrow`` (the documented fast path for Python data
  sources) — the same block→Arrow assembler the ingest paths use, with
  the pushed series filter and chunk time pruning passed in; columnar
  from decoder to JVM, no per-row Python objects.

The wide-layout output schema (``time``, ``value``, ``label_*`` string
columns, two-pass label-name union across blocks) matches
``tsdb_block.ingest_blocks`` exactly, so ``format("tsdb")`` scans are
drop-in inputs to ``writer.write_sorted`` and every matcher/PromQL
operator.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .tsdb_block import block_to_arrow, read_index, wide_columns, wide_ddl

FORMAT_NAME = "tsdb"

# the reference's committed block (767 series / 154,529 samples)
BLOCK_DIR_DEFAULT = "/root/reference/01GW1T7K3E9F9R361GDPVH8NZF"


def _block_dirs(path: str) -> list[str]:
    """``path`` is either one block dir (contains ``index``) or a directory
    of block dirs (ULID-named children, the Prometheus data-dir layout)."""
    if os.path.exists(os.path.join(path, "index")):
        return [path]
    out = sorted(
        os.path.join(path, d)
        for d in os.listdir(path)
        if os.path.exists(os.path.join(path, d, "index"))
    )
    if not out:
        raise FileNotFoundError(f"no TSDB block (dir with 'index') under {path!r}")
    return out


@dataclass
class _BlockSlice(InputPartition):
    block_dir: str
    series_lo: int  # index into the block's label-sorted series list
    series_hi: int  # exclusive


class TsdbBlockReader(DataSourceReader):
    def __init__(self, options: dict, schema_cols: list[str]):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('tsdb') requires .load(<block dir or parent>)")
        self.series_per_partition = int(options.get("series_per_partition", "256"))
        self.cols = schema_cols
        # pushed-down predicates (pushFilters): series-level label
        # equality/presence (exact — labels are constant per series) and
        # chunk-level time bounds (partial — chunk (mint,maxt) prune)
        self.label_eq: list[tuple[str, str]] = []  # (raw label, value)
        self.label_null: list[tuple[str, bool]] = []  # (raw label, is_null)
        self.time_lo: int | None = None  # row.time must be >  time_lo
        self.time_hi: int | None = None  # row.time must be <  time_hi

    def pushFilters(self, filters):
        """The Spark-side twin of the reference's inverted-index matcher
        evaluation (hello.go:447, SURVEY §4 O5): label equality and
        presence predicates resolve EXACTLY at the series level from the
        index alone (every row of a series carries identical labels), so
        they are fully absorbed — matching series' chunks are never even
        opened for the rest.  Time-range bounds prune whole chunks via the
        index's per-chunk (mint, maxt) and are returned to Spark as
        partially-pushed (boundary chunks still contain out-of-range
        rows).  Everything else stays Spark-side."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        def _raw(colpath) -> str | None:
            if len(colpath) != 1:
                return None
            c = colpath[0]
            if c == "label_name":
                return "__name__"
            if c.startswith("label_"):
                return c[len("label_"):]
            return None

        for f in filters:
            attr = getattr(f, "attribute", None)
            raw = _raw(attr) if attr is not None else None
            if isinstance(f, EqualTo) and raw is not None and isinstance(f.value, str):
                self.label_eq.append((raw, f.value))
                continue  # exact at series level — fully absorbed
            if isinstance(f, IsNull) and raw is not None:
                self.label_null.append((raw, True))
                continue
            if isinstance(f, IsNotNull) and raw is not None:
                self.label_null.append((raw, False))
                continue
            if attr is not None and tuple(attr) == ("time",):
                v = getattr(f, "value", None)
                if isinstance(f, GreaterThan) and isinstance(v, int):
                    self.time_lo = max(self.time_lo, v) if self.time_lo is not None else v
                    yield f  # chunk-level only: Spark re-filters rows
                    continue
                if isinstance(f, GreaterThanOrEqual) and isinstance(v, int):
                    lo = v - 1
                    self.time_lo = max(self.time_lo, lo) if self.time_lo is not None else lo
                    yield f
                    continue
                if isinstance(f, LessThan) and isinstance(v, int):
                    self.time_hi = min(self.time_hi, v) if self.time_hi is not None else v
                    yield f
                    continue
                if isinstance(f, LessThanOrEqual) and isinstance(v, int):
                    hi = v + 1
                    self.time_hi = min(self.time_hi, hi) if self.time_hi is not None else hi
                    yield f
                    continue
            yield f  # unsupported — evaluated by Spark post-scan

    def _series_matches(self, labels: dict) -> bool:
        for raw, val in self.label_eq:
            if labels.get(raw) != val:
                return False
        for raw, want_null in self.label_null:
            if (raw not in labels) != want_null:
                return False
        return True

    def _chunk_overlaps(self, mint: int, maxt: int) -> bool:
        if self.time_lo is not None and maxt <= self.time_lo:
            return False
        if self.time_hi is not None and mint >= self.time_hi:
            return False
        return True

    def partitions(self) -> list[InputPartition]:
        parts: list[InputPartition] = []
        for d in _block_dirs(self.path):
            n = len(read_index(os.path.join(d, "index")))
            step = self.series_per_partition
            parts.extend(
                _BlockSlice(d, lo, min(lo + step, n)) for lo in range(0, n, step)
            )
        return parts

    def read(self, partition: _BlockSlice):
        entries = read_index(os.path.join(partition.block_dir, "index"))[
            partition.series_lo : partition.series_hi
        ]
        yield from block_to_arrow(
            partition.block_dir,
            columns=self.cols,
            series=entries,
            keep_series=self._series_matches,  # pushed label matchers
            keep_chunk=self._chunk_overlaps,  # pushed time bounds
        ).to_batches()


class TsdbBlockStreamReader(DataSourceStreamReader):
    """Streaming half: ``spark.readStream.format("tsdb").load(datadir)``
    tails a Prometheus data directory — each new ULID block dir that
    appears becomes (part of) a micro-batch.  This is the reference's
    converter made *continuous* (its batch form reads one hardcoded block,
    ``hello.go:548``): Prometheus cuts a new block every 2 h, the stream
    ingests each exactly once, offsets checkpoint the set of processed
    blocks.

    Offsets are ``{"seen": [ulid, ...]}`` — a set-diff offset model (block
    dirs are immutable once written, so membership is the only state; ULID
    order is creation order but arrival order need not match, hence a set,
    not a high-watermark).
    """

    def __init__(self, options: dict, schema_cols: list[str]):
        self.inner = TsdbBlockReader(options, schema_cols)
        self.path = self.inner.path

    def _current_blocks(self) -> list[str]:
        try:
            return [os.path.basename(d) for d in _block_dirs(self.path)]
        except FileNotFoundError:
            return []

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        return {"seen": sorted(self._current_blocks())}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["seen"]) - set(start["seen"]))
        parts: list[InputPartition] = []
        for name in new:
            d = os.path.join(self.path, name)
            n = len(read_index(os.path.join(d, "index")))
            step = self.inner.series_per_partition
            parts.extend(
                _BlockSlice(d, lo, min(lo + step, n)) for lo in range(0, n, step)
            )
        # Spark requires >= 1 partition per micro-batch plan; an empty
        # diff yields one empty slice
        return parts or [_BlockSlice("", 0, 0)]

    def read(self, partition: _BlockSlice):
        if not partition.block_dir:
            return iter(())
        return self.inner.read(partition)

    def commit(self, end: dict) -> None:  # blocks are immutable; nothing to do
        pass


class TsdbBlockDataSource(DataSource):
    """``spark.read.format("tsdb")`` — see module docstring.

    Options: ``series_per_partition`` (default 256) controls intra-block
    split granularity.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return wide_ddl(wide_columns(
            [e for d in _block_dirs(self.options["path"])
             for e in read_index(os.path.join(d, "index"))]
        ))

    def reader(self, schema) -> TsdbBlockReader:
        return TsdbBlockReader(self.options, [f.name for f in schema.fields])

    def streamReader(self, schema) -> TsdbBlockStreamReader:
        return TsdbBlockStreamReader(self.options, [f.name for f in schema.fields])


def register(spark) -> None:
    """Register the source on a session: ``datasource.register(spark)``.

    Also enables ``spark.sql.python.filterPushdown.enabled`` at runtime:
    :meth:`TsdbBlockReader.pushFilters` requires it, and callers register
    on arbitrary sessions (not just :func:`session.get_spark`), so the
    source must carry its own prerequisite.  The conf is runtime-settable
    (verified under a bare ``SparkSession.builder.getOrCreate()``).
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TsdbBlockDataSource)
