"""Parquet footer inspection — parity with the reference's ``visualize()``
(``/root/reference/hello.go:75-119``), which prints schema, total rows, and
per-row-group / per-column: type, value count, encodings, compressed and
uncompressed byte sizes, compression ratio, and share of the row group.

Spark does not expose Parquet footers, so this reads them with pyarrow —
driver-side, metadata-only (no data pages are read), so it is O(row groups),
not O(rows), and safe to run against very large files.

The same footers pin a table's read schema (:func:`read_parquet`): their
union, mapped to Spark types on the driver, replaces the Spark job that
``mergeSchema`` (or even a plain read) launches to infer it.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


@dataclass
class ColumnChunkInfo:
    column: str
    physical_type: str
    num_values: int
    encodings: tuple[str, ...]
    compression: str
    compressed_bytes: int
    uncompressed_bytes: int
    # stats for pruning audits (row-group skipping on sorted layouts)
    stat_min: object | None
    stat_max: object | None
    null_count: int | None

    @property
    def compression_ratio(self) -> float:
        if self.compressed_bytes == 0:
            return 0.0
        return self.uncompressed_bytes / self.compressed_bytes


@dataclass
class RowGroupInfo:
    index: int
    num_rows: int
    total_byte_size: int
    columns: list[ColumnChunkInfo] = field(default_factory=list)


@dataclass
class ParquetInfo:
    path: str
    num_rows: int
    num_row_groups: int
    schema: str
    created_by: str | None
    row_groups: list[RowGroupInfo] = field(default_factory=list)


def _part_files(path: str) -> list[str]:
    """A single Parquet file, or every part file of a Spark output
    directory (``part-*.parquet``, sorted by name so row groups come back
    in the writer's task order) — lets footer audits run directly on
    ``writer.write_sorted`` output."""
    import glob
    import os

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        if not parts:
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return parts
    return [path]


def inspect_parquet(path: str) -> ParquetInfo:
    """Read a Parquet file's (or Spark output directory's) footers and
    return the same facts the reference's inspector prints
    (hello.go:93-118), plus per-column min/max stats.  For a directory the
    per-file row groups are concatenated in filename order."""
    files = _part_files(path)
    first = pq.ParquetFile(files[0])
    info = ParquetInfo(
        path=path,
        num_rows=0,
        num_row_groups=0,
        schema=str(first.schema_arrow),
        created_by=first.metadata.created_by,
    )
    gi_offset = 0
    for fp in files:
        f = pq.ParquetFile(fp)
        md = f.metadata
        info.num_rows += md.num_rows
        info.num_row_groups += md.num_row_groups
        _append_row_groups(info, md, gi_offset)
        gi_offset += md.num_row_groups
    return info


def _append_row_groups(info: ParquetInfo, md, gi_offset: int) -> None:
    for gi in range(md.num_row_groups):
        rg = md.row_group(gi)
        g = RowGroupInfo(index=gi_offset + gi, num_rows=rg.num_rows, total_byte_size=rg.total_byte_size)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            stats = col.statistics
            g.columns.append(
                ColumnChunkInfo(
                    column=col.path_in_schema,
                    physical_type=col.physical_type,
                    num_values=col.num_values,
                    encodings=tuple(col.encodings),
                    compression=col.compression,
                    compressed_bytes=col.total_compressed_size,
                    uncompressed_bytes=col.total_uncompressed_size,
                    stat_min=stats.min if stats and stats.has_min_max else None,
                    stat_max=stats.max if stats and stats.has_min_max else None,
                    null_count=stats.null_count if stats and stats.has_null_count else None,
                )
            )
        info.row_groups.append(g)


def row_group_time_ranges(path: str, column: str = "time") -> list[tuple[object, object]]:
    """Per-row-group (min, max) for one column — the pruning-audit helper:
    on a correctly sorted time-series layout these ranges are monotone and
    barely overlap, so time-range scans skip most groups (SURVEY.md §4 O3)."""
    info = inspect_parquet(path)
    out: list[tuple[object, object]] = []
    for g in info.row_groups:
        for c in g.columns:
            if c.column == column:
                out.append((c.stat_min, c.stat_max))
    return out


def format_info(info: ParquetInfo) -> str:
    """Human-readable rendering, one line per column chunk — the shape of the
    reference's tablewriter output (hello.go:97-118)."""
    lines = [
        f"file: {info.path}",
        f"rows: {info.num_rows}  row groups: {info.num_row_groups}",
        f"created by: {info.created_by}",
        "schema:",
        info.schema,
    ]
    for g in info.row_groups:
        lines.append(f"-- row group {g.index}: {g.num_rows} rows, {g.total_byte_size} bytes")
        for c in g.columns:
            pct = 100.0 * c.compressed_bytes / g.total_byte_size if g.total_byte_size else 0.0
            lines.append(
                f"   {c.column}: {c.physical_type} n={c.num_values} enc={'/'.join(c.encodings)}"
                f" comp={c.compression} {c.compressed_bytes}B/{c.uncompressed_bytes}B"
                f" ratio={c.compression_ratio:.2f} pct={pct:.1f}%"
            )
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# Pinned read schema: the footer union, mapped the way Spark's reader maps it
# ---------------------------------------------------------------------------

# the schema Spark stores in every file it writes; its reader prefers it to
# converting the Parquet schema (ParquetFileFormat.readSchemaFromFooter)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_GLOB = re.compile(r"[*?\[\]{}]")


class _Unmapped(Exception):
    """A path or footer the driver does not list or map: Spark's own read
    handles it."""


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` under a schema pinned from the footers:
    the union of every data file's columns, so no Spark job runs to infer
    it and no file's columns are dropped.

    A plain read takes ONE footer's schema, so columns only later files
    carry (a label added by a later ingest) vanish; ``mergeSchema`` unions
    them, but both launch a Spark job on every read.  Here the footers are
    read on the driver with pyarrow instead: O(files), about 0.1 ms a file
    on local disk.

    - Listing follows Spark's file index: every directory below ``path``,
      skipping names that start with ``.`` or with ``_`` (unless they hold
      ``=``, a partition directory) and ``._COPYING_`` files.
    - Fields come in first-seen order over the files sorted by path; two
      files that disagree on a column's type raise ``ValueError``.
    - Types map as Spark's Parquet reader maps them under the session's
      confs; partition columns are left to Spark's own inference.
    - Paths the driver cannot list or map itself (a non-``file:`` scheme, a
      glob, a partition column also stored in the files, an unmapped type,
      an unreadable footer) keep Spark's ``mergeSchema`` read.
    """
    try:
        files, keys = _data_files(spark, path)
        schema = _footer_union(spark, files)
        # a partition column also stored in the files keeps its data
        # position only under an inferred schema: leave it to Spark
        if keys & {n.lower() for n in schema.names}:
            raise _Unmapped(path)
    except _Unmapped:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(schema).parquet(path)


def _hidden(name: str) -> bool:
    # InMemoryFileIndex.shouldFilterOutPathName, without the summary files:
    # they repeat the data files' schema
    return (name.startswith("_") and "=" not in name) or name.startswith(".") \
        or name.endswith("._COPYING_")


def _data_files(spark: SparkSession, path: str) -> tuple[list[str], set[str]]:
    """The data files Spark would read under ``path``, sorted, and the
    (lower-cased) partition keys of its ``k=v`` directories; ``_Unmapped``
    when the driver cannot list them itself."""
    if _GLOB.search(path):
        raise _Unmapped(path)
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    # relative paths and the default filesystem resolve as Spark resolves them
    qualified = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()) \
        .makeQualified(hpath).toUri()
    if qualified.getScheme() != "file":
        raise _Unmapped(path)
    local = qualified.getPath()
    if os.path.isfile(local):
        return [local], set()
    files: list[str] = []
    keys: set[str] = set()
    for root, dirs, names in os.walk(local, followlinks=True):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        keys.update(d.split("=", 1)[0].lower() for d in dirs if "=" in d)
        files += [os.path.join(root, n) for n in names if not _hidden(n)]
    if not files:
        raise _Unmapped(path)
    return sorted(files), keys


# the session confs Spark's Parquet-to-Spark type mapping reads
# (ParquetToSparkSchemaConverter), with their defaults
_READER_CONFS = {
    "binary_as_string": ("spark.sql.parquet.binaryAsString", "false"),
    "int96_as_timestamp": ("spark.sql.parquet.int96AsTimestamp", "true"),
    "nanos_as_long": ("spark.sql.legacy.parquet.nanosAsLong", "false"),
    "infer_ntz": ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
}


def _footer_union(spark: SparkSession, files: list[str]) -> T.StructType:
    """The union of the files' Spark schemas, in first-seen field order.
    Every field is nullable, as Spark reads every file-source column.  The
    reader confs are fetched only for a file Spark did not write: Spark's
    own files carry their Spark schema."""
    fields: dict[str, T.StructField] = {}
    folded: dict[str, str] = {}
    parsed: dict[bytes, T.StructType] = {}
    confs: dict[str, bool] | None = None
    for f in files:
        try:
            md = pq.read_metadata(f)
        except (OSError, pa.ArrowException) as e:
            raise _Unmapped(f) from e
        spark_json = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
        if spark_json is not None:
            if spark_json not in parsed:
                parsed[spark_json] = T.StructType.fromJson(json.loads(spark_json))
            schema = parsed[spark_json]
        else:
            if confs is None:
                confs = {k: spark.conf.get(key, default).lower() == "true"
                         for k, (key, default) in _READER_CONFS.items()}
            schema = _convert(md.schema, confs)
        for fld in schema.fields:
            fld = T.StructField(fld.name, _nullable(fld.dataType), True, fld.metadata)
            if fld.name not in fields:
                # Spark would resolve these two as one column (or refuse)
                if folded.setdefault(fld.name.lower(), fld.name) != fld.name:
                    raise _Unmapped(fld.name)
                fields[fld.name] = fld
            else:
                old = fields[fld.name]
                fields[fld.name] = T.StructField(
                    fld.name, _merge(old.dataType, fld.dataType, f"{fld.name} in {f}"),
                    True, old.metadata)
    return T.StructType(list(fields.values()))


def _nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _merge(a: T.DataType, b: T.DataType, where: str) -> T.DataType:
    """Spark's ``StructType.merge`` rule: structs union their fields,
    arrays and maps merge their parts, anything else must be equal."""
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        out = {f.name: f for f in a.fields}
        for f in b.fields:
            if f.name in out:
                g = out[f.name]
                out[f.name] = T.StructField(f.name, _merge(g.dataType, f.dataType, where),
                                            True, g.metadata)
            else:
                out[f.name] = f
        return T.StructType(list(out.values()))
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge(a.elementType, b.elementType, where), True)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(_merge(a.keyType, b.keyType, where),
                         _merge(a.valueType, b.valueType, where), True)
    if a != b:
        raise ValueError(f"cannot merge Parquet schemas: {a.simpleString()} vs "
                         f"{b.simpleString()} for {where}")
    return a


def _convert(pschema: pq.ParquetSchema, confs: dict[str, bool]) -> T.StructType:
    """A Parquet schema with no Spark schema stored in it, mapped to Spark
    types.  pyarrow's tree (built from the Parquet schema alone, not from
    any stored Arrow schema) gives the nesting; each leaf's type comes from
    its Parquet physical and logical type, in leaf order."""
    leaves = iter(pschema.column(i) for i in range(len(pschema)))

    def walk(t: pa.DataType) -> T.DataType:
        if pa.types.is_struct(t):
            return T.StructType([T.StructField(f.name, walk(f.type)) for f in t])
        if pa.types.is_map(t):
            return T.MapType(walk(t.key_type), walk(t.item_type))
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return T.ArrayType(walk(t.value_type))
        return _leaf_type(next(leaves), confs)

    return T.StructType([T.StructField(f.name, walk(f.type))
                         for f in pschema.to_arrow_schema()])


_INTS = {(8, True): T.ByteType, (16, True): T.ShortType, (32, True): T.IntegerType,
         (64, True): T.LongType, (8, False): T.ShortType, (16, False): T.IntegerType,
         (32, False): T.LongType}


def _leaf_type(col, confs: dict[str, bool]) -> T.DataType:
    physical = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical.get("Type", "None")
    if kind == "Decimal":
        return T.DecimalType(col.precision, col.scale)
    if physical == "BOOLEAN" and kind == "None":
        return T.BooleanType()
    if physical in ("INT32", "INT64"):
        if kind == "None":
            return T.IntegerType() if physical == "INT32" else T.LongType()
        if kind == "Int":
            key = (logical["bitWidth"], logical["isSigned"])
            return T.DecimalType(20, 0) if key == (64, False) else _INTS[key]()
        if kind == "Date" and physical == "INT32":
            return T.DateType()
        if kind == "Timestamp" and physical == "INT64":
            if logical["timeUnit"] == "nanoseconds":
                if confs["nanos_as_long"]:
                    return T.LongType()
            elif logical["isAdjustedToUTC"] or not confs["infer_ntz"]:
                return T.TimestampType()
            else:
                return T.TimestampNTZType()
    if physical == "INT96" and confs["int96_as_timestamp"]:
        return T.TimestampType()
    if physical == "FLOAT" and kind == "None":
        return T.FloatType()
    if physical == "DOUBLE" and kind == "None":
        return T.DoubleType()
    if physical == "BYTE_ARRAY":
        if kind in ("String", "Enum", "JSON") or (kind == "None" and confs["binary_as_string"]):
            return T.StringType()
        if kind in ("None", "BSON"):
            return T.BinaryType()
    if physical == "FIXED_LEN_BYTE_ARRAY" and kind == "None":
        return T.BinaryType()
    raise _Unmapped(f"{col.path}: {physical} {kind}")
