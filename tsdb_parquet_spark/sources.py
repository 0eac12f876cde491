"""Secondary sources — CSV and JSON-lines readers with the engine's
normalization applied (SURVEY.md §2.2 "Scans/sources": parquet primary,
CSV/JSON secondary, streaming via streaming/windows.py).

Design: schema-first.  At 100 TB, schema inference means an extra full
pass over the data (Spark samples, but JSON inference reads everything by
default) — so callers pass a DDL schema or accept a one-file inference
capped by ``samplingRatio``.  Timestamps are normalized the same way the
parquet path normalizes TIMESTAMP(NANOS) (tables.load_table), so a table
is identical no matter which format it arrived in.

The at-rest side lives here too: :class:`Layout` declares one derived
table (materialized aggregate, bucketed or partitioned layout) once, and
:func:`route_at_rest` / :func:`ensure_rung` serve a query family from
the best rung of its layout ladder.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV source.  Pass a DDL ``schema`` ("a INT, b STRING") in
    production — inference costs a read pass and types drift (e.g. ints
    promoted to strings on one dirty row)."""
    reader = spark.read.option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """JSON-lines source.  Schema strongly recommended: without one Spark
    scans the whole input to infer.  Corrupt records land in
    ``_corrupt_record`` (PERMISSIVE mode) instead of failing the job —
    the right default for web-scale scraped data."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def _as_cols(cols: str | list[str] | None) -> list[str]:
    if cols is None:
        return []
    return [cols] if isinstance(cols, str) else list(cols)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str | list[str],
    num_buckets: int = 16,
    sort_col: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffles rows into ``num_buckets`` hash
    buckets on ``bucket_col`` (one column or a composite key) at write
    time.  Two tables bucketed the same way join WITHOUT a shuffle
    (SortMergeJoin with no Exchange) — the co-located join layout for
    repeated fact-fact joins at 100 TB, where re-shuffling the big table
    per query is the dominant cost.  A WINDOW over the bucket key
    likewise consumes the bucket partitioning exchange-free (the
    counter-rate family's at-rest layout, q35_bucketed).

    The pre-write ``repartition(num_buckets, keys)`` aligns task
    partitioning with the bucket hash, so each bucket lands in ONE file —
    the layout sorted scans need.

    Bucketing requires the session catalog (``saveAsTable``), not a bare
    path — Spark stores bucket metadata in the table catalog.
    """
    bcols = _as_cols(bucket_col)
    scols = _as_cols(sort_col)
    writer = (
        df.repartition(num_buckets, *bcols)
        .write.mode(mode)
        .bucketBy(num_buckets, *bcols)
    )
    if scols:
        writer = writer.sortBy(*scols)
    writer.format("parquet").saveAsTable(table_name)


def source_fingerprint(paths: str | list[str]) -> str:
    """Content fingerprint of source parquet file(s)/dir(s): sorted
    (path, size, mtime_ns) triples hashed to 10 hex chars.  Cheap (stat
    only, no data read) yet changes whenever a source file is rewritten —
    the key that keeps a cached bucketed table honest when the same
    ``sf_dir`` name is regenerated with different contents (e.g. a
    chained ``gen_scale.py`` run compounding a scale dir in place)."""
    import hashlib
    import os

    plist = [paths] if isinstance(paths, str) else list(paths)
    parts = []
    for p in sorted(plist):
        if os.path.isdir(p):
            files = sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(p)
                for f in fs
                if not f.startswith((".", "_"))
            )
        else:
            files = [p]
        for f in files:
            st = os.stat(f)
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:10]


# r15 (guide §1.2 per-task/driver work): (applicationId, final table
# name) pairs this process has ALREADY resolved to a live catalog
# table.  Every Layout.ensure/peek otherwise pays 1-2 py4j catalog
# round-trips (tableExists + the stale-sibling listTables sweep) —
# measured as the dominant driver-side cost of the bucketed/auto
# entries at bench scale (catalog jobs + gaps, not stages).  The memo
# is METADATA-only (never results): a fingerprinted name can only go
# stale if the source files change, which changes the fingerprint and
# misses the memo; unfingerprinted layouts are never memoized.  Keyed
# by applicationId so a restarted session re-probes from scratch.
_RESOLVED: set[tuple[str, str]] = set()


def _memo_hit(spark: SparkSession, memo: tuple[str, str]):
    """Resolve a memoized table name, or ``None`` (memo evicted) if the
    table vanished from the catalog — an external same-app ``DROP TABLE``
    (e.g. a restart simulation) must fall back to full resolution, not
    raise through the fast path."""
    if memo not in _RESOLVED:
        return None
    try:
        return spark.table(memo[1])
    except Exception:  # noqa: BLE001 — any analysis failure evicts
        _RESOLVED.discard(memo)
        return None


def _warehouse_dir(spark: SparkSession) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for pre in ("file://", "file:"):
        if wh.startswith(pre):
            wh = wh[len(pre):]
            break
    return wh


def _drop_stale_siblings(spark: SparkSession, base: str, keep: str) -> None:
    """Drop catalog tables and warehouse dirs named ``{base}_<fp>`` whose
    fingerprint no longer matches ``keep`` — bounds warehouse growth when
    a scale dir is regenerated repeatedly under the same name."""
    import os
    import re
    import shutil

    # matches both the current `{base}_b{n}_{fp}` scheme and the older
    # `{base}_{fp}` one, so pre-existing warehouse dirs are cleaned too
    pat = re.compile(re.escape(base) + r"_(b\d+_)?[0-9a-f]{10}$")
    for t in spark.catalog.listTables():
        if pat.fullmatch(t.name) and t.name != keep.lower():
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    wh = _warehouse_dir(spark)
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if pat.fullmatch(d) and d != keep.lower():
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def _quoted(cols: list[str]) -> str:
    return ", ".join(f"`{c}`" for c in cols)


@dataclass(frozen=True)
class Layout:
    """One at-rest layout, declared once: what ``build`` computes, which
    ``source_paths`` it derives from, and how it lies on disk (plain,
    hive-``partition_by``, or ``bucket_col``-bucketed into
    ``num_buckets`` and ``sort_col``-sorted).  :meth:`ensure` (build on
    a miss) and :meth:`peek` (never build) share one resolver, so the
    pinned rung that builds a layout and the router that probes it can
    never disagree on its name or shape.

    Table name: ``{base}`` without ``source_paths``; otherwise a
    :func:`source_fingerprint` of those files is appended —
    ``{base}_b{num_buckets}_{fp}`` when bucketed, ``{base}_{fp}`` when
    not — so regenerating the sources under the same directory name (or
    re-tuning the bucket count) invalidates the layout instead of
    silently serving a stale one.

    Resolution order: the ``_RESOLVED`` memo (one ``spark.table`` call);
    the session catalog; committed files on disk (a ``_SUCCESS`` marker
    from the committed write), re-registered through DDL with the schema
    read from the files, because the in-memory catalog forgets tables on
    restart while the warehouse persists (bucket ids live in the file
    names, so co-location survives; partitions are recovered); and, for
    :meth:`ensure` only, dropping stale same-base siblings, clearing any
    partial debris, and writing ``build()``.

    ``build`` is a thunk, evaluated only when writing — never for a
    catalog or on-disk hit.

    LOCAL-WAREHOUSE assumption: the committed-files check walks the
    warehouse with ``os.path`` after stripping a ``file:`` prefix — an
    ``hdfs://``/object-store warehouse always misses it and falls to the
    rewrite path; route the existence check through the Hadoop
    ``FileSystem`` API (maintenance._fs) before deploying there.
    """

    base: str
    build: Callable[[], DataFrame] | None = None
    source_paths: str | list[str] | None = None
    bucket_col: str | list[str] | None = None
    num_buckets: int = 16
    sort_col: str | list[str] | None = None
    partition_by: str | list[str] | None = None

    def table_name(self) -> str:
        if self.source_paths is None:
            return self.base
        fp = source_fingerprint(self.source_paths)
        if self.bucket_col is not None:
            return f"{self.base}_b{self.num_buckets}_{fp}"
        return f"{self.base}_{fp}"

    def ensure(self, spark: SparkSession) -> DataFrame:
        """The layout's table, built on a miss."""
        return self._resolve(spark, build=True)

    def peek(self, spark: SparkSession) -> DataFrame | None:
        """READ-ONLY resolution: the committed, fingerprint-fresh table,
        else ``None`` — never builds, never drops.  The probe half of
        :func:`route_at_rest`: a router must ask "is this rung
        available?" without paying the rung's build cost on a miss."""
        return self._resolve(spark, build=False)

    def _resolve(self, spark: SparkSession, build: bool) -> DataFrame | None:
        import os
        import shutil

        name = self.table_name()
        # positive resolutions only, fingerprinted names only: a MISS
        # stays a live probe (the table may be built later this session)
        memo = None
        if self.source_paths is not None:
            memo = (spark.sparkContext.applicationId, name)
            hit = _memo_hit(spark, memo)
            if hit is not None:
                return hit
        if not spark.catalog.tableExists(name):
            loc = os.path.join(_warehouse_dir(spark), name)
            if os.path.exists(os.path.join(loc, "_SUCCESS")):
                self._register(spark, name, loc)
            elif not build:
                return None
            else:
                if memo is not None:
                    _drop_stale_siblings(spark, self.base, keep=name)
                if os.path.exists(loc):
                    shutil.rmtree(loc)
                self._write(name)
        if memo is not None:
            _RESOLVED.add(memo)
        return spark.table(name)

    def _register(self, spark: SparkSession, name: str, loc: str) -> None:
        schema = spark.read.parquet(loc).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        pcols = _as_cols(self.partition_by)
        spec = f"PARTITIONED BY ({_quoted(pcols)}) " if pcols else ""
        if self.bucket_col is not None:
            scols = _as_cols(self.sort_col)
            sort = f"SORTED BY ({_quoted(scols)}) " if scols else ""
            spec += (
                f"CLUSTERED BY ({_quoted(_as_cols(self.bucket_col))}) "
                f"{sort}INTO {self.num_buckets} BUCKETS "
            )
        spark.sql(
            f"CREATE TABLE `{name}` ({cols}) USING parquet {spec}"
            f"LOCATION '{loc}'"
        )
        if pcols:
            spark.sql(f"ALTER TABLE `{name}` RECOVER PARTITIONS")

    def _write(self, name: str) -> None:
        df = self.build()
        if self.bucket_col is not None:
            write_bucketed(
                df, name, self.bucket_col, self.num_buckets, self.sort_col
            )
            return
        writer = df.write.mode("overwrite").format("parquet")
        pcols = _as_cols(self.partition_by)
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.saveAsTable(name)


# A rung of an at-rest ladder: (rung name, the layouts it reads, serve),
# where serve(*tables) turns the layouts' tables — in list order — into
# the query's answer.  A rung with no layouts (raw) always resolves.
Rung = tuple[str, list[Layout], Callable[..., DataFrame]]

# family -> rung chosen by the last route_at_rest resolution this
# process ("mv" / "bucketed" / "raw" / ...).  bench.py surfaces it in
# the output JSON so BENCH records WHICH rung served each routed query.
ROUTE_LOG: dict[str, str] = {}


def route_at_rest(
    spark: SparkSession, family: str, rungs: list[Rung]
) -> DataFrame:
    """Layout AUTO-ROUTING (verdict r13 #4 — the q09 size-gate
    generalized): resolve a query family to the best available at-rest
    rung.  ``rungs`` is an ordered list of ``(name, [Layout, ...],
    serve)`` tuples; a rung resolves when every one of its layouts
    :meth:`~Layout.peek`\\ s fresh, and is then answered by
    ``serve(*tables)``.  First hit wins; the choice lands in
    :data:`ROUTE_LOG` under ``family``.  :func:`ensure_rung` serves the
    same rung objects pinned (building on a miss), so a family's layouts
    and serve bodies are written once for both.

    This makes the amortization ladder a PROPERTY OF THE ENGINE: a
    caller asks for the query; whether it is served from a
    materialized aggregate (fingerprint-fresh), a bucketed co-located
    layout, or the raw parquet is the engine's cost-based choice —
    exactly the resolution a catalog-backed lakehouse performs when a
    materialized view matches a query subtree.  All rungs share one
    oracle (identical results by construction), so routing can never
    change answers, only plans."""
    for rung, layouts, serve in rungs:
        tables = []
        for layout in layouts:
            df = layout.peek(spark)
            if df is None:
                break
            tables.append(df)
        else:
            ROUTE_LOG[family] = rung
            return serve(*tables)
    raise ValueError(f"route_at_rest({family}): no rung resolved")


def ensure_rung(spark: SparkSession, rungs: list[Rung], rung: str) -> DataFrame:
    """The PINNED form of :func:`route_at_rest`: serve the rung named
    ``rung``, building its layouts on a miss — each rung individually
    measurable, from the same rung objects the router probes."""
    for name, layouts, serve in rungs:
        if name == rung:
            return serve(*[layout.ensure(spark) for layout in layouts])
    raise KeyError(rung)


def read_orc(spark: SparkSession, path: str, **options: str) -> DataFrame:
    """ORC source — Spark's other native columnar format (vectorized
    reader, predicate pushdown, column pruning all built in, same as
    parquet).  Schema comes from the ORC footer; no inference pass."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              codec: str = "zstd") -> None:
    """ORC sink with zstd (ORC's best at-rest codec).  Interop escape
    hatch: the engine's canonical layout stays sorted parquet
    (writer.write_sorted) — this exists so ORC-resident corpora can enter
    and leave without a format detour through another engine."""
    df.write.mode(mode).option("compression", codec).orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Directory-of-files ingest via Spark's ``binaryFile`` source — the
    front door of the multimodal pipeline (llm/multimodal.py): images,
    audio or video land as (path, modificationTime, length, content
    BINARY) rows, one task per file group, no Python in the scan.

    100 TB posture: binaryFile is a real FileFormat — partition planning,
    predicate pushdown on file metadata (path/length/mtime), and
    ``spark.sql.files.maxPartitionBytes`` batching all apply; pair with
    ``pathGlobFilter`` so pruning happens at listing time, not after the
    read.  ``max_bytes`` guards against a single huge file skewing
    executor memory (filter happens on the metadata column, before
    content is materialized downstream).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(df["length"] <= max_bytes)
    return df


def binary_dir_to_multimodal(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    media_type: str = "image",
) -> DataFrame:
    """binaryFile scan → the multimodal table convention
    (llm/multimodal.py: item_id, media_type, payload, meta struct) — the
    end-to-end files-on-disk → decode-pipeline bridge."""
    from pyspark.sql import functions as F

    df = read_binary_dir(spark, path, glob)
    # matches llm.multimodal.MULTIMODAL_SCHEMA (+ provenance columns) so
    # decode_images/extract_features run on it unchanged
    return df.select(
        F.xxhash64("path").alias("item_id"),
        F.col("content"),
        F.struct(
            F.lit(media_type).alias("modality"),
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
        F.col("path").alias("source_uri"),
        F.col("length").alias("source_bytes"),
    )
