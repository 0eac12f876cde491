"""Table maintenance for time-partitioned Parquet tables: small-file
compaction, retention, and partition stats.

Continuous ingest (micro-batch appends, ``rollup.refresh_rollup``,
``writer.ingest_increment``) accretes small files; time-series tables also
age out.  The reference has neither concern (it never persists,
``/root/reference/hello.go:510``), but a maintained 100 TB deployment of
its data model lives or dies by them — TSDB compaction itself is the
same idea one level down (Prometheus compacts blocks; we compact
partitions).

Scale posture:

- **Metadata-only where possible.**  ``retention_drop`` deletes whole
  partition directories by comparing the partition VALUE against the
  cutoff — no sample data is read, cost is O(partitions dropped), the
  same property catalog-level partition pruning gives reads.
- **Compaction is per-partition and independent.**  Each partition
  rewrite reads and writes only that directory; partitions compact in
  isolation (and could be dispatched concurrently — each rewrite is its
  own small Spark job).  The rewrite preserves the sorted layout
  (``sortWithinPartitions`` on time) so row-group pruning survives
  compaction.
- **Hadoop FileSystem API, not os.**  Listings and renames go through
  the JVM's ``FileSystem`` so the same code addresses ``file://``,
  ``hdfs://`` and object stores; nothing here assumes a local disk.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return jvm, fs, hpath


@dataclass
class PartitionStat:
    partition: str  # e.g. "dt=2023-03-21" ("" for an unpartitioned table)
    n_files: int
    total_bytes: int

    @property
    def avg_file_bytes(self) -> float:
        return self.total_bytes / self.n_files if self.n_files else 0.0


def _is_data_file(name: str) -> bool:
    return not name.startswith(("_", ".")) and name.endswith(".parquet")


def partition_stats(spark: SparkSession, path: str) -> list[PartitionStat]:
    """Per-partition file count + bytes (driver-side listing — metadata
    scale; one partition dir level, the layout ``writer.write_sorted``
    produces with ``bucket_col`` / ``rollup`` with ``chunk``)."""
    jvm, fs, root = _fs(spark, path)
    out: list[PartitionStat] = []
    root_files = 0
    root_bytes = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            n, b = 0, 0
            for f in fs.listStatus(st.getPath()):
                if _is_data_file(f.getPath().getName()):
                    n += 1
                    b += f.getLen()
            out.append(PartitionStat(name, n, b))
        elif st.isFile() and _is_data_file(name):
            root_files += 1
            root_bytes += st.getLen()
    if root_files:
        out.append(PartitionStat("", root_files, root_bytes))
    return sorted(out, key=lambda s: s.partition)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    sort_cols: list[str] | None = None,
) -> list[str]:
    """Compact every partition whose files are both numerous (>=
    ``min_files``) and small (average < half the target).  Returns the
    partitions rewritten.

    Each rewrite: read one partition dir under the union of its files'
    schemas (``metadata.read_parquet``: a file appended with a new label
    column keeps it, and older rows read it as NULL) → coalesce to
    ``ceil(bytes/target)`` files → ``sortWithinPartitions`` (sorted layout
    survives) → write to a sibling temp dir → atomic-ish swap (rename old
    out, rename new in, delete old).  Readers racing a swap see the old or
    the new listing; for stronger isolation put a table format (Iceberg/
    Delta) on top — out of scope here, the mechanism is the point.
    """
    from .metadata import read_parquet
    from .timeseries import TIME_COL

    rewritten: list[str] = []
    for st in partition_stats(spark, path):
        if st.n_files < min_files or st.avg_file_bytes >= target_file_bytes / 2:
            continue
        part_path = f"{path}/{st.partition}" if st.partition else path
        n_out = max(1, math.ceil(st.total_bytes / target_file_bytes))
        df = read_parquet(spark, part_path)
        cols = df.columns
        sort_by = sort_cols or ([TIME_COL] if TIME_COL in cols else cols[:1])
        jvm, fs, _ = _fs(spark, path)
        tmp = f"{part_path}__compact_tmp"
        old = f"{part_path}__compact_old"
        (
            df.coalesce(n_out)
            .sortWithinPartitions(*sort_by)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        p_cur = jvm.org.apache.hadoop.fs.Path(part_path)
        p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
        p_old = jvm.org.apache.hadoop.fs.Path(old)
        if not fs.rename(p_cur, p_old):
            raise IOError(f"compact: cannot stage out {part_path}")
        if not fs.rename(p_tmp, p_cur):
            fs.rename(p_old, p_cur)  # roll back
            raise IOError(f"compact: cannot swap in {tmp}")
        fs.delete(p_old, True)
        rewritten.append(st.partition or ".")
    return rewritten


def retention_drop(
    spark: SparkSession,
    path: str,
    keep_from: str,
    partition_col: str | None = None,
) -> list[str]:
    """Drop every partition directory whose value sorts strictly below
    ``keep_from`` (partition values are chosen sortable by construction:
    ISO dates, zero-padded hours, numeric chunk ids compared numerically).
    Metadata-only — nothing is read, cost is O(dropped partitions).

    Returns the dropped partition names."""
    jvm, fs, root = _fs(spark, path)
    dropped: list[str] = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and "=" in name):
            continue
        col, _, val = name.partition("=")
        if partition_col and col != partition_col:
            continue
        try:
            below = float(val) < float(keep_from)
        except ValueError:
            below = val < keep_from
        if below:
            fs.delete(st.getPath(), True)
            dropped.append(name)
    return sorted(dropped)


def table_health(spark: SparkSession, path: str) -> dict:
    """One-call summary for a maintenance decision: partition count, file
    count, bytes, and the small-file partitions a compaction would touch."""
    stats = partition_stats(spark, path)
    small = [
        s.partition
        for s in stats
        if s.n_files >= 2 and s.avg_file_bytes < 64 * 1024 * 1024
    ]
    return {
        "partitions": len(stats),
        "files": sum(s.n_files for s in stats),
        "bytes": sum(s.total_bytes for s in stats),
        "small_file_partitions": small,
    }


def vacuum(spark: SparkSession, path: str) -> list[str]:
    """Remove maintenance debris: ``__compact_tmp`` / ``__compact_old``
    directories left by a compaction that died mid-swap.

    Crash-safe: a process death BETWEEN compact_table's stage-out rename
    (cur→old) and swap-in rename (tmp→cur) leaves the primary directory
    missing and old/tmp holding the ONLY copies of the partition, so
    before deleting debris for primary ``X`` this checks that ``X``
    exists.  If it doesn't, vacuum RESTORES instead of deleting: the tmp
    dir (fully written before stage-out begins) is renamed in to
    complete the interrupted swap, else the old dir is renamed back to
    roll it back.  Only after the primary is present is remaining debris
    deleted.  Returns removed paths (restores are reported as
    ``restored:<name>``)."""
    jvm, fs, root = _fs(spark, path)
    removed: list[str] = []
    # group debris by its primary path: {primary: {suffix: hadoop Path}}
    debris: dict[str, dict[str, object]] = {}
    stack = [root]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            name = st.getPath().getName()
            if not st.isDirectory():
                continue
            matched = False
            for suf in ("__compact_tmp", "__compact_old"):
                if name.endswith(suf):
                    primary = str(st.getPath())[: -len(suf)]
                    debris.setdefault(primary, {})[suf] = st.getPath()
                    matched = True
                    break
            if not matched:
                stack.append(st.getPath())
    for primary, parts in debris.items():
        p_cur = jvm.org.apache.hadoop.fs.Path(primary)
        if not fs.exists(p_cur):
            # interrupted between stage-out and swap-in: restore before
            # any delete.  Prefer completing the swap (tmp was fully
            # written before stage-out started); else roll back to old.
            src_suf = (
                "__compact_tmp" if "__compact_tmp" in parts else "__compact_old"
            )
            src = parts.pop(src_suf)
            if not fs.rename(src, p_cur):
                raise IOError(
                    f"vacuum: primary {primary} missing and cannot "
                    f"restore {src_suf} — leaving debris untouched"
                )
            removed.append(f"restored:{src.getName()}")
        for p in parts.values():
            fs.delete(p, True)
            removed.append(p.getName())
    return sorted(removed)


def tiered_retention(
    spark: SparkSession,
    raw_path: str,
    keep_from: str,
    cutoff_ms: int,
    rollup_paths: list[str],
    partition_col: str | None = None,
    frontier: str = "per_series",
) -> dict:
    """Tiered retention — the hypertable data-lifecycle policy (raw
    samples short-lived, continuous-aggregate rollups long-lived): drop
    raw partitions below ``keep_from`` ONLY after verifying that every
    rollup's ingest frontier (``max(last_t)`` over its state — a
    metadata-sized aggregate on the already-small state table) has
    passed ``cutoff_ms``.  ``keep_from`` and ``cutoff_ms`` express the
    SAME instant in the partition key's units (ISO date / chunk id) and
    the data's epoch-ms respectively — the caller owns that mapping,
    the policy owns the safety check.

    Rollup refresh is fold-in (not idempotent per row), so the policy
    must never "re-roll just in case" — the frontier check is the
    correct guarantee: if a rollup has folded samples up to T, every
    raw row below T has a downsampled form, and dropping it loses no
    queryable history at that tier.  A rollup whose frontier lags the
    cutoff aborts the WHOLE drop (raises ``ValueError``) — partial
    tiering is silent data loss.

    ``frontier="per_series"`` (default) takes the MINIMUM over series
    of each series' ``max(last_t)`` — a global max would overstate the
    frontier when one series' refresh lags another's (per-source
    pipelines, late raw rows), green-lighting drops that lose the
    lagging series' unfolded samples.  The cost of the safe default:
    a series that legitimately STOPPED (decommissioned instance) pins
    the frontier at its last sample forever — for that fleet-churn
    regime pass ``frontier="global"`` plus per-source cutoffs, or
    retire dead series from the rollup first.

    Returns ``{"dropped": [...], "frontiers": {path: frontier_ms}}``.
    """
    from pyspark.sql import functions as F

    if frontier not in ("per_series", "global"):
        raise ValueError("frontier must be 'per_series' or 'global'")
    frontiers: dict[str, int] = {}
    for rp in rollup_paths:
        # the raw STATE table (not read_rollup's finalized view, which
        # projects last_t away) carries the per-bucket max sample time
        state = spark.read.parquet(rp)
        if frontier == "per_series":
            labels = [
                c for c in state.columns
                if c not in ("bucket", "chunk", "n", "sum_u", "min_v",
                             "max_v", "last_t", "last_v", "nd_sketch",
                             "q_sketch")
            ]
            per = state.groupBy(*labels).agg(F.max("last_t").alias("_f"))
            fval = per.agg(F.min("_f")).first()[0]
        else:
            fval = state.agg(F.max("last_t")).first()[0]
        frontiers[rp] = fval
        if fval is None or fval < cutoff_ms:
            raise ValueError(
                f"rollup {rp} ingest frontier {fval} has not passed "
                f"cutoff {cutoff_ms}: dropping raw data below it would "
                "lose samples with no rolled-up form — refresh the "
                "rollup first"
            )
    dropped = retention_drop(spark, raw_path, keep_from, partition_col)
    return {"dropped": dropped, "frontiers": frontiers}
