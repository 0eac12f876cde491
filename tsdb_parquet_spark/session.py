"""SparkSession factory with the engine's canonical configuration.

Design notes for scale (SURVEY.md §4, §7):

- AQE on: runtime coalescing, skew-join splitting, and dynamic join
  strategy switching replace hand-tuning at 100 TB.
- UTC session timezone pins determinism convention D3 (SURVEY.md §2.3).
- Arrow enabled for every Python<->JVM columnar hop (Pandas UDFs,
  ``toPandas``) — the slow path stays vectorized.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden (or left to AQE's coalescing with a high
  initial partition number).
- Parquet: dictionary encoding on (labels are low-cardinality strings —
  reference uses RLE_DICTIONARY, ``hello.go:139-147``), snappy compression
  for parity with the reference (``hello.go:126-144``); zstd is the 100 TB
  at-rest recommendation (set ``TSDB_SPARK_CODEC=zstd``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# the directory holding the tsdb_parquet_spark package: executor Python
# workers must import it (see get_spark)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "tsdb_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In local mode the driver is the only JVM; ``spark.driver.memory`` is the
    one memory knob. On a cluster, executor sizing is deployment config and
    deliberately not baked in here.

    Executor Python workers are forked from ``tsdb_parquet_spark.pyworker``
    (``spark.python.daemon.module``), which stops every worker call from
    re-reading the pyspark.zip directory (~0.1-0.2 s a call before Python
    3.13). So executors must be able to import ``tsdb_parquet_spark``, as
    ``format("tsdb")`` reads already require: the package's parent directory
    is appended to ``spark.executorEnv.PYTHONPATH`` (after any value
    ``extra_conf`` gives it), so workers import it whatever the working
    directory and ``PYTHONPATH``.

    PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``) is off; pass it as
    ``"true"`` in ``extra_conf``, in a fresh process, to get call sites back
    in error messages.
    """
    conf = dict(extra_conf or {})
    pypath = "spark.executorEnv.PYTHONPATH"
    entries = [p for p in conf.get(pypath, "").split(os.pathsep) if p]
    conf[pypath] = os.pathsep.join(
        entries + ([] if _PACKAGE_PARENT in entries else [_PACKAGE_PARENT]))
    cores = _local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", os.environ.get("TSDB_SPARK_CODEC", "snappy"))
        # Parquet TIMESTAMP(NANOS) (the events fixture) is otherwise
        # unreadable by Spark (PARQUET_TYPE_ILLEGAL); read it as raw ns
        # int64 and convert at load time (tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.hadoop.parquet.enable.dictionary", "true")
        # Parquet V2 data pages: int64 columns that overflow dictionary
        # encoding (the sorted `time` column) fall back to
        # DELTA_BINARY_PACKED instead of PLAIN — encoding parity with the
        # reference's time column (hello.go:131-138).  Asserted by
        # tests/test_merge_layout.py via metadata.inspect_parquet.
        .config("spark.hadoop.parquet.writer.version", "v2")
        .config("spark.driver.memory", os.environ.get("TSDB_SPARK_DRIVER_MEM", "16g"))
        # local mode collects full query results into this same process
        # (bench consumes via toPandas); 1g default caps out near 10M-row
        # results.  On a cluster you'd page results or write a sink instead.
        .config("spark.driver.maxResultSize", os.environ.get("TSDB_SPARK_MAX_RESULT", "8g"))
        .config("spark.ui.enabled", "false")
        # Python DataSource filter pushdown (datasource.py pushes label
        # matchers to the TSDB block index, time bounds to chunk metadata)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # numpy >= 1.18 madvise(MADV_HUGEPAGE)s every allocation >= 4 MB;
        # under transparent_hugepage defrag=madvise the kernel then runs
        # SYNCHRONOUS compaction on first touch.  With N Python workers
        # each first-allocating a large scores/buffer matrix at once, the
        # measured stall was 13-42 s PER WORKER on this box's kernel for
        # a matmul that computes in 0.4 s (r15, reproduced outside Spark:
        # 32 fresh processes, first-call median 21 s -> 0.6 s with this
        # off).  Regular 4 KB pages cost a few percent of TLB efficiency;
        # the first-touch compaction storm costs orders of magnitude.
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        # Every worker call ends in importlib.invalidate_caches(), which
        # before Python 3.13 re-parses the whole directory of pyspark.zip
        # under each of its 16 zipimporters: 108-230 ms a call, more than
        # most kernels run.  This daemon patches that re-read to happen only
        # when an archive changed, before it forks any worker (pyworker.py).
        .config("spark.python.daemon.module", "tsdb_parquet_spark.pyworker")
        # Call-site capture wraps every F.*/Column call in PySpark's
        # _with_origin: getActiveSession, a JVM class lookup, a conf read
        # and an origin set + clear through Py4J, plus an `import IPython`
        # attempt (IPython alone, when installed, adds ~26 MB to the
        # driver).  The origin it records is the engine's own line, not the
        # caller's.  Off: a block_ingest range-query plan makes ~350 Py4J
        # round trips instead of ~960.  PySpark reads the flag once per
        # process (pyspark.errors.utils.is_debugging_enabled), so a
        # debugging session turns it back on through extra_conf in a fresh
        # process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split sizing is BYTE-based on COMPRESSED file size, and
        # Spark floors the split at openCostInBytes (4 MB default, an
        # HDFS-era file-open cost model).  Snappy+dictionary columnar
        # data here decompresses 20-50x, so a 16 MB / 15.4M-row table
        # was scanned with FOUR tasks on a 32-core box — the scan-stage
        # parallelism starvation behind the hash-agg family's "per-row
        # cost" at sf10 (measured with 256 KB: q06 regroup 2.9 s ->
        # 1.1 s, q34 roundtrip 27.5 s -> 9.3 s, q01 4.4 s -> 1.9 s;
        # row-group granularity still bounds real splits, so small
        # files can't shatter into a task storm).  512 KB won a sweep
        # over {256 KB, 1 MB, 2 MB, 4 MB}: small enough to unlock the
        # compressed-scan parallelism, large enough that tiny broadcast-
        # side dimension scans don't pay a task-storm latency (the 256 KB
        # trial cost q09_bucketed ~0.5 s in scheduling overhead on its
        # 13 MB customer scans).  On a cluster, size against storage
        # latency — the principle (open cost ≪ split decompressed work
        # for hot columnar data) carries.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # Subset co-partitioning: a join whose children are both hash-
        # partitioned on a SUBSET of the join keys (e.g. two scans of a
        # user_id-bucketed table joined on (user_id, time_bucket) — the
        # interval-join candidate pattern) is semantically co-partitioned
        # and needs no exchange, but Spark 3.3+ rejects it by default.
        # Allowing it is exactly the at-rest-layout contract this engine
        # sells: bucket keys are chosen as the stable prefix of every
        # query's join/group keys (q14_bucketed: join+agg run with ZERO
        # hash exchanges over the q28_bucketed events table).  Trade-off:
        # the join inherits the subset key's bucket count/skew — fine by
        # construction here, where bucket counts track cluster
        # parallelism (__spark_entry__._BUCKETS).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
