"""Explicit partitioning control for shuffle-carrying per-group operators.

Why this exists: AQE's partition coalescing sizes post-shuffle partitions
by BYTES (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MB
default).  For a window / sessionize / collect_list plan the exchange
carries the FULL row stream, and the expensive part — per-partition sort
plus window-function evaluation — happens AFTER the exchange.  Coalescing
a ~200 MB exchange to 3-4 partitions strands the sort on 3-4 cores while
the rest of the machine idles: measured 2.1-2.3x on the counter-rate /
PromQL-rate family at a 5.8 M-row series scan (SCALE.md §5, round 6 —
4.3 s → 2.1 s and 4.4 s → 1.9 s under the sf10 suite profile).

Pinning the exchange with an explicit ``repartition(n, keys)`` keeps AQE
enabled for everything else in the query (join re-planning, skew splits)
because AQE never coalesces a user-specified shuffle with an explicit
partition count.  The pinned count is the session's
``spark.sql.shuffle.partitions`` — exactly what the non-coalesced plan
would have used.

At cluster scale the same reasoning holds: sort/window cost scales with
rows per partition, not bytes, so post-shuffle parallelism should follow
cores, not the byte-size heuristic.  Hash aggregates with partial
(map-side) reduction are NOT worth pinning — their exchange carries
partial states, which coalescing handles fine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int.  When
    that conf is non-numeric (some managed platforms set ``"auto"``), the
    cluster's ``defaultParallelism`` — cores — is the fallback: the
    cores-not-bytes parallelism every explicit spread or pin wants."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def pin_partitioning(df: DataFrame, keys: list[str]) -> DataFrame:
    """Repartition ``df`` by ``keys`` with the session's shuffle-partition
    count, pinned so AQE cannot coalesce it.

    Downstream operators requiring ``ClusteredDistribution(keys)`` — or any
    superset of ``keys``, e.g. a ``groupBy(keys + [bucket])`` after a
    window over ``keys`` — consume this partitioning without a further
    exchange (hash partitioning on a subset of the grouping keys satisfies
    the clustered distribution).

    The pinned count is :func:`shuffle_partitions` — the session's
    ``spark.sql.shuffle.partitions``, or ``defaultParallelism`` when that
    conf is non-numeric.
    """
    n = shuffle_partitions(df.sparkSession)
    return df.repartition(n, *[F.col(k) for k in keys])
