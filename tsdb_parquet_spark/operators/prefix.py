"""Distributed prefix sums over a total order — without the
single-partition window trap.

The naive Spark form of a global running sum, ``Window.orderBy(k)`` with
no ``partitionBy``, collapses the whole table into ONE task (Spark even
warns) — the textbook scale killer for corpus-order operations like
training-sequence packing.  The classic fix is the two-phase parallel
prefix sum:

1. split the total order into ``num_buckets`` contiguous key ranges;
2. per-bucket window cumsum (parallel across buckets, one shuffle);
3. add each bucket's prefix offset — the running total of all earlier
   buckets — computed from the per-bucket sums (a ``num_buckets``-row
   driver hop, bounded metadata by this repo's conventions).

Bucketing is DETERMINISTIC (equal-width ranges from the key's min/max,
one cheap min/max aggregate), not ``repartitionByRange`` — the range
partitioner samples, and sampled boundaries are not guaranteed to agree
between the offsets job and the main job, which would silently corrupt
the prefix.  Equal-width ranges skew with non-uniform keys; at
production scale feed real range stats (e.g. parquet column min/max
histograms) into ``bucket_bounds`` instead.

100 TB shape: one shuffle (the per-bucket window), one scan-shaped
aggregate for the offsets, one min/max probe.  Everything else is
map-stage JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import shuffle_partitions


def distributed_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    alias: str = "cumsum",
    num_buckets: int | None = None,
    bucket_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Global running sum of ``value_col`` over the total order of
    ``order_col`` (a numeric, unique ordering key), identical to
    ``SUM(value) OVER (ORDER BY key)`` but executed as a two-phase
    parallel prefix sum (module docstring).

    ``num_buckets`` defaults to the session's shuffle partition count;
    ``bucket_bounds`` overrides the (min, max) probe when the caller
    already knows the key range (saves the probe job).
    """
    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = shuffle_partitions(spark)
    if bucket_bounds is None:
        row = df.agg(
            F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
        ).first()
        if row.lo is None:
            return df.withColumn(alias, F.lit(None).cast("double"))
        bucket_bounds = (float(row.lo), float(row.hi))
    lo, hi = bucket_bounds
    span = (hi - lo) / num_buckets or 1.0
    bucket = F.least(
        F.floor((F.col(order_col) - F.lit(lo)) / F.lit(span)),
        F.lit(num_buckets - 1),
    ).cast("int")

    d = df.withColumn("_pfx_bucket", bucket)
    # phase 3's offsets: per-bucket totals -> running prefix (tiny)
    totals = (
        d.groupBy("_pfx_bucket")
        .agg(F.sum(value_col).alias("_tot"))
        .collect()
    )
    offsets: dict[int, float] = {}
    run = 0
    for r in sorted(totals, key=lambda r: r._pfx_bucket):
        offsets[r._pfx_bucket] = run
        run += r._tot or 0  # a bucket whose values are all NULL sums to None
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("_pfx_bucket").orderBy(order_col)
    return d.withColumn(
        alias,
        F.sum(value_col).over(w) + F.coalesce(
            off_map[F.col("_pfx_bucket")], F.lit(0)
        ),
    ).drop("_pfx_bucket")


def interval_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    t_alias: str = "t",
    alias: str = "concurrent",
    **cumsum_opts,
) -> DataFrame:
    """How many intervals are active at each boundary instant — the
    sweep-line aggregation (active sessions / concurrent requests /
    resource occupancy over time) that plain SQL needs a window over a
    TOTAL order for, and that naive Spark therefore executes in one
    task.

    Classic sweep-line, distributed: each interval emits (+1 at start,
    −1 at end) — end-exclusive, so an interval ending exactly when
    another starts never double-counts — boundary deltas pre-aggregate
    per instant (making the order key unique and shrinking the stream
    to distinct boundaries), then :func:`distributed_cumsum` produces
    the running active count fully in parallel.  Output: one row per
    distinct boundary ``t`` with the count active on [t, next boundary).

    100 TB shape: two map stages + one hash agg + the prefix machinery's
    single bucketed window — no single-partition window anywhere.
    """
    starts = df.select(F.col(start_col).alias(t_alias), F.lit(1).alias("_d"))
    ends = df.select(F.col(end_col).alias(t_alias), F.lit(-1).alias("_d"))
    deltas = (
        starts.unionAll(ends)
        .groupBy(t_alias)
        .agg(F.sum("_d").alias("_d"))
    )
    out = distributed_cumsum(
        deltas, t_alias, "_d", alias=alias, **cumsum_opts
    )
    return out.select(t_alias, F.col(alias).cast("long").alias(alias))


def packed_sequences(
    df: DataFrame,
    order_col: str,
    token_col: str,
    seq_len: int,
    pack_alias: str = "pack_id",
    **cumsum_opts,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    batching op: documents concatenated in ``order_col`` order and cut
    into fixed ``seq_len``-token training sequences; each document is
    assigned the pack its FIRST token lands in (documents straddling a
    boundary belong to the pack they start in — the bookkeeping
    convention; the tokens themselves still fill both packs at train
    time).

    ``pack_id = floor((cumsum(tokens) - tokens) / seq_len)`` via
    :func:`distributed_cumsum` — fully parallel, one shuffle.
    """
    d = distributed_cumsum(
        df, order_col, token_col, alias="_pfx_cum", **cumsum_opts
    )
    start = F.col("_pfx_cum") - F.col(token_col)
    return d.withColumn(
        pack_alias, F.floor(start / F.lit(seq_len)).cast("long")
    ).drop("_pfx_cum")


def budget_select(
    df: DataFrame,
    budget: int | dict,
    size_col: str,
    priority_col: Column | str,
    id_col: str = "doc_id",
    group_col: str | None = None,
    bucket_key: Column | None = None,
    num_buckets: int | None = None,
    overfill: bool = True,
    default_budget: int = 0,
    cum_alias: str = "cum_size",
) -> DataFrame:
    """Greedy budget-capped selection: take rows in ``priority_col``
    order (ties broken by ``id_col``) until the running ``size_col``
    total reaches ``budget`` — per ``group_col`` when given.  The
    data-recipe step that turns a quality- or hash-ranked pool into a
    fixed token budget ("best/first N-billion tokens per source"),
    which Bernoulli sampling (``sample_mixture``) can only hit in
    expectation and a LIMIT can't express at all (the cap is on the
    SUM of sizes, not the row count).

    ``overfill=True`` (default) keeps the row that crosses the budget
    boundary — the greedy fill always reaches the budget when enough
    data exists (truncate downstream); ``overfill=False`` keeps only
    rows that fit entirely (never exceeds, may underfill).  ``budget``
    may be a ``{group: budget}`` dict (missing groups get
    ``default_budget``).  Output = input rows selected, plus the
    running total as ``cum_alias`` — so the cut is auditable.

    Exactness is SQL-window semantics: identical to
    ``SUM(size) OVER (PARTITION BY group ORDER BY priority, id)``
    filtered against the budget, but executed as the module's
    two-phase prefix sum, never a single-partition window.  The bucket
    split follows the module's determinism rule (NOT
    ``repartitionByRange`` — sampled boundaries can disagree between
    the offsets job and the main job): equal-width ranges over a
    numeric ``bucket_key`` that must be monotone non-decreasing in the
    priority order with equal keys for equal priorities — rows of one
    group in an earlier bucket then always precede its rows in later
    buckets, so per-(bucket, group) offsets reconstruct the exact
    per-group running total.  ``bucket_key`` defaults to the priority
    itself when numeric; for string priorities (e.g. an md5 rank) pass
    e.g. ``F.conv(F.substring(prio, 1, 15), 16, 10).cast("bigint")``
    (15 hex chars = 60 bits, exact in a bigint; fixed-length hex
    compares lexicographically = numerically, so the prefix value is
    monotone in the full string).

    100 TB shape: one min/max probe, one scan-shaped hash agg whose
    (bucket x groups-per-bucket) result is a driver hop bounded by
    ``num_buckets + |groups|`` rows (contiguous groups span few
    buckets), broadcast back — and ONE full-data exchange (the
    per-bucket window).  Sizes and priorities must be non-null.
    """
    from pyspark.sql.types import LongType, NumericType, StructField, StructType

    spark = df.sparkSession
    prio = F.col(priority_col) if isinstance(priority_col, str) else priority_col
    if num_buckets is None:
        num_buckets = shuffle_partitions(spark)
    if bucket_key is None:
        dt = df.select(prio.alias("_p")).schema[0].dataType
        if not isinstance(dt, NumericType):
            raise TypeError(
                f"priority dtype {dt.simpleString()} is not numeric: pass an "
                "explicit monotone numeric bucket_key (see docstring)"
            )
        bucket_key = prio
    bk = bucket_key.cast("double")
    row = df.agg(F.min(bk).alias("lo"), F.max(bk).alias("hi")).first()
    gcols = [group_col] if group_col else []
    if isinstance(budget, dict):
        if not group_col:
            raise ValueError("a budget dict requires group_col")
        items = [F.lit(x) for kv in sorted(budget.items()) for x in kv]
        bexpr = F.coalesce(
            F.create_map(*items)[F.col(group_col)], F.lit(int(default_budget))
        )
    else:
        bexpr = F.lit(int(budget))
    if row.lo is None:  # empty input: keep the output schema contract
        return df.withColumn(cum_alias, F.lit(None).cast("long")).filter(
            F.lit(False)
        )
    lo, hi = float(row.lo), float(row.hi)
    span = (hi - lo) / num_buckets or 1.0
    bucket = F.least(
        F.floor((bk - F.lit(lo)) / F.lit(span)), F.lit(num_buckets - 1)
    ).cast("int")

    d = df.withColumn("_bs_bucket", bucket)
    totals = (
        d.groupBy("_bs_bucket", *gcols)
        .agg(F.sum(F.col(size_col).cast("long")).alias("_tot"))
        .collect()
    )
    run: dict = {}
    pairs = []
    # Sort by bucket ONLY: per-group offsets need just ascending buckets
    # within each group, which a global bucket sort provides — and a
    # bucket-only key never compares group values, so mixed/falsy/NULL
    # group types (int 0 next to str, None) can't raise TypeError.
    for r in sorted(totals, key=lambda r: r["_bs_bucket"]):
        g = r[group_col] if group_col else None
        pairs.append(
            ((r["_bs_bucket"], r[group_col], run.get(g, 0)) if group_col
             else (r["_bs_bucket"], run.get(g, 0)))
        )
        run[g] = run.get(g, 0) + (r["_tot"] or 0)
    fields = [StructField("_bs_bucket", d.schema["_bs_bucket"].dataType)]
    if group_col:
        fields.append(StructField(group_col, df.schema[group_col].dataType))
    fields.append(StructField("_bs_off", LongType()))
    off = spark.createDataFrame(pairs, StructType(fields))

    w = Window.partitionBy("_bs_bucket", *gcols).orderBy(
        prio.asc(), F.col(id_col).asc()
    )
    cum = F.sum(F.col(size_col).cast("long")).over(w) + F.col("_bs_off")
    # eqNullSafe join: a NULL group key must still match its offsets row
    # (a name-list join drops null-keyed rows silently)
    off_a = F.broadcast(off).alias("_off")
    d_a = d.alias("_d")
    jcond = F.col("_d._bs_bucket") == F.col("_off._bs_bucket")
    for g in gcols:
        jcond = jcond & F.col(f"_d.{g}").eqNullSafe(F.col(f"_off.{g}"))
    joined = (
        d_a.join(off_a, jcond, "left")
        .select("_d.*", F.col("_off._bs_off").alias("_bs_off"))
        .withColumn(cum_alias, cum)
    )
    crossed = (
        F.col(cum_alias) - F.col(size_col) < bexpr
        if overfill
        else F.col(cum_alias) <= bexpr
    )
    return joined.filter(crossed).drop("_bs_bucket", "_bs_off")
