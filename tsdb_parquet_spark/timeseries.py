"""Time-series query pipeline: scan → filter → project → regroup → merge.

PySpark-native re-expression of the reference's query half
(``/root/reference/hello.go:513-534``)::

    engine.ScanTable("tsdb_table")
      .Filter(And(time > start, time < end, matchers...))
      .Project(DynCol("labels"), Col("time"), Col("value"))
      .Execute(ctx, callback)          # callback regroups rows into series

and its series-reassembly half (hello.go:319-428): dictionary decode →
hash-group rows by label set → 2-way sorted merge of sample runs.

Spark mapping (SURVEY.md §1.4, §2.1 R7-R20):

- scan        → ``spark.read.parquet`` (vectorized, dictionary-decoding reader)
- filter      → ``df.filter(...)`` — Catalyst pushes the time-range and
                equality matchers into the Parquet scan; with the sorted
                layout (writer.py) row groups outside the range are skipped.
- projection  → ``df.select(...)``; the dynamic ``labels.*`` family
                (``DynCol``, hello.go:527) becomes a name-prefix select over
                ``label_*`` columns.
- regroup     → ``groupBy(label cols).agg(sort_array(collect_list(...)))`` —
                Spark's shuffle replaces the reference's single-threaded (and
                racy, hello.go:516/532) callback-side map mutation; grouping
                is by exact label values, not a 64-bit hash, so the
                xxhash-collision risk of hello.go:352 disappears.
- merge       → ``UNION ALL`` + total sort.  The reference's 2-way merge
                (hello.go:380-418) preserves duplicate timestamps and keeps
                the LEFT run first on ties (``av <= bv``, hello.go:406); we
                encode that as a stable ``(time, src)`` sort key.

Scale notes (100 TB): the regroup shuffles once on the label columns —
unavoidable and correct (it IS the aggregation); partial aggregation
(map-side collect_list append) happens automatically.  The series filter +
projection run before the shuffle, so only surviving (time,value,labels)
rows move.  Sorting samples per series happens inside ``sort_array`` on
already-grouped data — no extra exchange.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .matchers import Matcher, NullSemantics, apply_matchers, wide_label_col
from .operators.aggregates import exact_value_sum
from .sources import Layout

# Fixed columns of the tsdb model (hello.go:120-138): time INT64 epoch-ms,
# value DOUBLE.  Everything else is a dynamic label column.
TIME_COL = "time"
VALUE_COL = "value"
LABEL_PREFIX = "label_"


def label_columns(df: DataFrame) -> list[str]:
    """The dynamic-column family: every ``label_*`` column, sorted by name —
    the Spark counterpart of ``DynCol("labels")`` expansion (hello.go:527)
    and of the two-pass label-name union the reference's bulk-ingest path
    performs (hello.go:216-233, sorted at :233)."""
    return sorted(c for c in df.columns if c.startswith(LABEL_PREFIX))


def time_range(t0: int | None, t1: int | None) -> Column:
    """Exclusive-both-ends time range predicate — the reference uses
    ``time > start AND time < end`` with MinInt64/MaxInt64 defaults
    (hello.go:514-515, 520-523)."""
    cond = F.lit(True)
    if t0 is not None:
        cond = cond & (F.col(TIME_COL) > F.lit(t0))
    if t1 is not None:
        cond = cond & (F.col(TIME_COL) < F.lit(t1))
    return cond


def select_series(
    df: DataFrame,
    matchers: list[Matcher] | None = None,
    t0: int | None = None,
    t1: int | None = None,
    label_col: Callable[[str], Column] = wide_label_col,
    null_semantics: NullSemantics = "sql",
    anchored: bool = True,
    project_labels: list[str] | None = None,
) -> DataFrame:
    """scan → filter(time ∧ matchers) → project — hello.go:518-530.

    ``project_labels=None`` projects the full dynamic family; a list projects
    only those labels (column pruning reaches the Parquet scan either way).
    """
    out = df.filter(time_range(t0, t1))
    if matchers:
        out = apply_matchers(out, matchers, label_col, null_semantics, anchored)
    if project_labels is not None:
        labels = [f"{LABEL_PREFIX}{name}" for name in project_labels]
    else:
        # full dynamic family: every wide label column, plus the canonical
        # map on long/hybrid layouts (it IS the rest of the label set there)
        labels = label_columns(df) + (["labels"] if "labels" in df.columns else [])
    return out.select(TIME_COL, VALUE_COL, *labels)


def query_selector(
    df: DataFrame,
    selector: str,
    t0: int | None = None,
    t1: int | None = None,
    null_semantics: NullSemantics = "sql",
) -> DataFrame:
    """One-call PromQL-selector query: ``query_selector(tsdb,
    'up{job="prometheus"}', t0, t1)`` — parse the selector
    (matchers.parse_selector), compile to pushdown-able predicates, and
    run the scan→filter→project pipeline.

    Layout-aware: matchers compile through ``matchers.hybrid_label_col``,
    so each label resolves to its wide ``label_*`` column when the layout
    materializes one (predicate reaches the Parquet scan) and to the
    canonical ``labels`` map entry otherwise — the SURVEY §4 redirect.
    On a pure-wide layout this is exactly the old behavior, except a
    label absent from the schema now compiles to NULL (Prometheus
    absent-label semantics under ``null_semantics="prometheus"``) instead
    of failing analysis."""
    from .matchers import hybrid_label_col, parse_selector

    return select_series(
        df,
        parse_selector(selector),
        t0=t0,
        t1=t1,
        label_col=hybrid_label_col(df),
        null_semantics=null_semantics,
    )


def regroup_series(df: DataFrame, labels: list[str] | None = None) -> DataFrame:
    """Rows → one row per series with time-sorted samples.

    The information-equivalent of the reference's ``parseRecord`` +
    cross-batch accumulation (hello.go:319-366, 419-428): group by the full
    label set, collect ``(time, value)`` samples, sort by time.  Returns
    ``labels..., samples ARRAY<STRUCT<time,value>>, n_samples``.
    """
    labels = labels or label_columns(df)
    return df.groupBy(*labels).agg(
        F.sort_array(F.collect_list(F.struct(TIME_COL, VALUE_COL))).alias("samples"),
        F.count(F.lit(1)).alias("n_samples"),
    )


def regroup_series_stats(
    df: DataFrame,
    labels: list[str] | None = None,
    hashed_key: bool = False,
) -> DataFrame:
    """Scalar-shaped series regroup (oracle-friendly form of Q6): per label
    set, sample count, time span, and an exact decimal sum of values
    (determinism convention D2 — decimal before aggregation, emitted as
    DOUBLE so Spark's and DuckDB's result types agree).

    ``hashed_key=True`` groups on one 64-bit hash of the label columns
    instead of the N-string key, carrying the labels as ``first()``
    aggregates.  Identical output below the documented collision bound —
    but measured SLOWER at sf10 (4.7 s vs 2.2 s fresh-built): the
    string-valued ``first`` buffers force SortAggregate (full
    per-partition sort) in place of HashAggregate.  Kept as the recorded
    negative result (SCALE.md round-7); default False is the fast path.
    """
    labels = labels or label_columns(df)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.min(TIME_COL).alias("t0"),
        F.max(TIME_COL).alias("t1"),
        exact_value_sum(F.col(VALUE_COL)).alias("sv"),
    ]
    if hashed_key:
        from .operators.aggregates import hashed_group_key

        key = hashed_group_key(df, labels).alias("_gk")
        return (
            df.groupBy(key)
            .agg(*[F.first(c).alias(c) for c in labels], *aggs)
            .drop("_gk")
        )
    return df.groupBy(*labels).agg(*aggs)


def series_dim_layouts(
    spark: SparkSession,
    base_name: str,
    build_df: Callable[[], DataFrame],
    labels: list[str],
    num_buckets: int = 32,
    source_paths: str | list[str] | None = None,
    value_scale: int = 6,
) -> tuple[Layout, Layout]:
    """At-rest series-dictionary layout — the 100 TB answer to the q06
    regroup floor recorded in SCALE.md §5b.

    A real TSDB never regroups raw label strings per query: Prometheus
    assigns every label set a numeric series reference at ingest and
    keys all chunks by it (the model behind the reference's
    ``storage.SeriesRef`` usage, hello.go:319-366 regroups what ingest
    already dictionary-encoded).  This materializes that design once:

    - ``{base}_dim``: ``series_id INT`` → label columns (~#series rows;
      deterministic dense ids via row_number over the sorted label
      sets, so a rebuilt dim always agrees with cached facts from the
      same source fingerprint);
    - ``{base}_facts``: ``(series_id, time, value, value_u)`` bucketed
      AND sorted on ``series_id`` — so every per-series aggregate /
      window consumes the at-rest partitioning; ``value_u`` is the
      exact ``DECIMAL(18,{scale})`` long-unit encoding of value
      (identical per-row value to ``exact_value_sum``'s cast), paying
      the decimal conversion ONCE at ingest instead of per query.

    Query-time regroup then needs: int-key HashAggregate (fixed-width
    probes — the §5b hashed-key pattern made legal by the at-rest
    dimension) + primitive long sum + a broadcast join back to labels.
    Measured at sf10 (15.4 M rows): 2.2-2.5 s raw-parquet floor →
    0.92 s (see SCALE.md §5c).

    Both tables cache across sessions keyed by the source fingerprint
    (:class:`~tsdb_parquet_spark.sources.Layout` semantics).  Returns
    the ``(facts, dim)`` layouts; ``ensure`` builds them (facts first
    ensures dim — the join needs it), ``peek`` probes them read-only.
    """
    unit = 10**value_scale

    def build_dim() -> DataFrame:
        from pyspark.sql import Window

        distinct = build_df().select(*labels).distinct()
        order = [F.asc_nulls_first(c) for c in labels]
        w = Window.orderBy(*order)
        # single-partition row_number is fine: #series ≪ #rows (the
        # dimension IS small — that's why it broadcasts)
        return distinct.select(
            F.row_number().over(w).cast("int").alias("series_id"), *labels
        )

    dim_layout = Layout(f"{base_name}_dim", build_dim, source_paths)

    def build_facts() -> DataFrame:
        dim = dim_layout.ensure(spark)
        src = build_df()
        cond = None
        for c in labels:
            e = src[c].eqNullSafe(dim[c])  # labels may be NULL
            cond = e if cond is None else cond & e
        return src.join(F.broadcast(dim), cond).select(
            dim["series_id"],
            src[TIME_COL],
            src[VALUE_COL],
            (src[VALUE_COL].cast(f"decimal(18,{value_scale})") * unit)
            .cast("long")
            .alias("value_u"),
        )

    facts_layout = Layout(
        f"{base_name}_facts",
        build_facts,
        source_paths,
        bucket_col="series_id",
        num_buckets=num_buckets,
        sort_col=["series_id", TIME_COL],
    )
    return facts_layout, dim_layout


def regroup_series_stats_dim(
    facts: DataFrame, dim: DataFrame, value_scale: int = 6
) -> DataFrame:
    """:func:`regroup_series_stats` over the series-dim layout: int-key
    aggregate on the bucketed facts (no string probes, primitive long
    value sum — the decimal conversion was paid at ingest), then ONE
    broadcast join back to the label columns.  Output is bit-identical
    to the raw form: same per-row units, same single exact decimal
    division per group (decimal_sum's argument)."""
    unit = 10**value_scale
    agg = facts.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(TIME_COL).alias("t0"),
        F.max(TIME_COL).alias("t1"),
        (F.sum("value_u").cast(f"decimal(38,{value_scale})") / F.lit(unit))
        .cast("double")
        .alias("sv"),
    )
    labels = [c for c in dim.columns if c != "series_id"]
    return agg.join(F.broadcast(dim), "series_id").select(*labels, "n", "t0", "t1", "sv")


def merge_series(
    parts: list[tuple[str, DataFrame]],
    value_round: int = 4,
) -> DataFrame:
    """Duplicate-preserving sorted merge of N sample runs (R18 generalized).

    ``parts`` is ``[(src_tag, df), ...]`` where each df has (time, value).
    Mirrors ``merge`` at hello.go:380-418: duplicates are preserved, ties
    break toward the earlier-listed run (``av <= bv``, hello.go:406) —
    encoded as the total sort key ``(time, part-list-index)``, so the
    left-run-first tie-break holds regardless of how the caller's src tags
    sort lexically; the tag stays as a display column.  Spark's distributed
    range-partitioned sort is the n-way generalization of the reference's
    2-way in-memory merge.
    """
    tagged = [
        df.select(
            F.col(TIME_COL),
            F.round(F.col(VALUE_COL), value_round).alias("v"),
            F.lit(tag).alias("src"),
            F.lit(i).alias("_part_idx"),
        )
        for i, (tag, df) in enumerate(parts)
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionAll(t)
    return out.orderBy(TIME_COL, "_part_idx").drop("_part_idx")


def counter_rate(
    df: DataFrame,
    labels: list[str] | None = None,
    round_dp: int = 6,
    pin: bool = True,
) -> DataFrame:
    """PromQL-style counter ``increase``/``rate`` per series, reset-aware —
    the TSDB-domain aggregation the reference's end goal (a PromQL engine,
    ``README.md:9``) would need, expressed entirely in built-ins.

    Per series (label set): order samples by time, take positive deltas
    only (a negative delta is a counter reset; Prometheus adds the
    post-reset value, i.e. treats the reset as a restart from 0 — so the
    contribution of a reset sample is its own value), sum them as the
    increase over the span, divide by the span seconds for the rate.

    Plan: one shuffle on the label columns (the window partition), then a
    partial+final aggregate over the same keys — Spark reuses the window's
    partitioning, so the aggregate needs no second exchange.  The shuffle
    is PINNED (operators/partitioning.pin_partitioning) so AQE's byte-based
    coalescing can't strand the post-shuffle sort+window on a few cores —
    measured 2x at a 5.8 M-row series scan.  ``pin=False`` skips the
    repartition for inputs already distributed on the labels (a bucketed
    table — q35_bucketed — or an upstream repartition): the window then
    consumes the existing partitioning with ZERO exchanges.
    """
    from pyspark.sql import Window

    from .operators.partitioning import pin_partitioning

    labels = labels or label_columns(df)
    if pin:
        df = pin_partitioning(df, labels)
    w = Window.partitionBy(*labels).orderBy(TIME_COL)
    prev_v = F.lag(VALUE_COL).over(w)
    delta = F.when(prev_v.isNull(), F.lit(0.0)).otherwise(
        F.when(F.col(VALUE_COL) >= prev_v, F.col(VALUE_COL) - prev_v)
        .otherwise(F.col(VALUE_COL))  # reset: restart from 0
    )
    with_delta = df.withColumn("_delta", delta)
    span_s = (F.max(TIME_COL) - F.min(TIME_COL)).cast("double") / 1000.0
    # decimal-before-sum (convention D2): the per-series delta sum is exact
    # and order-independent, so distributed summation can't drift
    inc = exact_value_sum(F.col("_delta"))
    return (
        with_delta.groupBy(*labels)
        .agg(
            F.round(inc, round_dp).alias("increase"),
            F.when(span_s > 0, F.round(inc / span_s, round_dp))
            .otherwise(F.lit(None).cast("double"))
            .alias("rate"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


def counter_rate_agg(
    df: DataFrame,
    labels: list[str] | None = None,
    round_dp: int = 6,
    pin: bool = True,
) -> DataFrame:
    """``counter_rate`` re-expressed as ONE hash aggregate — no window.

    Per series: ``sort_array(collect_list(struct(t, v)))`` builds the
    time-ordered samples inside the aggregate (partial arrays merge
    map-side), then JVM higher-order functions compute the reset-aware
    delta sum over adjacent pairs in scale-6 long units (the
    ``decimal_sum`` fast path inlined into the lambda), rebuilt with one
    exact decimal division — bit-identical to :func:`counter_rate`.

    Trade-off vs the window form (why both exist): this replaces the
    exchange+per-partition-SORT+window pass with the same exchange and a
    per-GROUP ``sort_array`` — cheaper when series are many and modest
    (sort cost distributes over groups, no second operator pass), but it
    materializes each whole series as one array in executor memory, so
    the window form remains the choice for pathologically long series
    (millions of samples in ONE series).  Measured A/B at every scale
    (SCALE.md round-6 table): the WINDOW form wins — e.g. 0.62 s vs
    0.87 s at sf1 — so :func:`counter_rate` is the default and this
    aggregate form is kept as the documented negative result / long-tail
    alternative.
    """
    from .operators.partitioning import pin_partitioning

    labels = labels or label_columns(df)
    # collect_list has no partial reduction — the exchange carries full
    # rows, so pin it like the window form's (same AQE-coalesce hazard)
    if pin:
        df = pin_partitioning(df, labels)
    grouped = df.groupBy(*labels).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(TIME_COL).alias("t"), F.col(VALUE_COL).alias("v"))
            )
        ).alias("_tv")
    )
    units = F.expr(
        """
        aggregate(
          zip_with(slice(_tv, 2, greatest(size(_tv) - 1, 0)),
                   slice(_tv, 1, greatest(size(_tv) - 1, 0)),
                   (a, b) -> CAST(CAST((CASE WHEN a.v >= b.v THEN a.v - b.v
                                             ELSE a.v END) AS DECIMAL(18,6))
                             * 1000000 AS LONG)),
          CAST(0 AS LONG), (acc, x) -> acc + x)
        """
    )
    inc = (units.cast("decimal(38,6)") / F.lit(10**6)).cast("double")
    span_s = (
        F.element_at("_tv", -1)["t"] - F.element_at("_tv", 1)["t"]
    ).cast("double") / 1000.0
    return grouped.select(
        *labels,
        F.round(inc, round_dp).alias("increase"),
        F.when(span_s > 0, F.round(inc / span_s, round_dp))
        .otherwise(F.lit(None).cast("double"))
        .alias("rate"),
        F.size("_tv").cast("long").alias("n_samples"),
    )


def downsample(
    df: DataFrame,
    step_ms: int,
    labels: list[str] | None = None,
    hashed_key: bool = False,
) -> DataFrame:
    """Time-bucket downsampling per series: bucket = floor(time/step), with
    count/avg/min/max/last per (series, bucket) — the hypertable-rollup /
    continuous-aggregate shape, all built-ins.

    ``last`` is the sample with the max time in the bucket, computed via
    ``max_by`` (no window, stays inside the single hash aggregate).  One
    shuffle on (labels, bucket); partial aggregation map-side.  At 100 TB
    this is the materialized-rollup write path: compute once per step,
    store sorted by (bucket, labels) with writer.write_sorted.

    ``hashed_key=True``: the label columns collapse to one 64-bit hash in
    the grouping key, labels riding as ``first()`` aggregates — measured
    SLOWER at sf10 (1.27 s vs 0.86 s: string agg buffers force
    SortAggregate; see hashed_group_key's docstring).  Recorded negative
    result; default False."""
    labels = labels or label_columns(df)
    bucket = (F.col(TIME_COL) / F.lit(step_ms)).cast("bigint").alias("bucket")
    if hashed_key:
        from .operators.aggregates import hashed_group_key

        key = hashed_group_key(df, labels).alias("_gk")
        grouped = df.groupBy(key, bucket)
        firsts = [F.first(c).alias(c) for c in labels]
    else:
        grouped = df.groupBy(*labels, bucket)
        firsts = []
    return (
        grouped
        .agg(
            *firsts,
            F.count(F.lit(1)).alias("n"),
            # decimal-before-sum (D2): the sum is exact and
            # order-independent, so sum/count is a deterministic double —
            # no rounding needed (and cross-engine ROUND(double) is itself
            # a portability hazard at .5 boundaries)
            (
                exact_value_sum(F.col(VALUE_COL))
                / F.count(F.lit(1))
            ).alias("avg_v"),
            F.min(VALUE_COL).alias("min_v"),
            F.max(VALUE_COL).alias("max_v"),
            F.max_by(VALUE_COL, F.col(TIME_COL)).alias("last_v"),
        )
        .select(  # same column order either way; hashed key never escapes
            *labels, "bucket", "n", "avg_v", "min_v", "max_v", "last_v"
        )
    )


def ohlc_bars(
    df: DataFrame,
    step_ms: int,
    labels: list[str] | None = None,
) -> DataFrame:
    """Candlestick bars per series per time bucket: open (value at min
    time), high, low, close (value at max time), sample count — the
    financial-downsampling sibling of :func:`downsample` (TimescaleDB
    toolkit's ``ohlc``; not in the reference, SURVEY.md §2.2 window/agg
    category).

    Same single hash aggregate as downsample — ``min_by``/``max_by``
    keep open/close inside the agg (no window, no second pass), so the
    plan is one shuffle on (labels, bucket) with map-side partials.
    Deterministic given unique timestamps per (series, bucket), which
    the sorted-write layout (writer.write_sorted) guarantees at rest."""
    labels = labels or label_columns(df)
    bucket = (F.col(TIME_COL) / F.lit(step_ms)).cast("bigint").alias("bucket")
    return df.groupBy(*labels, bucket).agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by(VALUE_COL, F.col(TIME_COL)).alias("open_v"),
        F.max(VALUE_COL).alias("high_v"),
        F.min(VALUE_COL).alias("low_v"),
        F.max_by(VALUE_COL, F.col(TIME_COL)).alias("close_v"),
    )


def lttb_downsample(
    df: DataFrame,
    n_out: int,
    labels: list[str] | None = None,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per series
    (Steinarsson 2013; TimescaleDB toolkit ``lttb`` / Grafana) — pick
    ``n_out`` visually-representative points: first and last always
    kept, each middle bucket contributes the point maximizing the
    triangle area with the previously SELECTED point and the next
    bucket's centroid.

    The previously-selected-point dependency makes this a per-series
    sequential recurrence — the designated ``applyInPandas`` family
    (SURVEY.md §7.2, same class as promql.holt_winters): one Arrow
    group per series, numpy-vectorized per bucket inside the group,
    series-parallel across executors; one shuffle on labels.
    Deterministic: ties take the earliest point (np.argmax).  Memory
    bound = one series per task, the family's documented constraint —
    for unbounded retention, pre-downsample with :func:`downsample`
    first (LTTB composes: it is itself a downsampler).
    """
    import numpy as np
    import pandas as pd

    if n_out < 3:
        raise ValueError("n_out must be >= 3 (first + last + one bucket)")
    labels = labels or label_columns(df)
    out_schema = ", ".join(
        [f"`{c}` string" for c in labels]
        + [f"`{TIME_COL}` bigint", f"`{VALUE_COL}` double"]
    )
    cols = [*labels, TIME_COL, VALUE_COL]

    def _select(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(TIME_COL)
        n = len(pdf)
        if n <= n_out:
            return pdf[cols]
        t = pdf[TIME_COL].to_numpy(dtype=np.float64)
        v = pdf[VALUE_COL].to_numpy(dtype=np.float64)
        every = (n - 2) / (n_out - 2)
        sel = [0]
        a = 0
        for i in range(n_out - 2):
            lo = int(i * every) + 1
            hi = min(int((i + 1) * every) + 1, n - 1)
            nlo, nhi = hi, min(int((i + 2) * every) + 1, n)
            avg_t = t[nlo:nhi].mean() if nhi > nlo else t[n - 1]
            avg_v = v[nlo:nhi].mean() if nhi > nlo else v[n - 1]
            area = np.abs(
                (t[a] - avg_t) * (v[lo:hi] - v[a])
                - (t[a] - t[lo:hi]) * (v[a] - avg_v)
            )
            a = lo + int(np.argmax(area))
            sel.append(a)
        sel.append(n - 1)
        return pdf.iloc[sel][cols]

    return (
        df.select(*cols)
        .groupBy(*labels)
        .applyInPandas(_select, out_schema)
    )


def time_weighted_avg(
    df: DataFrame,
    labels: list[str] | None = None,
    unit: float = 1e-6,
    step_ms: int | None = None,
) -> DataFrame:
    """Time-weighted average per series over its observed span —
    trapezoid integration over irregularly-spaced samples (TimescaleDB
    toolkit's ``time_weight('Linear')``; not in the reference).  A plain
    ``avg`` over-weights densely-sampled stretches; the trapezoid
    integral ``Σ (vᵢ+vᵢ₊₁)/2·Δtᵢ / span`` is the honest mean of an
    irregular series.

    Exactness (the q90 pattern): values pre-scale to integer ``unit``
    steps (``floor(v/unit + 0.5)``), so every trapezoid area
    ``(uᵢ+uᵢ₊₁)·Δtᵢ`` is an integer and the per-series sum is exact and
    order-independent (decimal accumulator — no int64 overflow at any
    scale); the /2 and unit rescale fold into ONE final double division
    sequence, identical in the DuckDB oracle.  Series with <2 samples
    have no span and are dropped (matching the oracle's inner-LAG
    semantics).

    ``step_ms``: the CONTINUOUS-AGGREGATE form — one TWA row per
    (series, time bucket) instead of per series.  Each inter-sample
    segment is credited to the bucket its LEFT endpoint falls in (no
    boundary splitting: exact splitting needs interpolated boundary
    values, which breaks integer exactness; at scrape intervals ≪ step
    the approximation is one segment per boundary).  Per bucket the
    divisor is the sum of credited segment widths, so a bucket's TWA is
    exact over the time it actually covers.

    Plan: one exchange on labels + per-series sort feeding a lag window,
    then a hash agg reusing the window's partitioning — the
    counter-rate family's shape (operators/windows.py); at rest the
    sorted layout makes the sort a no-op."""
    from pyspark.sql import Window

    labels = labels or label_columns(df)
    w = Window.partitionBy(*labels).orderBy(TIME_COL)
    u = F.floor(F.col(VALUE_COL) / F.lit(unit) + F.lit(0.5))
    prev_t = F.lag(TIME_COL).over(w)
    dt = F.col(TIME_COL) - prev_t
    seg = (u + F.lag(u).over(w)) * dt
    # (sum/width)/2*unit — each step is one IEEE op on the same operands
    # in both engines (2.0/unit pre-folded would not be an exact double).
    # NO rounding: the operands are exact integers, so the division
    # sequence is bit-identical cross-engine, while ROUND(double) itself
    # diverges at .5 boundaries (DuckDB multiplies by 1e6 first, Spark
    # rounds the exact decimal expansion — the downsample avg_v lesson,
    # re-learned here on a real q92b hash mismatch)
    def _twa(width):
        return (
            F.col("seg_sum").cast("double") / width.cast("double")
        ) / F.lit(2.0) * F.lit(unit)

    if step_ms is None:
        per = df.select(
            *labels,
            F.col(TIME_COL),
            seg.cast("decimal(38,0)").alias("seg"),
        )
        out = per.groupBy(*labels).agg(
            F.sum("seg").alias("seg_sum"),
            (F.max(TIME_COL) - F.min(TIME_COL)).alias("span"),
            F.count(F.lit(1)).alias("n"),
        )
        return out.filter(F.col("n") >= 2).select(
            *labels, "n", "span", _twa(F.col("span")).alias("twa")
        )
    bucket = (prev_t / F.lit(step_ms)).cast("bigint")
    per = df.select(
        *labels,
        bucket.alias("bucket"),
        seg.cast("decimal(38,0)").alias("seg"),
        dt.alias("dt"),
    ).filter(F.col("bucket").isNotNull())
    out = per.groupBy(*labels, "bucket").agg(
        F.sum("seg").alias("seg_sum"),
        F.sum("dt").alias("width"),
        F.count(F.lit(1)).alias("n_segs"),
    )
    return out.filter(F.col("width") > 0).select(
        *labels, "bucket", "n_segs", "width",
        _twa(F.col("width")).alias("twa"),
    )


def table_meta(df: DataFrame) -> DataFrame:
    """Row-count + time-span summary (the oracle-checkable half of the
    reference's metadata inspection, R22/Q8; per-row-group footer details
    live in metadata.inspect_parquet)."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(TIME_COL).alias("t0"),
        F.max(TIME_COL).alias("t1"),
    )


# ---------------------------------------------------------------------------
# Layout conversion: wide (physical, FrostDB-style) ⇄ long (canonical map)
# ---------------------------------------------------------------------------


def long_from_wide(df: DataFrame) -> DataFrame:
    """Wide physical layout → canonical long form
    ``(time, value, labels MAP<STRING,STRING>)``.  NULL label values are
    absent from the map — Prometheus semantics (the reference drops NULL and
    empty labels on read-back, hello.go:339-349).

    Construction is ``map_from_arrays`` + ``map_filter`` rather than the
    per-label when-struct array + ``filter`` + ``map_from_entries`` form:
    same output (full-fixture bit-compare in the round-7 A/B), but the
    array-pair form skips one struct allocation and one null-probe per
    label per row — measured 2.8× on the 15.4 M-row roundtrip at sf10
    (5.7 s → 2.1 s hash-consumed, SCALE.md §5d)."""
    labels = label_columns(df)
    keys = F.array(*[F.lit(c[len(LABEL_PREFIX) :]) for c in labels])
    vals = F.array(*[F.col(c) for c in labels])
    m = F.map_filter(
        F.map_from_arrays(keys, vals), lambda k, v: v.isNotNull() & (v != "")
    )
    return df.select(TIME_COL, VALUE_COL, m.alias("labels"))


def discover_label_names(df_long: DataFrame) -> list[str]:
    """Pass 1 of the wide-view materializer: union of all label names across
    the dataset, sorted — the distributed form of the reference's two-pass
    label discovery (hello.go:216-233; sort at :233).  One shuffle on a tiny
    (distinct label names) dataset."""
    rows = (
        df_long.select(F.explode(F.map_keys("labels")).alias("k"))
        .distinct()
        .collect()
    )
    return sorted(r["k"] for r in rows)


def wide_from_long(df_long: DataFrame, names: list[str] | None = None) -> DataFrame:
    """Pass 2: materialize one nullable string column per label name.

    This restores FrostDB's pushdown property — Parquet gives min/max +
    dictionary skipping to plain columns but not to map element access
    (SURVEY.md §4 O1) — which is why the wide view is the at-rest layout for
    the 100 TB target.
    """
    names = names if names is not None else discover_label_names(df_long)
    cols = [
        F.col("labels").getItem(n).alias(f"{LABEL_PREFIX}{n}") for n in names
    ]
    return df_long.select(TIME_COL, VALUE_COL, *cols)


def ensure_hybrid_label_layout(
    spark: SparkSession,
    df_wide: DataFrame,
    hot: list[str],
    table_name: str,
    source_paths: str | list[str] | None = None,
) -> DataFrame:
    """Materialize the HYBRID label layout at rest: ``hot`` labels stay
    plain wide ``label_*`` string columns (pushable — Parquet row-group
    min/max + dictionary skipping), every other label folds into one
    canonical ``labels MAP<STRING,STRING>`` column (schema-stable: new
    long-tail label names land as map keys, not schema evolution).

    This is the layout the redirect (``matchers.hybrid_label_col``,
    SURVEY.md §4 optional extension 1) exists for — the production
    trade-off at 100 TB, where the handful of high-selectivity labels a
    fleet actually filters on (name/job/instance-class) earn pushdown
    columns while an unbounded user-label tail stays one map column
    instead of tens of thousands of mostly-NULL wide columns.

    Idempotent across sessions via :class:`sources.Layout` — the
    table name embeds the source fingerprint, so regenerated fixtures
    rebuild instead of serving stale rows.  NULL/empty cold labels are
    absent from the map (Prometheus absent-label semantics, same contract
    as :func:`long_from_wide`, hello.go:339-349).
    """
    hot_cols = [f"{LABEL_PREFIX}{h}" for h in hot]
    cold = [c for c in label_columns(df_wide) if c not in set(hot_cols)]

    def build() -> DataFrame:
        keys = F.array(*[F.lit(c[len(LABEL_PREFIX):]) for c in cold])
        vals = F.array(*[F.col(c) for c in cold])
        m = F.map_filter(
            F.map_from_arrays(keys, vals), lambda k, v: v.isNotNull() & (v != "")
        )
        return df_wide.select(TIME_COL, VALUE_COL, *hot_cols, m.alias("labels"))

    return Layout(table_name, build, source_paths).ensure(spark)


def load_tsdb(spark: SparkSession, path: str | None = None) -> DataFrame:
    """Scan the tsdb table (R7) under a schema pinned from its footers
    (:func:`metadata.read_parquet`).

    Label-set evolution IS this layout's normal mode (the reference's
    dynamic columns, ``hello.go:120-157``): a later ingest may add
    ``label_*`` columns, and a plain read would take ONE file's footer,
    silently dropping new labels depending on file order.  The pinned
    schema is the union of every file's columns; pre-evolution rows read
    the new labels as NULL, which the matcher layer already treats with
    Prometheus-null semantics (absent label = empty).

    Scale: no Spark job infers the schema (``mergeSchema`` launched one on
    every call); the footers are read on the driver instead, O(files), about
    0.1 ms a file on local disk.  Every file is still listed and scanned:
    reading only the files a time range touches needs a per-file time index
    the layout does not keep yet."""
    from .metadata import read_parquet
    from .tables import TSDB_PATH

    return read_parquet(spark, path or TSDB_PATH)


def gap_fill(
    df: DataFrame,
    step_ms: int,
    labels: list[str] | None = None,
    start_ms: int | None = None,
    end_ms: int | None = None,
    method: str = "locf",
) -> DataFrame:
    """Regularize each series onto a fixed ``step_ms`` grid, filling gaps —
    the time-series `gap-fill / interpolate` operator every TSDB surface
    carries (the reference's staleness-windowed instant vector is its
    PromQL cousin; this is the batch form).

    Grid: per series, steps from floor(min_t) (or ``start_ms``) to
    ``end_ms``/max(t).  Observed steps take the bucket's LAST sample value
    (downsample semantics); missing steps fill by ``method``:

    - ``"locf"``  — last observation carried forward;
    - ``"null"``  — leave NULL (caller decides);
    - ``"zero"``  — fill 0.0 (rate-style counters);
    - ``"linear"`` — linear interpolation between the neighboring observed
      samples (trailing gaps fall back to locf).

    Plan: ONE series-partitioned region: bucket-aggregate (map-side
    partial), per-series grid bounds via a window over the same
    partitioning, `sequence()`-explode of each series' bounded gap run,
    then window carries (last/next observed) reusing the (labels)
    partitioning — Spark plans a single exchange on labels for the whole
    chain; the explode multiplies rows by at most (span/step)/series,
    exactly the output size.  No join against a global calendar table —
    that shape shuffles the calendar everywhere and breaks per-series
    bounds.
    """
    from pyspark.sql import Window

    labels = labels if labels is not None else label_columns(df)
    if method not in ("locf", "null", "zero", "linear"):
        raise ValueError(f"unknown gap_fill method {method!r}")

    bucket = (F.col(TIME_COL) / F.lit(step_ms)).cast("bigint")
    # Partition by labels FIRST: HashPartitioning(labels) satisfies the
    # (labels, bucket) aggregate's clustering requirement (subset key) AND
    # the later per-series windows, so the whole chain plans exactly ONE
    # exchange (plan-asserted in tests) instead of agg-shuffle + window-
    # shuffle.
    src = df.repartition(*labels) if labels else df
    observed = src.groupBy(*labels, bucket.alias("_b")).agg(
        F.max_by(VALUE_COL, F.col(TIME_COL)).alias("_v")
    )

    w = Window.partitionBy(*labels).orderBy("_b")
    lo = F.lit(start_ms // step_ms) if start_ms is not None else None
    hi = F.lit(end_ms // step_ms) if end_ms is not None else None
    # explicit bounds REPLACE the per-series ones: start_ms truncates (or
    # extends nothing — grids never precede the first observation's fill
    # source), end_ms truncates or extends the trailing fill
    first_b = F.min("_b").over(Window.partitionBy(*labels))
    last_b = F.max("_b").over(Window.partitionBy(*labels))
    gmin = lo if lo is not None else first_b
    gmax = hi if hi is not None else last_b

    # each observed bucket expands to itself + the gap run up to (not
    # including) the next observed bucket — lead() runs BEFORE the explode,
    # on the one-row-per-observed-bucket frame
    with_next = (
        observed.withColumn("_nb", F.lead("_b").over(w))
        .withColumn("_nv", F.lead("_v").over(w))
        .withColumn("_gmin", gmin)
        .withColumn("_gmax", gmax)
    )
    run_end = F.coalesce(F.col("_nb") - 1, F.col("_gmax"))
    seq_lo = F.greatest(F.col("_b"), F.col("_gmin"))
    seq_hi = F.greatest(run_end, F.col("_b"))
    expanded = (
        with_next.filter(F.col("_b") <= F.col("_gmax"))
        .filter(seq_lo <= seq_hi)  # guard: sequence(hi, lo) would descend
        .withColumn("_gb", F.explode(F.sequence(seq_lo, seq_hi)))
    )
    is_obs = F.col("_gb") == F.col("_b")
    if method == "locf":
        filled = F.col("_v")  # the carrier row IS the last observation
    elif method == "zero":
        filled = F.when(is_obs, F.col("_v")).otherwise(F.lit(0.0))
    elif method == "null":
        filled = F.when(is_obs, F.col("_v"))
    else:  # linear: interpolate toward the next observed bucket's value
        filled = F.when(is_obs, F.col("_v")).otherwise(
            F.when(
                F.col("_nv").isNotNull(),
                F.col("_v")
                + (F.col("_nv") - F.col("_v"))
                * (F.col("_gb") - F.col("_b"))
                / (F.col("_nb") - F.col("_b")),
            ).otherwise(F.col("_v"))
        )
    return expanded.select(
        *labels,
        (F.col("_gb") * F.lit(step_ms)).alias(TIME_COL),
        filled.alias(VALUE_COL),
        is_obs.alias("observed"),
    )


def anomaly_mad(
    df: DataFrame,
    keys: list[str],
    value_col: str = VALUE_COL,
    threshold: float = 3.0,
) -> DataFrame:
    """Robust per-series outlier detection: flag samples where
    ``|v − median| > threshold · 1.4826 · MAD`` (MAD = median absolute
    deviation; 1.4826 scales it to σ under normality).  Median/MAD instead
    of mean/stddev so the detector doesn't let outliers move its own
    baseline — the standard robust z-score.

    Plan shape: ONE hash exchange on ``keys``, then two whole-partition
    window aggregates (median, then median of deviations) — the second
    window reuses the first's partitioning, so no further shuffle
    (plan-asserted in tests).  At 100 TB the per-key partitions are
    per-series sample sets — bounded by retention, uniform by
    construction; a global percentile would be the wrong shape here.

    Returns the input rows (all of them) with ``med``/``mad``/
    ``is_outlier`` appended; callers filter on ``is_outlier``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    out = df.withColumn("med", F.median(value_col).over(w))
    out = out.withColumn(
        "mad", F.median(F.abs(F.col(value_col) - F.col("med"))).over(w)
    )
    return out.withColumn(
        "is_outlier",
        F.abs(F.col(value_col) - F.col("med"))
        > F.lit(threshold) * F.lit(1.4826) * F.col("mad"),
    )


def cusum_drift(
    df: DataFrame,
    target: float,
    threshold: float,
    slack: float = 0.0,
    labels: list[str] | None = None,
    time_col: str = TIME_COL,
    value_col: str = VALUE_COL,
    unit: float = 1e-6,
) -> DataFrame:
    """One-sided CUSUM drift detection (the SPC change-point chart,
    Page 1954): per series, the recurrence ``y_i = max(0, y_{i-1} +
    (x_i - target - slack))`` alarms when sustained upward drift
    accumulates past ``threshold`` — the classic complement to
    point-anomaly scoring (``anomaly_mad``): a run of small deviations
    no single-point detector flags.

    The max-0 reset LOOKS like a sequential recurrence, but the
    drawdown identity makes it a plain window expression:
    ``y_i = S_i - min(S_j, j <= i)`` for ``S`` the running sum of
    deviations — cumulative sum + running min, fully parallel per
    series, no stateful loop.  Deviations are scaled to exact integer
    ``unit`` steps first (the time_weighted_avg FLOOR formula), so the
    running sums are INTEGER — engines that evaluate cumulative window
    frames with different add orders (segment trees vs sequential)
    still agree bit-for-bit.

    Returns the alarm rows: (labels..., time, cusum_u) where
    ``cusum_u > threshold_u`` in units.  100 TB shape: one exchange on
    the series labels feeding both window functions; alarms are the
    only output rows.
    """
    from pyspark.sql import Window

    labels = labels if labels is not None else label_columns(df)
    u = F.floor(F.col(value_col) / F.lit(unit) + F.lit(0.5)).cast("long")
    t_u = int(round(target / unit))
    s_u = int(round(slack / unit))
    h_u = int(round(threshold / unit))
    dev = u - F.lit(t_u + s_u)
    # tie-break on the deviation itself: equal timestamps within a
    # partition would otherwise make the ROWS-frame running sum
    # tie-order-dependent; ordering by (time, dev) makes the per-row
    # outputs a deterministic multiset (tied rows with equal dev are
    # interchangeable)
    w = Window.partitionBy(*labels).orderBy(
        F.col(time_col), F.col("_dev")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.select(*labels, time_col, dev.alias("_dev"))
        .withColumn("_cusum_s", F.sum("_dev").over(w))
        .withColumn(
            "cusum_u",
            F.col("_cusum_s")
            - F.least(F.min("_cusum_s").over(w), F.lit(0)),
        )
        .filter(F.col("cusum_u") > h_u)
        .select(*labels, time_col, "cusum_u")
    )


def autocorr_lag(
    df: DataFrame,
    lag: int = 1,
    labels: list[str] | None = None,
    time_col: str = TIME_COL,
    value_col: str = VALUE_COL,
    unit: float = 1e-6,
    min_pairs: int = 2,
    alias: str = "autocorr",
) -> DataFrame:
    """Per-series lag-``k`` autocorrelation — Pearson r between ``v_t``
    and ``v_{t+k}`` in time order: the smoothness/seasonality statistic
    (r1 near 1 = smooth trending series, near 0 = noise, negative =
    alternation; at the seasonal lag a high r flags periodicity).

    Exactness discipline: values scale to exact integer ``unit`` steps,
    and ALL five moments (n, Sx, Sy, Sxx, Syy, Sxy) accumulate as
    DECIMAL(38,0) integers — products of 1e-6-unit values overflow
    int64, decimal does not — so the only floating-point work is the
    ONE final expression from exact integers, identical in any engine.
    r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2)),
    emitted rounded to 6 dp; series with fewer than ``min_pairs``
    lagged pairs or zero variance produce NULL.

    One exchange on the series labels (the lag window), then the
    aggregate reuses that partitioning — no second shuffle.
    """
    from pyspark.sql import Window

    labels = labels if labels is not None else label_columns(df)
    u = F.floor(F.col(value_col) / F.lit(unit) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    # (time, value) ordering: equal timestamps would otherwise make the
    # lead() pairing tie-order-dependent; with the value as tie-break
    # the sequence itself is deterministic
    w = Window.partitionBy(*labels).orderBy(F.col(time_col), F.col("_x"))
    d = (
        df.select(*labels, time_col, u.alias("_x"))
        .withColumn("_y", F.lead("_x", lag).over(w))
        .filter(F.col("_y").isNotNull())
    )
    n = F.count(F.lit(1)).cast("decimal(38,0)")
    agg = d.groupBy(*labels).agg(
        n.alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    cov = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    vx = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    vy = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "double"
    )
    r = F.when(
        (F.col("_n") >= min_pairs) & (vx > 0) & (vy > 0),
        F.round(cov / F.sqrt(vx * vy), 6),
    )
    return agg.select(
        *labels,
        F.col("_n").cast("long").alias("n_pairs"),
        r.alias(alias),
    )


def value_heatmap(
    df: DataFrame,
    step_ms: int,
    value_width: float,
    labels: list[str] | None = None,
    time_col: str = TIME_COL,
    value_col: str = VALUE_COL,
    unit: float = 1e-6,
) -> DataFrame:
    """Time x value density grid — the Grafana HEATMAP panel's input
    (TimescaleDB ``histogram()`` per bucket): per series, per
    ``step_ms`` time bucket, per ``value_width`` value band, a sample
    count.  Value banding happens on exact integer ``unit`` steps
    (``floor(u / width_u)``) so band edges are engine-exact — never
    ``floor(log(v))``-style banding whose boundary samples flip with
    libm rounding.  One hash aggregate; output is bounded by
    series x time-buckets x occupied bands, not by samples.
    """
    labels = labels if labels is not None else label_columns(df)
    u = F.floor(F.col(value_col) / F.lit(unit) + F.lit(0.5)).cast("long")
    w_u = int(round(value_width / unit))
    if w_u <= 0:
        raise ValueError("value_width must be positive")
    t_b = F.floor(F.col(time_col) / F.lit(step_ms)).cast("long")
    v_b = F.floor(u / F.lit(w_u)).cast("long")
    return (
        df.groupBy(*labels, t_b.alias("t_bucket"), v_b.alias("v_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def linreg_per_series(
    df: DataFrame,
    labels: list[str] | None = None,
    time_col: str = TIME_COL,
    value_col: str = VALUE_COL,
    unit: float = 1e-6,
    t0: int | None = None,
    min_points: int = 2,
    slope_per: float = 1.0,
) -> DataFrame:
    """Per-series ordinary-least-squares trend line: slope (value units
    per ``slope_per`` ms — pass 3_600_000 for per-hour slopes so tiny
    per-ms drifts survive the output rounding), intercept at ``t0``,
    and r² — the trend/drift statistic
    behind capacity forecasts (a global exact-fit complement to
    PromQL's windowed ``deriv``/``predict_linear``).

    Exactness discipline (the :func:`autocorr_lag` contract): values
    scale to exact integer ``unit`` steps, times re-base to ``t0``
    (defaults to 0; pass the series epoch to keep t² products small),
    and all six moments (n, St, Sv, Stt, Svv, Stv) accumulate as
    DECIMAL(38,0) integers — native ``regr_slope``/``corr`` built-ins
    legitimately differ across engines (Welford vs two-pass, merge
    order), exact raw moments + ONE final double expression do not.

        slope_u   = (n·Stv − St·Sv) / (n·Stt − St²)        [u per ms]
        intercept = (Sv − slope_u·St) / n                  [u at t0]
        r²        = (n·Stv − St·Sv)² / ((n·Stt − St²)(n·Svv − Sv²))

    Series with fewer than ``min_points`` samples or zero time variance
    yield NULLs (vertical lines have no OLS fit); r² is NULL for zero
    value variance (flat series: slope 0/0-free but r² undefined).
    One hash aggregate, no window, no shuffle beyond it.
    """
    labels = labels if labels is not None else label_columns(df)
    dec = "decimal(38,0)"
    t = (F.col(time_col) - F.lit(t0 or 0)).cast(dec)
    v = F.floor(F.col(value_col) / F.lit(unit) + F.lit(0.5)).cast(dec)
    d = df.select(*labels, t.alias("_t"), v.alias("_v"))
    n = F.count(F.lit(1)).cast(dec)
    agg = d.groupBy(*labels).agg(
        n.alias("_n"),
        F.sum("_t").alias("_st"),
        F.sum("_v").alias("_sv"),
        F.sum(F.col("_t") * F.col("_t")).alias("_stt"),
        F.sum(F.col("_v") * F.col("_v")).alias("_svv"),
        F.sum(F.col("_t") * F.col("_v")).alias("_stv"),
    )
    cov = (F.col("_n") * F.col("_stv") - F.col("_st") * F.col("_sv")).cast(
        "double"
    )
    vt = (F.col("_n") * F.col("_stt") - F.col("_st") * F.col("_st")).cast(
        "double"
    )
    vv = (F.col("_n") * F.col("_svv") - F.col("_sv") * F.col("_sv")).cast(
        "double"
    )
    ok = (F.col("_n") >= min_points) & (vt > 0)
    slope = F.when(ok, cov / vt * F.lit(unit) * F.lit(float(slope_per)))
    intercept = F.when(
        ok,
        (F.col("_sv").cast("double") - cov / vt * F.col("_st").cast("double"))
        / F.col("_n").cast("double")
        * F.lit(unit),
    )
    r2 = F.when(ok & (vv > 0), cov * cov / (vt * vv))
    return agg.select(
        *labels,
        F.col("_n").cast("long").alias("n"),
        F.round(slope, 12).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )
