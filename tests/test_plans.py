"""Physical-plan regression guards: the scale story (SCALE.md) depends on
specific plan shapes — pushdown reaching the scan, dims broadcasting,
top-k avoiding global sorts, the as-of join staying a single window.
These assertions fail loudly if a refactor silently degrades a plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def entry(spark):
    import __spark_entry__ as m

    # default metadata rendering truncates PushedFilters at 100 chars
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return m


SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q02_matchers_pushed_to_scan(entry, spark):
    df = entry.q02_eq_matchers_time_range(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters") :].split("]")[0]
    for frag in ("GreaterThan(time", "LessThan(time", "EqualTo(label_name,up"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    assert "Exchange" not in plan  # pure scan->filter->project, no shuffle


def test_q02_scan_prunes_columns(entry, spark):
    plan = plan_of(entry.q02_eq_matchers_time_range(spark, SF))
    read = plan[plan.index("ReadSchema") :].split("\n")[0]
    assert "label_handler" not in read and "label_code" not in read


def test_q09_dim_broadcasts_facts_shuffle_join(entry, spark):
    plan = plan_of(entry.q09_join_agg(spark, SF))
    # r12 (verdict r11 #1): NO SF-scaling table behind a broadcast —
    # customer takes the q145 fact discipline.  The only broadcasts are
    # the 5-row segment-code table (onto customer, and back onto the
    # 5-row aggregate); orders ⋈ lineitem AND the customer join are
    # explicitly hinted shuffle joins — a size mis-estimate must never
    # be able to broadcast a fact side (observed 10x regression at sf1;
    # a customer broadcast scales linearly with SF and OOMs at 100x)
    assert plan.count("BroadcastHashJoin") == 2, plan
    broadcast_lines = [ln for ln in plan.split("\n") if "BroadcastHashJoin" in ln]
    assert all("_seg" in ln or "c_mktsegment" in ln for ln in broadcast_lines)
    # orderkey fact x fact + custkey customer join both shuffle joins
    shuffle_lines = [ln for ln in plan.split("\n")
                     if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln]
    assert any("orderkey" in ln for ln in shuffle_lines), plan
    assert any("custkey" in ln for ln in shuffle_lines), plan
    # the custkey exchange partial-combines map-side before the join
    assert "partial_sum" in plan
    # lineitem scan reads only the 3 needed columns
    assert "l_extendedprice" in plan and "l_shipdate" not in plan


def test_q09_bucketed_join_exchange_free(entry, spark):
    """The bucketed layout's whole point: the fact-fact join and the
    per-orderkey pre-aggregate consume the at-rest bucket partitioning —
    no shuffle of either fact table, no per-query sort of the join keys
    (buckets are written sorted).  Only the final 5-group agg/orderBy
    may exchange."""
    df = entry.q09_bucketed(spark, SF)
    plan = plan_of(df)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    # no exchange on either fact key — the only hash exchange is the
    # final c_mktsegment aggregate
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan
    # result identical to the unbucketed q09
    a = sorted(entry.q09_join_agg(spark, SF).collect())
    assert sorted(df.collect()) == a


def test_q16_bucketed_pair_dedup_exchange_free(entry, spark):
    """q16 over user-bucketed events (r12): the global (event_type,
    user_id) pair dedup consumes the bucket partitioning — hash on a
    SUBSET of the aggregate keys satisfies the clustering — so there is
    NO pair-width exchange; the only hash exchange carries the 5-row
    event_type count partials."""
    df = entry.q16_bucketed(spark, SF)
    plan = plan_of(df)
    assert "Bucketed: true" in plan, plan
    assert "hashpartitioning(user_id" not in plan, plan
    assert "hashpartitioning(event_type, user_id" not in plan, plan
    # result identical to the unbucketed q16
    a = sorted(entry.q16_count_distinct(spark, SF).collect())
    assert sorted(df.collect()) == a


def test_q28_bucketed_window_exchange_free(entry, spark):
    """The user-bucketed events layout: sessionize's windows and the
    per-user aggregate consume the bucket partitioning — NO hash
    exchange anywhere; the only exchange is the display orderBy."""
    df = entry.q28_bucketed(spark, SF)
    plan = plan_of(df)
    assert "Bucketed: true" in plan, plan
    assert "hashpartitioning(user_id" not in plan, plan
    assert sorted(df.collect()) == sorted(
        entry.q28_session_windows(spark, SF).collect()
    )


def test_q14_bucketed_join_and_agg_exchange_free(entry, spark):
    """The interval self-join over the SAME q28b user-bucketed table:
    both join sides are co-partitioned on user_id — a SUBSET of the
    join keys (user_id, _cand), accepted because the engine session
    sets requireAllClusterKeysForCoPartition=false — and the per-user
    aggregate consumes the same partitioning.  No hash exchange
    anywhere; the only exchange is the display orderBy.  Results must
    equal the unbucketed q14."""
    df = entry.q14_bucketed(spark, SF)
    plan = plan_of(df)
    assert "Bucketed: true" in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert sorted(df.collect()) == sorted(
        entry.q14_interval_self_join(spark, SF).collect()
    )


def test_q10_fact_side_never_broadcast(entry, spark):
    plan = plan_of(entry.q10_left_outer_join(spark, SF))
    # left-outer forces BuildRight and orders is fact-scale: the hint must
    # hold the plan to a shuffled join
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan


def test_q14_interval_join_is_not_cartesian(entry, spark):
    plan = plan_of(entry.q14_interval_self_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q20_topk_is_take_ordered(entry, spark):
    plan = plan_of(entry.q20_global_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # no global sort shuffle for top-k


def test_q30_asof_single_exchange(entry, spark):
    # union-tag-window as-of: exactly one shuffle (the window partition)
    # before the final presentation sort
    df = entry.q30_asof_join(spark, SF)
    plan = plan_of(df)
    body = plan.split("TakeOrdered")[0]
    n_exchanges = body.count("Exchange")
    # one for the window; the trailing orderBy adds one range exchange
    assert n_exchanges <= 2, plan
    assert "Join" not in body  # no join node at all


def test_q26_cosine_no_join_no_exchange_before_topk(entry, spark):
    df = entry.q26_cosine_topk(spark, SF)
    plan = plan_of(df)
    assert "Join" not in plan  # query vector is a literal, not a join side
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_through_long_form(spark):
    # predicates on wide columns still push after select_series projection
    from tsdb_parquet_spark.matchers import Matcher
    from tsdb_parquet_spark.tables import load_table
    from tsdb_parquet_spark.timeseries import select_series

    tsdb = load_table(spark, SF, "tsdb")
    df = select_series(tsdb, [Matcher("=", "job", "prometheus")], t0=0)
    plan = plan_of(df)
    assert "EqualTo(label_job,prometheus)" in plan


def test_gap_fill_single_exchange_no_join(entry, spark):
    # gap-fill chain (agg + bounds window + lead window + explode) reuses
    # ONE labels partitioning end to end; no calendar join
    from tsdb_parquet_spark.timeseries import gap_fill

    df = spark.createDataFrame(
        [(0, 1.0, "a"), (5000, 2.0, "a")],
        "time long, value double, label_name string",
    )
    plan = plan_of(gap_fill(df, 1000))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_plan_audit_helpers(entry, spark):
    from tsdb_parquet_spark.plans import summarize

    s9 = summarize(entry.q09_join_agg(spark, SF))
    assert "BroadcastHashJoin" in s9.joins and "ShuffledHashJoin" in s9.joins
    assert not s9.cartesian
    assert "l_extendedprice" in s9.read_columns
    assert "l_shipdate" not in s9.read_columns

    s2 = summarize(entry.q02_eq_matchers_time_range(spark, SF))
    assert s2.exchanges == 0 and not s2.joins
    assert any("EqualTo(label_name,up" in p for p in s2.pushed)
    assert s2.codegen_spans >= 1


def test_cli_explain_smoke(spark, capsys):
    from tsdb_parquet_spark.cli import main
    from tsdb_parquet_spark.tables import TSDB_PATH

    main(["explain", TSDB_PATH, "-s", 'up{instance="localhost:9090"}'])
    out = capsys.readouterr().out
    assert "pushed filters:" in out and "EqualTo(label_name,up)" in out
    assert "exchanges:      0" in out


def test_interval_join_bucketed_equals_fallback(spark):
    # the bucketed candidate generation must be a pure optimization:
    # identical pairs to the key-only equi join, including rows exactly at
    # the window edge (b.ts == a.ts + W) and just past it
    from tsdb_parquet_spark.operators.joins import interval_self_join

    rows = []
    base = 1_700_000_000_000_000  # epoch micros
    w_us = 60_000_000  # 1 minute
    # user u1: dense run straddling bucket boundaries incl. exact-edge hits
    for i, off in enumerate([0, 1, 59_999_999, 60_000_000, 60_000_001,
                             119_999_999, 120_000_000, 180_000_000]):
        rows.append(("u1", i, base + off))
    # user u2: sparse, nothing within a window
    rows.append(("u2", 100, base))
    rows.append(("u2", 101, base + 10 * w_us))
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts_us long"
    ).withColumn("ts", F.timestamp_micros(F.col("ts_us"))).drop("ts_us")

    def pairs(out):
        return sorted(
            (r["a"], r["b"])
            for r in out.select(
                F.col("e1.event_id").alias("a"), F.col("e2.event_id").alias("b")
            ).collect()
        )

    bucketed = interval_self_join(df, "user_id", "ts", "INTERVAL 1 MINUTES")
    # a non-literal interval expression forces the fallback plan
    fallback = interval_self_join(
        df, "user_id", "ts", "INTERVAL '1' MINUTE"
    )
    got_b, got_f = pairs(bucketed), pairs(fallback)
    assert got_b == got_f, (got_b, got_f)
    assert ("u1-ish" not in got_b)  # sanity: non-empty, edge row included
    assert (0, 3) in got_b   # exact edge b.ts == a.ts + W is INCLUDED
    assert (0, 4) not in got_b  # one microsecond past the edge excluded


def test_anomaly_mad_single_exchange(entry, spark):
    # two nested whole-partition window aggregates (median, then MAD) must
    # share one hash exchange on the series key — a second shuffle would
    # double the op's cost at scale
    from tsdb_parquet_spark.plans.audit import count_exchanges, count_nodes

    df = entry.q73_anomaly_mad(spark, SF)
    n_window = count_nodes(df, "Window")
    assert n_window >= 2
    # exchanges: one for the window partitioning + one for the trailing
    # display sort (orderBy event_id) — nothing else
    assert count_exchanges(df) <= 2


def test_sample_mixture_pure_map_stage(spark):
    """sample_mixture must plan as scan -> project/generate with ZERO
    exchanges: the 100 TB contract is that mixing is a map stage (any
    partition samples independently).  A refactor that introduces a
    join against a weights table or a repartition breaks that silently
    — this guard fails loudly."""
    from tsdb_parquet_spark.llm.corpus import sample_mixture
    from tsdb_parquet_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = sample_mixture(docs, {"src0": 2.5, "src1": 0.0, "src3": 3.0})
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate explode" in plan  # the epoch fan-out is the only blowup


def test_q91_bm25_takeordered_broadcast_no_smj(entry, spark):
    plan = plan_of(entry.q91_bm25_rank(spark, SF))
    assert "TakeOrderedAndProject" in plan   # top-k, never a global sort
    assert "BroadcastHashJoin" in plan       # |Q|-row dfreq broadcast
    assert "SortMergeJoin" not in plan       # nothing shuffles to join
    assert "CartesianProduct" not in plan    # 1-row stats is a broadcast NLJ


def test_q92_twa_agg_reuses_window_partitioning(entry, spark):
    # lag window on labels + final agg on labels: the agg must reuse the
    # window's exchange — one data shuffle, plus only the output sort
    plan = plan_of(entry.q92_time_weighted_avg(spark, SF))
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, plan[:800]


def test_q94_concurrency_no_single_partition_window(entry, spark):
    # the sweep-line must never fall into the global-order trap: every
    # window is partitioned by the prefix bucket, none runs unpartitioned
    plan = plan_of(entry.q94_concurrency(spark, SF))
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pfx_bucket" in spec, f"unpartitioned window: {spec}"


def test_asof_direction_plans_single_shuffle(spark):
    from tsdb_parquet_spark.operators.joins import asof_join

    left = spark.createDataFrame([("k", 1)], "key string, ts long")
    right = spark.createDataFrame([("k", 1, 1.0)],
                                  "key string, ts long, value double")
    for d in ("backward", "forward", "nearest"):
        plan = plan_of(asof_join(left, right, "key", "ts", "value",
                                 direction=d))
        assert "Join" not in plan, d         # no join node at all
        assert plan.count("Exchange hashpartitioning") <= 2, d


def test_q97_budget_select_partitioned_window_broadcast_offsets(entry, spark):
    # the budget fill must never fall into the global-order trap: every
    # window partitions by the prefix bucket (+group), the per-(bucket,
    # group) offsets come back as a BroadcastHashJoin (never a shuffle
    # join), and the data pays exactly one hash exchange (the window's)
    plan = plan_of(entry.q97_budget_select(spark, SF))
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_bs_bucket" in spec, f"unpartitioned window: {spec}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q98_funnel_pushdown_one_user_shuffle(entry, spark):
    # funnel events only leave the scan (the step IN-filter is pushed),
    # the fold happens inside ONE user-keyed aggregate, and the final
    # per-step rollup is the only single-partition hop (3-row stack)
    plan = plan_of(entry.q98_funnel(spark, SF))
    assert "PushedFilters" in plan and "In(event_type" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan  # the oracle's join cascade stays oracle-only


def test_q99_cohort_retention_one_full_shuffle(entry, spark):
    # per-user collect_set is the only full-data exchange; the
    # (cohort, offset) count re-shuffles already-tiny exploded sets
    plan = plan_of(entry.q99_cohort_retention(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan  # never a user x period self-join


def test_q102_weighted_sample_is_take_ordered_no_shuffle(entry, spark):
    # the global E-S sample is a map stage into TakeOrderedAndProject —
    # the key is a per-row expression, so no exchange is ever justified
    plan = plan_of(entry.q102_weighted_sample(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_late_r7_ops_plan_shapes(entry, spark):
    import re

    # q106: two windows over ONE series exchange, no join
    plan = plan_of(entry.q106_cusum_drift(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    # q107: lag window + moment aggregate reuse the same exchange
    plan = plan_of(entry.q107_autocorr(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    # q104 (r9 revision): scoring is explode + BROADCAST left join with
    # the eagerly-built LM + ONE doc_id hash aggregate — never a
    # shuffled join, never an interpreted fold (SCALE.md §5k: the fold
    # measured ~55 s vs 11.8 s at sf10)
    plan = plan_of(entry.q104_unigram_logprob(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the doc agg


def test_q112_bloom_probe_is_map_stage_then_broadcast_verify(entry, spark):
    """The bloom stage must never shuffle: bitmap arrives as a one-row
    broadcast (nested-loop on a single row), the probe is a map-side
    filter, and the exact verify join broadcasts the benchmark n-grams.
    A SortMergeJoin anywhere means the prefilter degraded to a shuffle."""
    plan = plan_of(entry.q112_bloom_decontaminate(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # the one-row bitmap
    assert "BroadcastHashJoin" in plan        # the exact verify join on _ng
    assert "CartesianProduct" not in plan
    # the n-gram stream must never sort-merge: everything above the final
    # doc_id enrichment join (which is doc-count-sized and MAY shuffle)
    # stays broadcast — i.e. no SMJ on the _ng key
    smj_at = plan.find("SortMergeJoin")
    if smj_at != -1:
        assert "_ng" not in plan[smj_at: plan.index("\n", smj_at)], plan


def test_q113_semdedup_no_cartesian_literal_seeds(entry, spark):
    """Assignment is a map stage (plan-literal seeds — no join), the
    pairwise stage is an equi join on the cluster id (never cartesian),
    and survivors resolve via semi/anti joins."""
    df = entry.q113_semdedup(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    opt = optimized_of(df).lower()
    assert "join" in opt  # the pairwise + anti stages exist


def test_q115_rrf_retrievers_take_ordered(entry, spark):
    """Both candidate generators end in TakeOrderedAndProject (top-k,
    never a global sort of the corpus); fusion never goes cartesian."""
    plan = plan_of(entry.q115_rrf_fusion(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan


def test_q110_islands_single_exchange_subset_copartition(entry, spark):
    """The island aggregate's grouping keys are a superset of the window
    partition keys, so the whole pipeline runs on ONE exchange."""
    plan = plan_of(entry.q110_interval_islands(spark, SF))
    assert plan.count("Exchange") == 1, plan


def test_q116_linreg_one_aggregate_no_window(entry, spark):
    plan = plan_of(entry.q116_linreg_trend(spark, SF))
    assert "Window" not in plan
    # partial + final hash aggregate over one exchange (+AQE reads)
    assert plan.count("HashAggregate") >= 2


def test_q130_seasonal_baseline_broadcasts(entry, spark):
    """The residual pass joins the tiny (type, hour) baseline via
    BROADCAST — a shuffled join here would re-exchange the full events
    table for a |types| x 24-row dimension."""
    df = entry.q130_seasonal_anomalies(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q129_tfidf_two_aggs_one_topk_window(entry, spark):
    """(source, term) aggregate partial-combines; ranking is a window,
    not a global sort of the scored vocabulary."""
    df = entry.q129_tfidf_topterms(spark, SF)
    plan = plan_of(df)
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "row_number" in plan
    assert "CartesianProduct" not in plan
    # r15: gdf is a window over the (group, term) aggregate, not a
    # separate aggregate+join — the corpus is scanned and tokenized
    # exactly ONCE (the join form planned two Generate subtrees because
    # gdf-side pruning defeated ReuseExchange)
    assert plan.count("Generate explode") == 1, plan


def test_q133_keep_best_single_hash_exchange(entry, spark):
    """One exchange on the text hash; keeper + size are window aggs over
    that single partitioning."""
    df = entry.q133_dedup_keep_best(spark, SF)
    plan = plan_of(df)
    # display orderBy adds a range exchange; exactly ONE hash exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q134_length_bins_no_global_sort_percentile(entry, spark):
    """Cutoffs come from the distinct-value weighted-percentile form —
    the plan must not buffer all rows in one percentile aggregate or
    sort globally before binning."""
    import __spark_entry__ as m
    from tsdb_parquet_spark.llm.corpus import length_quantile_bins

    docs = m._t(spark, SF, "documents")
    df = length_quantile_bins(docs)  # un-sorted form: no display sort
    plan = plan_of(df)
    assert "percentile" not in plan.lower()  # no all-rows percentile agg
    # the weighted-percentile pre-aggregate collapses rows per distinct
    # value before any window
    assert "partial_sum" in plan or "partial_count" in plan


def test_q137_centroid_drift_one_full_data_exchange(entry, spark):
    """The only full-data pass is the (group, dim) aggregate; the global
    centroid re-aggregates group STATE and joins back broadcast."""
    df = entry.q137_centroid_drift(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan  # component sums combine map-side


def test_q145_broadcast_dims_one_fact_shuffle(entry, spark):
    """TPC-H Q5 shape: ONLY the constant-sized region→nation chain
    broadcasts; customer, supplier, orders, lineitem all scale with SF
    and therefore every join touching them is a shuffle join (advice
    r10 — an explicit broadcast of customer would blow the driver at
    100 TB); the date filter reaches the orders scan."""
    df = entry.q145_regional_revenue(spark, SF)
    plan = plan_of(df)
    # exactly the nation-region chain broadcasts (region onto nation,
    # the 25-nation result onto customer) — never a SF-scaling table
    # (customer/supplier/orders/lineitem)
    assert plan.count("BroadcastHashJoin") == 2
    # orders⋈cust, li⋈supp, ocust⋈lsupp are all shuffle joins
    n_shuffle_joins = plan.count("ShuffledHashJoin") + plan.count("SortMergeJoin")
    assert n_shuffle_joins >= 3
    # date pushdown into the orders scan
    assert "o_orderdate" in plan[plan.index("PushedFilters"):].split("]")[0] or \
           "IsNotNull(o_orderdate)" in plan
    # the fact x fact edge joins on the orderkey via a shuffle join
    shuffle_lines = [ln for ln in plan.split("\n")
                     if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln]
    assert any("l_orderkey" in ln for ln in shuffle_lines)


def test_q159_market_share_fact_discipline(entry, spark):
    """TPC-H Q8 shape: only the two nation-chain broadcasts (region onto
    nation, the AMERICA nations onto customer, n2 names onto supplier);
    customer / part / supplier / orders / lineitem scale with SF so every
    join touching them is a shuffle join, and the orderkey fact x fact
    edge joins before the selective part/supplier joins."""
    df = entry.q159_market_share(spark, SF)
    plan = plan_of(df)
    # region->nation, amer->customer, nation->supplier = 3 broadcasts;
    # never a SF-scaling table
    assert plan.count("BroadcastHashJoin") == 3
    n_shuffle_joins = plan.count("ShuffledHashJoin") + plan.count("SortMergeJoin")
    assert n_shuffle_joins >= 4  # cust, orderkey, part, supplier
    shuffle_lines = [ln for ln in plan.split("\n")
                     if "ShuffledHashJoin" in ln or "SortMergeJoin" in ln]
    assert any("l_orderkey" in ln for ln in shuffle_lines)
    assert any("p_partkey" in ln for ln in shuffle_lines)
    # the p_type filter pushes into the part scan
    assert "p_type" in plan


def test_q159_bucketed_no_lineitem_exchange(entry, spark):
    """q159 over the orderkey-bucketed layout (r12): the full-lineitem
    exchange — the raw plan's dominant cost at sf100 — must be gone;
    the orderkey edge is a SHUFFLE-HASH join consuming the at-rest
    buckets sort-free (r15 A/B: hash-build the reduced ocust, stream
    the bucketed probe — −41% over the merge shape at sf100), and no
    exchange keys on a lineitem attribute (the reduced remainder
    shuffles on part/supplier keys only)."""
    df = entry.q159_bucketed(spark, SF)
    plan = plan_of(df)
    assert "ShuffledHashJoin [o_orderkey" in plan, plan
    assert plan.count("Bucketed: true") == 1, plan  # lineitem only
    assert "hashpartitioning(l_orderkey" not in plan, plan
    # still never broadcasts an SF-scaling table
    assert plan.count("BroadcastHashJoin") == 3, plan
    # result identical to the unbucketed q159
    a = sorted(map(tuple, entry.q159_market_share(spark, SF).collect()))
    assert sorted(map(tuple, df.collect())) == a


def test_q145_bucketed_shares_q159_layout_no_lineitem_exchange(entry, spark):
    """q145 over the SAME bucketed lineitem table as q159_bucketed:
    the scan must come off the q159b layout (cross-query amortization)
    with no lineitem-key exchange; broadcasts stay the two nation
    chains only."""
    df = entry.q145_bucketed(spark, SF)
    plan = plan_of(df)
    assert "q159b_lineitem" in plan, plan
    assert "ShuffledHashJoin [o_orderkey" in plan, plan
    assert plan.count("Bucketed: true") == 1, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    a = sorted(map(tuple, entry.q145_regional_revenue(spark, SF).collect()))
    assert sorted(map(tuple, df.collect())) == a


def test_q167_batch_topk_salted_two_phase(entry, spark):
    """Batch KNN: probes broadcast (never a corpus broadcast), scores
    stay JVM-side (no python UDF), and the top-k is two-phase — the
    first window exchange keys on (qid, salt) so no |Q|-reducer skew,
    the second on qid over candidate rows only."""
    df = entry.q167_batch_cosine_topk(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "pythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "hashpartitioning(qid" in plan, plan
    salted = [ln for ln in plan.split("\n")
              if "hashpartitioning(qid" in ln and "_salt" in ln]
    assert salted, plan


def test_q171_pipeline_linear_shape(entry, spark):
    """The curation pipeline must stay linear: one fingerprint-width
    exchange for the dedup aggregate, the benchmark n-gram set behind
    a broadcast (the corpus never reshuffles for the check), no
    cartesian product, no python UDF."""
    df = entry.q171_curation_pipeline(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "pythonUDF" not in plan and "ArrowEval" not in plan, plan
    # r15: the dedup+quality stage is referenced exactly ONCE — the
    # narrow payload rides through the n-gram explode + broadcast
    # hit-mark join into one combining hash aggregate, so the plan has
    # exactly one fingerprint-keyed exchange (the dedup aggregate) and
    # NO checkpoint materialization (the r14 localCheckpoint was
    # measured real cost at sf100 — SCALE.md §5q).
    fp_exchanges = [ln for ln in plan.split("\n")
                    if "Exchange hashpartitioning(fingerprint" in ln]
    assert len(fp_exchanges) == 1, plan
    assert "ExistingRDD" not in plan, plan


def test_q155_nullsafe_matching_plans_hash_join(entry, spark):
    """The <=> keys of PromQL vector matching must plan as hash joins
    (Catalyst's coalesce/isnull rewrite), never nested-loop/cartesian —
    the 100 TB guarantee that absent-label matching costs one exchange."""
    df = entry.q155_promql_trig(spark, SF)
    plan = plan_of(df)
    assert "Join" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# r14: layout auto-routing (sources.route_at_rest / Layout.peek)
# ---------------------------------------------------------------------------


def test_route_at_rest_resolution_order(spark, tmp_path):
    """route_at_rest picks the first available rung and logs the
    choice; Layout.peek never builds (a miss is a stat call)."""
    import os

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.sources import (
        ROUTE_LOG,
        Layout,
        route_at_rest,
    )

    src = str(tmp_path / "src.parquet")
    spark.range(10).withColumn("v", F.col("id") * 2).write.parquet(src)
    mv = Layout(
        "routetest_mv",
        lambda: spark.read.parquet(src).groupBy().count(),
        source_paths=src,
    )
    rungs = [
        ("mv", [mv], lambda t: t),
        ("raw", [], lambda: spark.read.parquet(src)),
    ]

    # miss: nothing materialized under this name
    assert mv.peek(spark) is None
    out = route_at_rest(spark, "routetest", rungs)
    assert ROUTE_LOG["routetest"] == "raw" and out.count() == 10

    # build the mv rung; the SAME route now resolves to it read-only
    mv.ensure(spark)
    out2 = route_at_rest(spark, "routetest", rungs)
    assert ROUTE_LOG["routetest"] == "mv" and out2.count() == 1

    # fingerprint staleness: rewriting the source invalidates the peek
    # (touch a data file — dot/underscore markers are fingerprint-exempt)
    part = [p for p in __import__("pathlib").Path(src).rglob("part-*")
            if p.is_file() and not p.name.startswith((".", "_"))][0]
    os.utime(part)
    assert mv.peek(spark) is None


def test_peek_bucketed_reregisters_from_disk(spark, tmp_path):
    """Layout.peek re-registers committed bucket files through
    DDL (a plain parquet read would lose co-location) and the result
    keeps the bucket metadata.  Simulates a session restart (catalog
    forgets, files persist) by copying the committed files to a fresh
    warehouse name — DROP TABLE would DELETE a managed table's files,
    which is exactly the scenario peek exists to avoid needing."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.sources import (
        Layout,
        _warehouse_dir,
        source_fingerprint,
    )

    src = str(tmp_path / "bsrc.parquet")
    spark.range(100).withColumn("k", F.col("id") % 7).write.parquet(src)
    Layout(
        "routetest_bkt",
        lambda: spark.read.parquet(src),
        src, bucket_col="k", num_buckets=4, sort_col="k",
    ).ensure(spark)
    fp = source_fingerprint(src)
    wh = _warehouse_dir(spark)
    shutil.copytree(
        os.path.join(wh, f"routetest_bkt_b4_{fp}"),
        os.path.join(wh, f"routetest2_bkt_b4_{fp}"),
    )
    # catalog miss + committed files on disk -> DDL re-registration
    got = Layout(
        "routetest2_bkt", source_paths=src,
        bucket_col="k", num_buckets=4, sort_col="k",
    ).peek(spark)
    assert got is not None and got.count() == 100
    desc = spark.sql(
        f"DESCRIBE FORMATTED `routetest2_bkt_b4_{fp}`"
    ).collect()
    info = {r["col_name"]: r["data_type"] for r in desc}
    assert info.get("Num Buckets") == "4"
    # bucket metadata survived: a groupBy on the bucket key plans with
    # NO shuffle exchange (the bucketed scan satisfies the distribution)
    plan = (
        got.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning(k" not in plan


# each auto-routed family's rungs from the lowest to the highest, with
# the pinned entry that builds each one
_LADDERS = {
    "q06": [("series_dim", "q06_series_dim"), ("mv", "q06_mv")],
    "q09": [("bucketed", "q09_bucketed"), ("mv", "q09_mv")],
    "q14": [("bucketed", "q14_bucketed")],
    "q16": [("bucketed", "q16_bucketed")],
    "q28": [("bucketed", "q28_bucketed")],
    "q91": [("indexed", "q91_indexed")],
    "q104": [("mv", "q104_mv"), ("sv", "q104_sv")],
    "q129": [("mv", "q129_mv")],
    "q132": [("mv", "q132_mv")],
    "q136": [("mv", "q136_mv")],
    "q152": [("mv", "q152_mv")],
}


def test_auto_families_route_to_each_built_rung(entry, spark, tmp_path):
    """The route contract of all eleven ``_auto`` families: raw with
    nothing built, then — right after each rung's pinned entry builds
    it, lowest rung first — that rung, with the raw entry's rows.  A
    pinned layout that drifted from what its ``_auto`` entry probes
    would route to a lower rung here."""
    import os
    import shutil
    import uuid

    from tsdb_parquet_spark.sources import ROUTE_LOG, _warehouse_dir

    # a fresh copy: fresh source fingerprints, and an sf tag no earlier
    # run has built under (the q06 ladder is fingerprinted on the
    # engine-owned tsdb fixture, not the sf dir)
    tag = f"routesf{uuid.uuid4().hex[:8]}"
    sf = str(tmp_path / tag)
    shutil.copytree(SF, sf)
    queries = entry.queries()

    def rows(name):
        return sorted(repr(r) for r in queries[name](spark, sf).collect())

    try:
        raw = {}
        for fam in _LADDERS:
            raw[fam] = rows(f"{fam}_auto")
            assert ROUTE_LOG[f"{fam}_auto"] == "raw", fam
        for fam, ladder in _LADDERS.items():
            for rung, pinned in ladder:
                assert rows(pinned) == raw[fam], pinned
                assert rows(f"{fam}_auto") == raw[fam], (fam, rung)
                assert ROUTE_LOG[f"{fam}_auto"] == rung, (fam, rung)
    finally:
        for t in spark.catalog.listTables():
            if tag in t.name:
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        wh = _warehouse_dir(spark)
        for d in os.listdir(wh):
            if tag in d:
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
