"""CLI driver — the engine's counterpart of the reference's entry points
(``/root/reference/hello.go:541-557`` main pipeline, ``hello.go:75-119``
visualize): ingest a long-form table into the sorted wide layout, query it
with Prometheus-style matchers, inspect Parquet footers.

Usage::

    python -m tsdb_parquet_spark.cli ingest  IN_PARQUET OUT_DIR [--files N]
    python -m tsdb_parquet_spark.cli query   TABLE_PATH [-m 'name=up' ...]
                                             [--t0 MS] [--t1 MS] [--limit N]
                                             [--null-semantics sql|prometheus]
    python -m tsdb_parquet_spark.cli inspect PARQUET_PATH
    python -m tsdb_parquet_spark.cli rate    TABLE_PATH [-m ...] [--labels a,b]

Matcher syntax mirrors PromQL selectors: ``name=value``, ``name!=value``,
``name=~regex``, ``name!~regex`` (hello.go:517, README.md:130-138).
"""

from __future__ import annotations

import argparse
import re
import sys

_MATCHER_RE = re.compile(r"^([a-zA-Z_][a-zA-Z0-9_]*)(=~|!~|!=|=)(.*)$")


def parse_matcher(s: str):
    from .matchers import Matcher

    m = _MATCHER_RE.match(s)
    if not m:
        raise SystemExit(f"bad matcher {s!r} (want name=value / name!=v / name=~re / name!~re)")
    return Matcher(m.group(2), m.group(1), m.group(3))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="tsdb_parquet_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_ing = sub.add_parser("ingest", help="long/wide parquet -> sorted wide layout")
    p_ing.add_argument("src")
    p_ing.add_argument("dest")
    p_ing.add_argument("--files", type=int, default=None)

    p_q = sub.add_parser("query", help="matcher query (scan->filter->project)")
    p_q.add_argument("table")
    p_q.add_argument("-m", "--matcher", action="append", default=[])
    p_q.add_argument(
        "-s", "--selector", default=None,
        help='PromQL selector, e.g. \'up{instance="localhost:9090"}\'',
    )
    p_q.add_argument("--t0", type=int, default=None)
    p_q.add_argument("--t1", type=int, default=None)
    p_q.add_argument("--limit", type=int, default=20)
    p_q.add_argument("--null-semantics", choices=["sql", "prometheus"], default="sql")
    p_q.add_argument("--regroup", action="store_true", help="group rows into series")

    p_i = sub.add_parser("inspect", help="Parquet footer report (hello.go:75-119 parity)")
    p_i.add_argument("path")

    p_tb = sub.add_parser(
        "ingest-tsdb",
        help="Prometheus TSDB block(s) -> sorted wide layout (hello.go:50-74,480-510)",
    )
    p_tb.add_argument("blocks", nargs="+", help="block directories (ULID dirs)")
    p_tb.add_argument("dest")
    p_tb.add_argument(
        "--files", type=int, default=None,
        help="output files; default: one file for a single block (decoded on "
             "the driver), spark.sql.shuffle.partitions for several blocks",
    )

    p_r = sub.add_parser("rate", help="reset-aware counter increase/rate per series")
    p_r.add_argument("table")
    p_r.add_argument("-m", "--matcher", action="append", default=[])
    p_r.add_argument("--labels", default=None, help="comma-separated label columns")

    p_ru = sub.add_parser(
        "rollup-refresh",
        help="incrementally fold new samples into a continuous aggregate "
        "(rollup.py; single writer per rollup dir — fails fast if another "
        "refresh/streaming maintainer holds the lock)",
    )
    p_ru.add_argument("delta", help="parquet of new samples (time/value/label_*)")
    p_ru.add_argument("rollup_dir")
    p_ru.add_argument("--step-ms", type=int, default=3_600_000)
    p_ru.add_argument("--distinct-col", default=None)
    p_ru.add_argument("--quantiles", action="store_true")

    p_c = sub.add_parser("compact", help="compact small-file partitions (maintenance.py)")
    p_c.add_argument("table")
    p_c.add_argument("--target-mb", type=int, default=128)
    p_c.add_argument("--min-files", type=int, default=2)

    p_ret = sub.add_parser("retention", help="drop partitions below a cutoff value")
    p_ret.add_argument("table")
    p_ret.add_argument("keep_from", help="partition value cutoff (sortable)")
    p_ret.add_argument("--col", default=None, help="partition column filter")

    p_tr = sub.add_parser(
        "tiered-retention",
        help="drop raw partitions below a cutoff ONLY if every rollup's "
        "ingest frontier has passed it (hypertable lifecycle)",
    )
    p_tr.add_argument("table")
    p_tr.add_argument("keep_from", help="partition-value cutoff (e.g. ISO date)")
    p_tr.add_argument("cutoff_ms", type=int, help="same instant in epoch ms")
    p_tr.add_argument("--rollup", action="append", required=True,
                      help="rollup state path (repeatable)")
    p_tr.add_argument("--col", default=None, help="partition column filter")

    p_h = sub.add_parser("health", help="partition/file stats for a table")
    p_h.add_argument("table")

    p_v = sub.add_parser(
        "vacuum",
        help="remove compaction debris (__compact_tmp/__compact_old); "
        "restores the primary dir first if a crash left it missing",
    )
    p_v.add_argument("table")

    p_b = sub.add_parser(
        "bm25",
        help="BM25-rank documents for query terms, served from a "
        "persisted inverted index (built on first use, fingerprint-cached)",
    )
    p_b.add_argument("docs", help="documents parquet (doc_id, text)")
    p_b.add_argument("terms", nargs="+")
    p_b.add_argument("--name", default=None, help="index table base name")
    p_b.add_argument("--topk", type=int, default=10)

    p_l = sub.add_parser(
        "lttb", help="LTTB visualization downsample per series"
    )
    p_l.add_argument("table")
    p_l.add_argument("--n-out", type=int, default=100)
    p_l.add_argument(
        "--labels", default=None,
        help="comma-separated series label columns (default: all label_*)",
    )
    p_l.add_argument("--limit", type=int, default=20)

    p_f = sub.add_parser(
        "funnel",
        help="conversion funnel over an events table "
        "(strict order; optional conversion window)",
    )
    p_f.add_argument("events", help="events parquet (user_id, ts, event_type)")
    p_f.add_argument("steps", nargs="+", help="event types in funnel order")
    p_f.add_argument("--within-min", type=int, default=None,
                     help="conversion window in minutes (default: none)")

    p_co = sub.add_parser(
        "cohort", help="cohort retention matrix over an events table"
    )
    p_co.add_argument("events")
    p_co.add_argument("--period", default="week", choices=["week", "day"])
    p_co.add_argument("--limit", type=int, default=30)

    p_bs = sub.add_parser(
        "budget-select",
        help="greedy size-budget selection: rows in priority order "
        "until the running size reaches the budget (per group)",
    )
    p_bs.add_argument("docs", help="parquet with id/size columns")
    p_bs.add_argument("budget", type=int)
    p_bs.add_argument("--size-col", default="n_chars")
    p_bs.add_argument("--id-col", default="doc_id")
    p_bs.add_argument("--group-col", default=None)
    p_bs.add_argument("--salt", default="cli",
                      help="md5 rank salt (priority = deterministic hash order)")
    p_bs.add_argument("--limit", type=int, default=20)

    p_pq = sub.add_parser(
        "promql",
        help="PromQL query -> Prometheus HTTP-API JSON "
        "(instant with --at, range with --start/--end/--step)",
    )
    p_pq.add_argument("table", help="wide tsdb parquet layout")
    p_pq.add_argument("expr")
    p_pq.add_argument("--at", type=int, default=None, help="instant ms")
    p_pq.add_argument("--start", type=int, default=None)
    p_pq.add_argument("--end", type=int, default=None)
    p_pq.add_argument("--step", type=int, default=60000, help="step ms")

    p_cu = sub.add_parser(
        "cusum", help="one-sided CUSUM drift alarms per series (SPC chart)"
    )
    p_cu.add_argument("table", help="wide tsdb parquet layout")
    p_cu.add_argument("target", type=float)
    p_cu.add_argument("threshold", type=float)
    p_cu.add_argument("--slack", type=float, default=0.0)
    p_cu.add_argument("--limit", type=int, default=20)

    p_ac = sub.add_parser(
        "autocorr", help="per-series lag-k autocorrelation (exact moments)"
    )
    p_ac.add_argument("table")
    p_ac.add_argument("--lag", type=int, default=1)
    p_ac.add_argument("--limit", type=int, default=20)

    p_hm = sub.add_parser(
        "heatmap", help="time x value density grid (Grafana heatmap input)"
    )
    p_hm.add_argument("table")
    p_hm.add_argument("--step-ms", type=int, default=600_000)
    p_hm.add_argument("--value-width", type=float, default=1.0)
    p_hm.add_argument("--limit", type=int, default=20)

    p_up = sub.add_parser(
        "uptime", help="heartbeat uptime per key (interval-union measure)"
    )
    p_up.add_argument("table", help="parquet with a key and a time column")
    p_up.add_argument("--key", default="user_id")
    p_up.add_argument("--ts", default="time")
    p_up.add_argument("--liveness", type=int, default=1_800_000,
                      help="liveness window in the ts column's unit")
    p_up.add_argument("--limit", type=int, default=20)

    p_go = sub.add_parser(
        "gopher", help="Gopher quality-rule battery over a documents table"
    )
    p_go.add_argument("table")
    p_go.add_argument("--min-words", type=int, default=50)
    p_go.add_argument("--keep-only", action="store_true")
    p_go.add_argument("--limit", type=int, default=20)

    p_sd = sub.add_parser(
        "semdedup", help="SemDeDup embedding dedup (survivors per cluster)"
    )
    p_sd.add_argument("table", help="parquet with vec_id + embedding columns")
    p_sd.add_argument("--k", type=int, default=16)
    p_sd.add_argument("--threshold", type=float, default=0.96)
    p_sd.add_argument("--limit", type=int, default=20)

    p_tf = sub.add_parser(
        "tfidf", help="per-group TF-IDF top terms over a documents table"
    )
    p_tf.add_argument("table")
    p_tf.add_argument("--group-col", default="source")
    p_tf.add_argument("--k", type=int, default=10)
    p_tf.add_argument("--limit", type=int, default=40)

    p_lx = sub.add_parser(
        "lexstats", help="per-group lexical profile (vocab/hapax/TTR)"
    )
    p_lx.add_argument("table")
    p_lx.add_argument("--group-col", default="source")
    p_lx.add_argument("--limit", type=int, default=20)

    p_se = sub.add_parser(
        "seasonal", help="seasonal z-score anomalies over an events table"
    )
    p_se.add_argument("table")
    p_se.add_argument("--z", type=float, default=3.0)
    p_se.add_argument("--limit", type=int, default=20)

    p_kb = sub.add_parser(
        "keepbest", help="duplicate-cluster keep-policy remap table"
    )
    p_kb.add_argument("table")
    p_kb.add_argument("--quality-col", default=None)
    p_kb.add_argument("--prefix-chars", type=int, default=None)
    p_kb.add_argument("--limit", type=int, default=20)

    p_e = sub.add_parser("explain", help="plan audit for a matcher query (plans/audit.py)")
    p_e.add_argument("table")
    p_e.add_argument("-m", "--matcher", action="append", default=[])
    p_e.add_argument("-s", "--selector", default=None)
    p_e.add_argument("--t0", type=int, default=None)
    p_e.add_argument("--t1", type=int, default=None)
    p_e.add_argument("--full", action="store_true", help="print the whole physical plan")

    args = p.parse_args(argv)

    if args.cmd == "inspect":  # no Spark needed — pure pyarrow footer read
        from .metadata import format_info, inspect_parquet

        print(format_info(inspect_parquet(args.path)))
        return

    from .session import get_spark

    spark = get_spark(app_name=f"tsdb_cli_{args.cmd}")

    if args.cmd == "ingest-tsdb":
        from .tsdb_block import block_meta, ingest_block, ingest_blocks

        if len(args.blocks) == 1:
            n = ingest_block(spark, args.blocks[0], args.dest, num_files=args.files)
        else:
            n = ingest_blocks(spark, args.blocks, args.dest, num_files=args.files)
        expected = sum(
            block_meta(b)["stats"]["numSamples"] for b in args.blocks
        )
        print(f"wrote {args.dest}: {n} rows (block meta.json total: {expected})")
        return

    if args.cmd == "ingest":
        from .timeseries import label_columns, wide_from_long
        from .writer import write_sorted

        df = spark.read.parquet(args.src)
        if "labels" in df.columns:  # canonical long form -> widen first
            df = wide_from_long(df)
        write_sorted(df, args.dest, num_files=args.files)
        n = spark.read.parquet(args.dest).count()
        print(f"wrote {args.dest}: {n} rows, labels={label_columns(df)}")
        return

    if args.cmd == "rollup-refresh":
        from .rollup import read_rollup, refresh_rollup

        refresh_rollup(
            spark,
            spark.read.parquet(args.delta),
            args.rollup_dir,
            args.step_ms,
            distinct_col=args.distinct_col,
            quantiles=args.quantiles,
        )
        n = read_rollup(spark, args.rollup_dir).count()
        print(f"rollup at {args.rollup_dir}: {n} (series, bucket) rows")
        return

    if args.cmd == "compact":
        from .maintenance import compact_table

        done = compact_table(
            spark, args.table,
            target_file_bytes=args.target_mb * 1024 * 1024,
            min_files=args.min_files,
        )
        print(f"compacted {len(done)} partition(s): {done}")
        return

    if args.cmd == "retention":
        from .maintenance import retention_drop

        dropped = retention_drop(spark, args.table, args.keep_from, args.col)
        print(f"dropped {len(dropped)} partition(s): {dropped}")
        return

    if args.cmd == "tiered-retention":
        from .maintenance import tiered_retention

        out = tiered_retention(
            spark, args.table, args.keep_from, args.cutoff_ms,
            args.rollup, args.col,
        )
        print(
            f"dropped {len(out['dropped'])} partition(s): {out['dropped']} "
            f"(frontiers: {out['frontiers']})"
        )
        return

    if args.cmd == "health":
        from .maintenance import table_health

        print(table_health(spark, args.table))
        return

    if args.cmd == "vacuum":
        from .maintenance import vacuum

        removed = vacuum(spark, args.table)
        print(f"vacuumed {len(removed)} item(s): {removed}")
        return

    if args.cmd == "bm25":
        import re

        from .llm.ranking import bm25_index_layouts, bm25_rank_indexed

        name = args.name or "bm25_idx_cli_" + re.sub(
            r"[^0-9A-Za-z]+", "_", args.docs.rstrip("/").rsplit("/", 1)[-1]
        )
        post, stats = bm25_index_layouts(
            name, lambda: spark.read.parquet(args.docs),
            source_paths=args.docs,
        )
        out = bm25_rank_indexed(
            post.ensure(spark), stats.ensure(spark), args.terms,
            top_k=args.topk,
        )
        out.show(args.topk, truncate=False)
        return

    if args.cmd == "lttb":
        from .timeseries import lttb_downsample

        labels = args.labels.split(",") if args.labels else None
        out = lttb_downsample(
            spark.read.parquet(args.table), args.n_out, labels=labels
        )
        out.show(args.limit, truncate=False)
        print(f"({out.count()} rows)")
        return

    if args.cmd in ("cusum", "autocorr", "heatmap"):
        from .timeseries import autocorr_lag, cusum_drift, load_tsdb, value_heatmap

        df = load_tsdb(spark, args.table)
        if args.cmd == "cusum":
            out = cusum_drift(df, target=args.target,
                              threshold=args.threshold, slack=args.slack)
        elif args.cmd == "autocorr":
            out = autocorr_lag(df, lag=args.lag)
        else:
            out = value_heatmap(df, step_ms=args.step_ms,
                                value_width=args.value_width)
        out.show(args.limit, truncate=False)
        print(f"({out.count()} rows)")
        return

    if args.cmd == "uptime":
        from .operators.intervals import heartbeat_uptime
        from .timeseries import load_tsdb

        df = load_tsdb(spark, args.table)
        out = heartbeat_uptime(df, args.ts, args.liveness, keys=[args.key])
        out.orderBy(args.key).show(args.limit, truncate=False)
        print(f"({out.count()} rows)")
        return

    if args.cmd == "gopher":
        from .llm.text import gopher_rules

        out = gopher_rules(
            spark.read.parquet(args.table), min_words=args.min_words
        )
        if args.keep_only:
            out = out.filter("keep")
        out.show(args.limit, truncate=False)
        print(f"({out.count()} rows)")
        return

    if args.cmd == "semdedup":
        from .llm.dedup import semdedup

        out = semdedup(
            spark.read.parquet(args.table), k=args.k, threshold=args.threshold
        )
        out.orderBy("cluster", "keep_rank").show(args.limit, truncate=False)
        print(f"({out.count()} survivors)")
        return

    if args.cmd == "tfidf":
        from .llm.text import tfidf_top_terms

        out = tfidf_top_terms(
            spark.read.parquet(args.table), group_col=args.group_col, k=args.k
        )
        out.orderBy(args.group_col, "rank").show(args.limit, truncate=False)
        return

    if args.cmd == "lexstats":
        from .llm.text import lexical_stats

        lexical_stats(
            spark.read.parquet(args.table), group_col=args.group_col
        ).orderBy(args.group_col).show(args.limit, truncate=False)
        return

    if args.cmd == "seasonal":
        from pyspark.sql import functions as _F

        from .operators.seasonal import seasonal_anomalies

        out = seasonal_anomalies(
            spark.read.parquet(args.table), z_threshold=args.z
        )
        out.orderBy(_F.desc(_F.abs(_F.col("zscore")))).show(
            args.limit, truncate=False
        )
        return

    if args.cmd == "keepbest":
        from .llm.dedup import dedup_keep_best

        out = dedup_keep_best(
            spark.read.parquet(args.table),
            quality_col=args.quality_col,
            prefix_chars=args.prefix_chars,
        )
        out.orderBy("doc_id").show(args.limit, truncate=False)
        print(f"({out.count()} dropped)")
        return

    if args.cmd == "promql":
        import json as _json

        from .promql_api import query_instant_response, query_range_response
        from .timeseries import load_tsdb

        df = load_tsdb(spark, args.table)
        if args.at is not None:
            resp = query_instant_response(df, args.expr, args.at)
        else:
            if args.start is None or args.end is None:
                tmin, tmax = df.selectExpr("min(time)", "max(time)").first()
                if tmin is None:
                    raise SystemExit(
                        "table has no samples: pass --start/--end or "
                        "point at a non-empty layout"
                    )
                start = args.start if args.start is not None else tmin
                end = args.end if args.end is not None else tmax
            else:
                start, end = args.start, args.end
            resp = query_range_response(df, args.expr, start, end, args.step)
        print(_json.dumps(resp))
        return

    if args.cmd == "funnel":
        from .operators.funnel import funnel_counts

        out = funnel_counts(
            spark.read.parquet(args.events), args.steps,
            within_ms=args.within_min * 60000 if args.within_min else None,
        )
        out.show(truncate=False)
        return

    if args.cmd == "cohort":
        from .operators.funnel import cohort_retention

        out = cohort_retention(spark.read.parquet(args.events),
                               period=args.period)
        out.show(args.limit, truncate=False)
        print(f"({out.count()} rows)")
        return

    if args.cmd == "budget-select":
        from pyspark.sql import functions as _F

        from .operators.prefix import budget_select

        prio = _F.substring(
            _F.md5(_F.concat(_F.col(args.id_col).cast("string"),
                             _F.lit(args.salt))), 1, 15
        )
        bkey = _F.conv(prio, 16, 10).cast("bigint")
        out = budget_select(
            spark.read.parquet(args.docs), args.budget, args.size_col,
            prio, id_col=args.id_col, group_col=args.group_col,
            bucket_key=bkey,
        )
        out.show(args.limit, truncate=False)
        print(f"({out.count()} rows selected)")
        return

    matchers = [parse_matcher(s) for s in args.matcher]
    if getattr(args, "selector", None):
        from .matchers import parse_selector

        matchers.extend(parse_selector(args.selector))

    if args.cmd == "query":
        from .timeseries import regroup_series, select_series

        df = select_series(
            spark.read.parquet(args.table),
            matchers=matchers,
            t0=args.t0,
            t1=args.t1,
            null_semantics=args.null_semantics,
        )
        if args.regroup:
            df = regroup_series(df)
        df.show(args.limit, truncate=False)
        print(f"({df.count()} rows)")
        return

    if args.cmd == "explain":
        from .plans import summarize
        from .plans.audit import format_summary, plan_string
        from .timeseries import select_series

        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        df = select_series(
            spark.read.parquet(args.table),
            matchers=matchers,
            t0=args.t0,
            t1=args.t1,
        )
        print(format_summary(summarize(df)))
        if args.full:
            print()
            print(plan_string(df))
        return

    if args.cmd == "rate":
        from .matchers import apply_matchers
        from .timeseries import counter_rate

        df = spark.read.parquet(args.table)
        if matchers:
            df = apply_matchers(df, matchers)
        labels = args.labels.split(",") if args.labels else None
        out = counter_rate(df, labels)
        out.orderBy(*out.columns[:-3]).show(50, truncate=False)
        return



if __name__ == "__main__":
    main(sys.argv[1:])
