"""The benchmark workloads.

Each workload provides ``generate`` (seeded inputs, not timed), ``reset``
(wipe per-session state before a repeated set-up), ``setup`` (timed into
``setup_s``), ``pass_ops`` (the ops of one pass), ``final_check`` and
``metrics``.  Ops call the program only through its public functions;
the spans named here are the per-layer boundaries of the traced run.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import time

from . import inputs, reference
from .harness import Ctx, Op, clean_dir

FIXTURE = os.path.join("data", "tsdb.parquet")


def _check_oracle(root: str):
    """``scripts/check_oracle.py`` — its ``digest`` is the repo's
    order-insensitive result hash (row set in the ``_norm`` convention)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    """Columns and row tuples of an Arrow table, timestamps as naive UTC
    (Spark's ``toArrow`` tags them with the session zone, DuckDB does not)."""
    import pyarrow as pa

    cols = []
    for c in tbl.columns:
        if pa.types.is_timestamp(c.type) and c.type.tz is not None:
            c = c.cast(pa.timestamp(c.type.unit))
        cols.append(c.to_pylist())
    return tbl.column_names, list(zip(*cols))


def _data_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# block_ingest
# ---------------------------------------------------------------------------

BLOCK_SAMPLES = {"small": 16, "tiny": 8}  # per series; 15 s scrapes
CYCLES_PER_ROUND = 2
RETAIN = 3  # blocks kept by each pass's retention drop
FILES_PER_INGEST = 4  # small files per ingest, merged by the next compaction
T0_MS = 1_700_000_040_000  # a whole minute
REQUESTS = "prometheus_http_requests_total"


class BlockIngest:
    """Writes beside reads on one table.  Each cycle ingests a new seeded
    TSDB block into its own partition, runs a dashboard range query over
    the two newest blocks through a freshly loaded (schema-merged) table
    and ``promql_api``, and reads the raw block back through the ``tsdb``
    data source with a matcher.  Every second cycle a maintenance op drops
    all but the ``RETAIN`` newest blocks and compacts the table, so every
    pass from the warm pass on sees the same table size, however many
    passes a run makes."""

    name = "block_ingest"
    warm_passes = 2  # the JVM is still warming up after one pass

    def generate(self, ctx: Ctx) -> None:
        self.vocab = inputs.fixture_vocabulary(os.path.join(ctx.root, FIXTURE))
        self.n = BLOCK_SAMPLES[ctx.scale]
        self.table = os.path.join(ctx.work, "ingest_table")
        self.blocks = os.path.join(ctx.work, "blocks")
        self.handlers = sorted({v["handler"] for v in self.vocab if "handler" in v})
        self.codes = sorted({v["code"] for v in self.vocab if "code" in v})
        self.block_info: dict[int, tuple[str, list]] = {}  # blocks still to be read
        self.make_block(ctx, 0)
        ctx.detail["series"] = len(self.vocab)
        ctx.detail["samples_per_block"] = len(self.vocab) * self.n

    def make_block(self, ctx: Ctx, i: int) -> None:
        from tsdb_parquet_spark import tsdb_block

        series = inputs.block_series(ctx.seed, i, self.vocab, T0_MS, self.n)
        d = os.path.join(self.blocks, f"b{i:05d}")
        tsdb_block.write_block(d, series)
        self.block_info[i] = (d, series)

    def reset(self, ctx: Ctx) -> None:
        shutil.rmtree(self.table, ignore_errors=True)

    def part(self, i: int) -> str:
        return os.path.join(self.table, f"blk={i:05d}")

    def setup(self, ctx: Ctx) -> None:
        from tsdb_parquet_spark import datasource, tsdb_block

        datasource.register(ctx.spark)
        tsdb_block.ingest_block(ctx.spark, self.block_info[0][0], self.part(0),
                                num_files=FILES_PER_INGEST)
        self.ingested = {0: len(self.vocab) * self.n}
        self.uncompacted = ["blk=00000"]
        self.next_block = 1
        if ctx.trace and not ctx.tracer.wrapped:
            self._install_spans(ctx)

    def _install_spans(self, ctx: Ctx) -> None:
        from tsdb_parquet_spark import (
            maintenance, promql_api, promql_expr, timeseries, tsdb_block, writer,
        )

        tr = ctx.tracer

        def captured(tracer, args, kwargs, out):
            # the formatter's input plan, re-executed by exec_probe
            ctx.plans[tracer.op] = args[0]

        def decoded(tracer, args, kwargs, out):
            tracer.count("tsdb_block.samples_decoded", len(out))

        def written(tracer, args, kwargs, out):
            path = args[1] if len(args) > 1 else kwargs["path"]
            files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
                     if f.endswith(".parquet")]
            tracer.count("writer.files_written", len(files))
            tracer.count("writer.bytes_written", sum(os.path.getsize(f) for f in files))

        def rewritten(tracer, args, kwargs, out):
            for p in out:
                tracer.count("maintenance.bytes_rewritten",
                             _data_bytes(self.table if p == "." else os.path.join(self.table, p)))

        tr.wrap(promql_expr, "parse_expr", "promql_expr.parse")
        tr.wrap(promql_expr, "query_range", "promql_expr.plan")
        tr.wrap(promql_api, "range_response", "promql_api.format", captured)
        tr.wrap(promql_api, "query_range_response", "promql_api.response")
        tr.wrap(timeseries, "load_tsdb", "timeseries.load_tsdb")
        tr.wrap(tsdb_block, "read_index", "tsdb_block.read_index")
        tr.wrap(tsdb_block, "decode_xor_chunk", "tsdb_block.decode", decoded)
        tr.wrap(tsdb_block, "ingest_block", "tsdb_block.ingest_block")
        tr.wrap(writer, "write_sorted", "writer.write_sorted", written)
        tr.wrap(maintenance, "compact_table", "maintenance.compact", rewritten)

    def exec_probe(self, ctx: Ctx) -> None:
        """``spark.exec_ms`` for the query op: ``toArrow()`` of the exact
        plan its response formatter collected, run after the op and off
        its clock."""
        op_id = ctx.tracer.op
        plan = ctx.plans.pop(op_id, None)
        if plan is None:
            return
        t0 = time.perf_counter()
        tbl = plan.toArrow()
        ctx.tracer.counts[(op_id, "spark.exec_ms")] += (time.perf_counter() - t0) * 1000.0
        ctx.tracer.counts[(op_id, "promql_api.rows_collected")] += tbl.num_rows
        ctx.probe.skip()

    def pass_ops(self, ctx: Ctx, pass_no: int) -> list[Op]:
        # earlier passes have run; only the newest block's samples are still
        # needed, by the next query's reference
        for b in [b for b in self.block_info if b < self.next_block - 1]:
            shutil.rmtree(self.block_info.pop(b)[0])
        ops = []
        for _ in range(CYCLES_PER_ROUND):
            i = self.next_block
            self.next_block += 1
            self.make_block(ctx, i)
            ops += self.cycle(ctx, i)
        ops.append(self.maintain_op(ctx))
        return ops

    def cycle(self, ctx: Ctx, i: int) -> list[Op]:
        from pyspark.sql import functions as F
        from tsdb_parquet_spark import promql_api, timeseries, tsdb_block

        spark = ctx.spark
        block_dir, series = self.block_info[i]
        rnd = random.Random(f"block_ingest:{ctx.seed}:{i}")
        n_samples = len(self.vocab) * self.n
        part = self.part(i)

        def ingest():
            return tsdb_block.ingest_block(spark, block_dir, part, num_files=FILES_PER_INGEST)

        def ingest_after(rows):
            self.ingested[i] = rows
            self.uncompacted.append(f"blk={i:05d}")

        # the two newest blocks on 15 s steps; every 1 m rate window lies inside them
        span = self.n * inputs.SCRAPE_MS
        start, end, step = T0_MS + (i - 1) * span + 60_000, T0_MS + (i + 1) * span - 15_000, 15_000
        code = rnd.choice(self.codes)
        expr = f'sum by (handler) (rate({REQUESTS}{{code="{code}"}}[1m]))'
        spec = {"range": 60_000, "metric": REQUESTS, "eq": {"code": code}, "sum_by": ["handler"]}
        store = reference.SeriesStore.from_samples(self.block_info[i - 1][1] + series)

        def query():
            df = timeseries.load_tsdb(spark, self.table)
            return promql_api.query_range_response(df, expr, start, end, step)

        handler = rnd.choice(self.handlers)

        def raw():
            with ctx.tracer.span("datasource.block_read"):
                return (
                    spark.read.format("tsdb").load(block_dir)
                    .filter((F.col("label_name") == REQUESTS) & (F.col("label_handler") == handler))
                    .select("time", "value")
                    .toArrow()
                )

        def raw_check(tbl):
            got = sorted(zip(tbl.column("time").to_pylist(), tbl.column("value").to_pylist()))
            want = sorted(
                (t, v) for labels, samples in series
                if labels["__name__"] == REQUESTS and labels.get("handler") == handler
                for t, v in samples
            )
            return None if got == want else f"{len(got)} rows vs {len(want)} generated"

        probe = (lambda _out: self.exec_probe(ctx)) if ctx.tracer.enabled else None
        return [
            Op("ingest", f"ingest block {i}", ingest,
               lambda rows: None if rows == n_samples else f"{rows} rows vs {n_samples}",
               ingest_after),
            Op("query", f"{expr} over blocks {i - 1}-{i}", query,
               lambda r: reference.compare(
                   reference.response_points(r),
                   reference.range_reference(spec, store, start, end, step)),
               probe),
            Op("raw_read", f"raw {REQUESTS}{{handler={handler}}} block {i}", raw, raw_check),
        ]

    def maintain_op(self, ctx: Ctx) -> Op:
        """``maintenance.retention_drop`` of all but the ``RETAIN`` newest
        blocks, then ``maintenance.compact_table``; checked: it drops and
        rewrites exactly the partitions the harness expects."""
        from tsdb_parquet_spark import maintenance

        keep_from = self.next_block - RETAIN
        expected: list[list[str]] = []

        def maintain():
            dropped = sorted(f"blk={b:05d}" for b in self.ingested if b < keep_from)
            expected[:] = [dropped, sorted(set(self.uncompacted) - set(dropped))]
            return [maintenance.retention_drop(ctx.spark, self.table, str(keep_from)),
                    sorted(maintenance.compact_table(ctx.spark, self.table))]

        def maintained(_out):
            self.ingested = {b: n for b, n in self.ingested.items() if b >= keep_from}
            self.uncompacted = []

        return Op("maintain", f"maintain before block {self.next_block}", maintain,
                  lambda got: None if got == expected
                  else f"dropped/rewrote {got}, expected {expected}",
                  maintained)

    def final_check(self, ctx: Ctx) -> list[str]:
        n = ctx.spark.read.parquet(self.table).count()
        want = sum(self.ingested.values())
        return [] if n == want else [f"table holds {n} rows, ingested {want}"]

    def metrics(self, ctx: Ctx, timed) -> dict:
        ingests = [e for e in timed if e.template == "ingest" and e.error is None]
        samples = len(ingests) * len(self.vocab) * self.n
        return {
            "ingest.samples_per_s": samples / sum(e.seconds for e in ingests),
            # Parquet bytes of the retained blocks / their samples
            "ingest.bytes_per_sample": _data_bytes(self.table) / sum(self.ingested.values()),
        }


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------

# driver entries per pass: scans/joins/aggregates, windows and intervals,
# time series, a Python/Arrow kernel, tokenize, curation, and an
# auto-routed at-rest entry
ENTRIES = [
    "q01_scan_project", "q09_join_agg", "q170_pricing_summary", "q19_lag_moving_avg",
    "q110_interval_islands", "q39_promql_rate_window", "q167b_batch_topk_np",
    "q129_tfidf_topterms", "q171_curation_pipeline", "q09_auto",
]
# at-rest layouts built during set-up, and the rung each auto entry must pick
LAYOUT_ENTRIES = ["q09_mv"]
ROUTES = {"q09_auto": "mv"}


class AnalyticsMix:
    """A fixed list of driver entries over seeded TPC-H-ish tables, run in
    a seeded order each pass; at-rest layouts are built during set-up so
    every pass reads the same rung."""

    name = "analytics_mix"
    warm_passes = 1

    def generate(self, ctx: Ctx) -> None:
        import __spark_entry__ as entries

        self.sf = os.path.join(ctx.work, "sfbench")
        inputs.write_tables(inputs.analytics_tables(ctx.seed, ctx.scale), self.sf)
        self.queries = entries.queries()
        self.oracle = _check_oracle(ctx.root)
        self.want = self.oracle_digests(entries.oracle_sql())
        self.passed: dict = {}  # entry -> its last output that matched the oracle
        self.routes: dict[str, list[str]] = {n: [] for n in ROUTES}
        ctx.detail["entries"] = len(ENTRIES)

    def reset(self, ctx: Ctx) -> None:
        clean_dir(os.path.join(ctx.work, "warehouse"))

    def setup(self, ctx: Ctx) -> None:
        for n in LAYOUT_ENTRIES:
            self.queries[n](ctx.spark, self.sf)

    def _op(self, ctx: Ctx, name: str) -> Op:
        from tsdb_parquet_spark import sources

        fn, tr = self.queries[name], ctx.tracer

        def run():
            with tr.span("entry.plan"):
                df = fn(ctx.spark, self.sf)
            with tr.span("spark.exec"):
                return df.toArrow()

        def check(tbl):
            if name in self.passed and tbl.equals(self.passed[name]):
                return None  # identical to an output that matched the oracle
            got = self.oracle.digest(*arrow_rows(tbl))
            if got != self.want[name]:
                return f"digest {got} != oracle {self.want[name]}"
            self.passed[name] = tbl
            return None

        after = None
        if name in ROUTES:
            after = lambda _out: self.routes[name].append(sources.ROUTE_LOG.get(name))  # noqa: E731
        return Op(name, name, run, check, after)

    def oracle_digests(self, oracle_sql: dict[str, str]) -> dict[str, str]:
        """Each entry's DuckDB ``oracle_sql()`` result over the same parquet,
        digested in ``scripts/check_oracle.py``'s convention."""
        import duckdb
        from tsdb_parquet_spark.tables import TABLE_NAMES, table_path

        out = {}
        with duckdb.connect() as duck:
            for t in TABLE_NAMES:
                duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.sf, t)}')")
            for name in ENTRIES:
                tbl = duck.execute(oracle_sql[name]).arrow()
                if hasattr(tbl, "read_all"):
                    tbl = tbl.read_all()
                out[name] = self.oracle.digest(*arrow_rows(tbl))
        return out

    def pass_ops(self, ctx: Ctx, pass_no: int) -> list[Op]:
        return inputs.shuffled(ctx.seed, pass_no, [self._op(ctx, n) for n in ENTRIES])

    def final_check(self, ctx: Ctx) -> list[str]:
        ctx.detail["routes"] = self.routes
        return [f"{name}: routed to {r}, expected {ROUTES[name]}"
                for name, rungs in self.routes.items() for r in rungs if r != ROUTES[name]]

    def metrics(self, ctx: Ctx, timed) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (BlockIngest, AnalyticsMix)}
