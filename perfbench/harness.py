"""Closed-loop, single-client driver shared by every workload.

One run:

1. the workload generates its seeded inputs and their reference answers
   (not timed);
2. ``SETUP_REPS`` set-ups, each on a fresh SparkSession: session start
   plus the workload's at-rest layout builds, until the first op is ready
   (``setup_s`` is their median; the first one also pays the JVM launch);
3. a cold pass (``cold_pass_s`` sums the first execution of every op
   template) and ``warm_passes`` untimed warm passes;
4. the timed phase: whole passes, one op at a time with no think time,
   until the ops have been busy for ``--seconds``;
5. output checks: every execution is checked against the workload's
   independent reference as soon as it returns (off the clock), and its
   output is dropped.

``driver_rss_mb`` is the highest driver VmHWM over the timed ops, the
peak counter being reset as each op starts, so it measures what the
program holds while it runs an op (its result included) and not the
harness's inputs or checks between ops.

Harness work between ops (input generation, checks, trace probes) is not
counted as op time.  With ``--trace 1`` the timed phase
runs twice, untraced and then traced, and only per-layer metrics are
reported.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

SETUP_REPS = 3


@dataclass
class Op:
    template: str  # cold-pass key: the op's kind
    key: str  # template + parameters, names the op in failure messages
    run: Callable[[], Any]  # executes the op, returns its output
    check: Callable[[Any], str | None]  # reference check: None or a failure
    after: Callable[[Any], None] | None = None  # untimed bookkeeping


@dataclass
class Exec:
    template: str
    key: str
    phase: str
    op_id: str
    seconds: float
    rss_mb: float = 0.0  # driver VmHWM while the op ran
    check_s: float = 0.0
    error: str | None = None


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    scale: str
    trace: bool
    tracer: Any
    spark: Any = None
    probe: Any = None
    plans: dict[str, Any] = field(default_factory=dict)
    detail: dict[str, Any] = field(default_factory=dict)


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def start_session(ctx: Ctx):
    from tsdb_parquet_spark import session

    wh = os.path.join(ctx.work, "warehouse")
    os.makedirs(wh, exist_ok=True)
    spark = session.get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": wh,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={ctx.work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def stop_session(ctx: Ctx) -> None:
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None


def shutdown_jvm() -> float:
    """Stop the py4j gateway JVM and wait for it; returns its VmHWM (MB)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return 0.0
    proc = getattr(gw, "proc", None)
    rss = 0.0
    if proc is not None:
        try:
            rss = vm_hwm_mb(proc.pid)
        except OSError:
            pass
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return rss


class Runner:
    def __init__(self, workload, ctx: Ctx, seconds: float) -> None:
        self.w = workload
        self.ctx = ctx
        self.seconds = seconds
        self.execs: list[Exec] = []
        self.errors: list[str] = []
        self._pass = 0
        self._n = 0

    def run_op(self, op: Op, phase: str) -> Exec:
        ctx = self.ctx
        self._n += 1
        op_id = f"{self._n}:{op.template}"
        tracing = ctx.tracer.enabled
        if tracing:
            ctx.tracer.op = op_id
            ctx.probe.begin(op_id)
        ex = Exec(op.template, op.key, phase, op_id, 0.0)
        out = None
        reset_peak_rss()
        t0 = time.perf_counter()
        try:
            if tracing:
                with ctx.tracer.span("op"):
                    out = op.run()
            else:
                out = op.run()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            ex.error = f"{type(e).__name__}: {e}"
        ex.seconds = time.perf_counter() - t0
        ex.rss_mb = vm_hwm_mb()
        if tracing:
            for name, v in ctx.probe.collect().items():
                ctx.tracer.counts[(op_id, name)] += v
        if ex.error is None:
            t0 = time.perf_counter()
            try:
                if op.after is not None:
                    op.after(out)
                ex.error = op.check(out)
            except Exception as e:  # noqa: BLE001
                ex.error = f"check raised {type(e).__name__}: {e}"
            ex.check_s = time.perf_counter() - t0
        ctx.tracer.op = None
        if ex.error is not None:
            self.errors.append(f"{phase} {op.key}: {ex.error}")
            print(f"perfbench: FAIL {self.errors[-1]}", file=sys.stderr)
        self.execs.append(ex)
        return ex

    def run_pass(self, phase: str) -> list[Exec]:
        ops = self.w.pass_ops(self.ctx, self._pass)
        self._pass += 1
        return [self.run_op(op, phase) for op in ops]

    def timed(self, phase: str) -> list[Exec]:
        out: list[Exec] = []
        busy = 0.0
        while busy < self.seconds:
            done = self.run_pass(phase)
            out += done
            busy += sum(e.seconds for e in done)
            self.ctx.detail.setdefault("pass_s", []).append(round(sum(e.seconds for e in done), 3))
        return out

    def run(self, trace: bool) -> dict[str, Any]:
        ctx, w = self.ctx, self.w
        clock = time.perf_counter()
        phases = ctx.detail.setdefault("phase_s", {})

        def lap(name: str) -> None:
            nonlocal clock
            now = time.perf_counter()
            phases[name] = round(now - clock, 2)
            clock = now

        w.generate(ctx)
        lap("generate")
        setup, session = [], []
        for rep in range(SETUP_REPS):
            if rep:
                stop_session(ctx)
                w.reset(ctx)
            t0 = time.perf_counter()
            start_session(ctx)
            session.append(time.perf_counter() - t0)
            w.setup(ctx)
            setup.append(time.perf_counter() - t0)
        ctx.detail["session_start_s"] = session
        lap("setup")
        if trace:
            from .trace import SparkProbe

            ctx.probe = SparkProbe(ctx.spark)
            ctx.tracer.enabled = True
        cold = self.run_pass("cold")
        first: dict[str, float] = {}
        for e in cold:
            first.setdefault(e.template, e.seconds)
        ctx.tracer.enabled = False
        lap("cold")
        for _ in range(w.warm_passes):
            self.run_pass("warm")
        lap("warm")
        if trace:
            untraced = self.timed("untraced")
            ctx.tracer.enabled = True
        steal0, ticks0 = host_ticks()
        timed = self.timed("timed")
        steal1, ticks1 = host_ticks()
        ctx.tracer.enabled = False
        lap("timed")
        ctx.detail["host_steal_pct"] = round(100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0), 2)
        for msg in w.final_check(ctx):
            self.errors.append(msg)
            print(f"perfbench: FAIL {msg}", file=sys.stderr)
        lap("check")
        ok = [e for e in timed if e.error is None]
        lat = sorted(e.seconds * 1000.0 for e in ok)
        busy = sum(e.seconds for e in timed)
        res: dict[str, Any] = {
            "setup_s": statistics.median(setup),
            "cold_pass_s": sum(first.values()),
            "ops_per_s": len(ok) / busy,
            "op_p50_ms": quantile(lat, 0.50),
            "op_p90_ms": quantile(lat, 0.90),
            "driver_rss_mb": max(e.rss_mb for e in timed),
        }
        res.update(w.metrics(ctx, timed))
        ctx.detail.update({
            "setup_runs_s": [round(s, 3) for s in setup],
            "timed_ops": len(timed),
            "samples_beyond_p90": sum(1 for v in lat if v > res["op_p90_ms"]),
            "template_median_ms": {
                t: round(statistics.median(e.seconds * 1000.0 for e in ok if e.template == t))
                for t in sorted({e.template for e in ok})
            },
            "check_ms": {
                t: round(statistics.median(e.check_s * 1000.0 for e in ok if e.template == t))
                for t in sorted({e.template for e in ok})
            },
            "errors": self.errors[:20],
        })
        if trace:
            res["_untraced_ops_per_s"] = (
                sum(1 for e in untraced if e.error is None)
                / sum(e.seconds for e in untraced)
            )
            res["_traced"] = timed
            res["_cold"] = cold
        return {"metrics": res, "attempted": len(self.execs),
                "failed": len(self.errors)}


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
