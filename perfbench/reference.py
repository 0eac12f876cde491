"""Independent numpy reference for the PromQL range query that block_ingest
runs, ``sum by (...) (rate(m{...}[r]))``.

It evaluates the expression directly on the generated samples with
Prometheus semantics: range windows are ``(T - range, T]`` and ``rate`` is
Prometheus's extrapolated rate.  Two engine conventions are mirrored
rather than Prometheus's: ``rate`` keeps ``__name__`` (Prometheus drops
it), and each series' rate is rounded to 6 decimals before any
aggregation (the engine's exact-decimal counter convention).  Responses
from ``promql_api`` are compared against it series by series, step by
step, with a float tolerance.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

Key = tuple  # sorted ((label, value), ...) including __name__


def _key(labels: dict) -> Key:
    return tuple(sorted(labels.items()))


class SeriesStore:
    """Samples grouped by series: ``key -> (times, values)``, time-sorted."""

    def __init__(self, series: dict[Key, tuple[np.ndarray, np.ndarray]]) -> None:
        self.series = series

    @classmethod
    def from_samples(cls, series: list) -> "SeriesStore":
        """From ``[(labels, [(t, v), ...]), ...]``; a label set may repeat
        (consecutive blocks of one series)."""
        parts: dict[Key, list] = defaultdict(list)
        for labels, samples in series:
            parts[_key(labels)].extend(samples)
        out = {}
        for k, samples in parts.items():
            arr = np.asarray(sorted(samples), dtype="float64")
            out[k] = (arr[:, 0].astype("int64"), arr[:, 1])
        return cls(out)

    def select(self, metric: str, **eq: str) -> list[tuple[dict, np.ndarray, np.ndarray]]:
        out = []
        for k, (t, v) in self.series.items():
            d = dict(k)
            if d.get("__name__") == metric and all(d.get(a) == b for a, b in eq.items()):
                out.append((d, t, v))
        return out


def _window(t, v, at, rng):
    lo, hi = np.searchsorted(t, at - rng, "right"), np.searchsorted(t, at, "right")
    return t[lo:hi], v[lo:hi]


def _rate(t, v, at, rng):
    """Prometheus extrapolatedRate(isCounter=True, isRate=True)."""
    if len(t) < 2:
        return None
    result = v[-1] - v[0]
    drops = v[1:] < v[:-1]
    result += float(v[:-1][drops].sum())
    to_start = (t[0] - (at - rng)) / 1000.0
    to_end = (at - t[-1]) / 1000.0
    sampled = (t[-1] - t[0]) / 1000.0
    avg = sampled / (len(t) - 1)
    if result > 0 and v[0] >= 0:
        to_zero = sampled * (v[0] / result)
        if to_zero < to_start:
            to_start = to_zero
    threshold = avg * 1.1
    interval = sampled
    interval += to_start if to_start < threshold else avg / 2
    interval += to_end if to_end < threshold else avg / 2
    return round(result * (interval / sampled) / (rng / 1000.0), 6)


def evaluate(spec: dict, store: SeriesStore, at: int) -> dict[Key, float]:
    """One evaluation instant of ``{"range": ms, "metric", "eq", "sum_by"}``."""
    vals: dict[Key, float] = {}
    for labels, t, v in store.select(spec["metric"], **spec.get("eq", {})):
        x = _rate(*_window(t, v, at, spec["range"]), at, spec["range"])
        if x is not None:
            vals[_key(labels)] = x
    if spec.get("sum_by"):
        agg: dict[Key, float] = defaultdict(float)
        for k, x in vals.items():
            d = dict(k)
            agg[tuple((b, d[b]) for b in sorted(spec["sum_by"]) if b in d)] += x
        vals = dict(agg)
    return vals


def range_reference(spec, store, start, end, step) -> dict[Key, dict[int, float]]:
    out: dict[Key, dict[int, float]] = defaultdict(dict)
    for at in range(start, end + 1, step):
        for k, x in evaluate(spec, store, at).items():
            out[k][at] = x
    return dict(out)


def response_points(resp: dict) -> dict[Key, dict[int, float]]:
    """``{series: {ts_ms: value}}`` from a matrix response."""
    return {
        _key(e["metric"]): {round(ts * 1000): float(x) for ts, x in e["values"]}
        for e in resp["data"]["result"]
    }


def compare(got: dict, want: dict) -> str | None:
    if set(got) != set(want):
        missing, extra = set(want) - set(got), set(got) - set(want)
        return (f"series differ: {len(got)} returned vs {len(want)} expected "
                f"(missing {sorted(missing)[:1]}, unexpected {sorted(extra)[:1]})")
    for k, pts in want.items():
        if set(got[k]) != set(pts):
            return f"steps differ for {dict(k)}: {len(got[k])} vs {len(pts)}"
        for ts, x in pts.items():
            y = got[k][ts]
            if not (math.isclose(y, x, rel_tol=1e-9, abs_tol=1e-6)
                    or (math.isnan(x) and math.isnan(y))):
                return f"value differs for {dict(k)} at {ts}: {y!r} vs {x!r}"
    return None
