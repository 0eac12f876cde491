from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tsdb_parquet_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tsdb_parquet_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def tsdb_mini(spark):
    """Tiny wide-layout tsdb table with NULL labels — the matcher edge-case
    surface (SURVEY.md §5.2 item 2)."""
    rows = [
        # (time, value, name, instance, job, quantile)
        (1000, 1.0, "up", "a:9090", "prom", None),
        (2000, 0.5, "latency", "a:9090", "prom", "0.5"),
        (3000, 0.9, "latency", "a:9090", "prom", "0.99"),
        (4000, 2.0, "go_goroutines", "b:9090", "prom", None),
        (5000, 3.0, "latency", "b:9090", "prom", ""),
    ]
    return spark.createDataFrame(
        rows, "time long, value double, label_name string, label_instance string, "
        "label_job string, label_quantile string"
    )


SYNTH_T0 = 1_700_000_000_000


def _synthetic_series() -> list[tuple[dict[str, str], list[tuple[int, float]]]]:
    """A seeded Prometheus-shaped series set covering every decode and
    layout edge: 15 s scrapes with 1-999 ms jitter, a counter family, a
    summary quantile series whose samples are NaN (no observations), a
    gauge holding ±Inf, a series lacking the ``instance`` label and one
    whose time gap needs the 64-bit delta-of-delta path."""
    import random

    rnd = random.Random(20)
    grid = [SYNTH_T0 + i * 15_000 for i in range(60)]
    series = []
    for i in range(12):
        labels = {
            "__name__": "http_requests_total",
            "handler": f"/api/v{i % 4}",
            "code": ("200", "500")[i % 2],
            "instance": f"10.0.0.{i % 3}:9090",
        }
        v = float(i * 100)
        samples = []
        for t in grid:
            v += rnd.randint(0, 25)
            samples.append((t + rnd.randint(1, 999), v))
        series.append((labels, samples))
    series.append((
        {"__name__": "rpc_duration_seconds", "quantile": "0.99", "instance": "10.0.0.1:9090"},
        [(t + rnd.randint(1, 999), float("nan") if k % 3 else 0.25)
         for k, t in enumerate(grid)],
    ))
    series.append((
        {"__name__": "temperature_celsius", "instance": "10.0.0.2:9090"},
        [(t + rnd.randint(1, 999), (float("inf"), float("-inf"), -0.0, 21.5)[k % 4])
         for k, t in enumerate(grid)],
    ))
    series.append((
        {"__name__": "build_info", "version": "2.45.0"},  # no instance label
        [(t + rnd.randint(1, 999), 1.0) for t in grid[:20]],
    ))
    series.append((
        {"__name__": "scrape_gap", "instance": "10.0.0.0:9090"},
        [(SYNTH_T0, 1.0), (SYNTH_T0 + 15_000, 2.0), (SYNTH_T0 + (1 << 40), 3.0),
         (SYNTH_T0 + (1 << 40) + 15_000, 4.0)],
    ))
    return series


@pytest.fixture(scope="session")
def synthetic_series():
    return _synthetic_series()


@pytest.fixture(scope="session")
def synthetic_block(tmp_path_factory, synthetic_series):
    """A TSDB block of ``synthetic_series`` written by
    ``tsdb_block.write_block`` (one XOR chunk per series)."""
    from tsdb_parquet_spark.tsdb_block import write_block

    d = str(tmp_path_factory.mktemp("tsdb") / "01SYNTHETICBLOCK0000000000")
    write_block(d, synthetic_series)
    return d
