"""``session.get_spark`` in a fresh process: executor Python workers import
the engine whatever the working directory and ``PYTHONPATH``, and building a
PromQL plan neither captures PySpark call sites (no IPython import) nor
spends hundreds of Py4J round trips on it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

# run from an empty directory with PYTHONPATH unset: the script puts the
# checkout on its own sys.path, as an application importing the engine does
_SCRIPT = r"""
import json, os, shutil, sys
sys.path.insert(0, sys.argv[1])
import py4j.clientserver, py4j.java_gateway

sends = [0]
for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
    def counting(self, command, _send=cls.send_command):
        # not counted: releases of Python-collected JVM references ("m d"),
        # which arrive whenever earlier objects die
        sends[0] += not command.startswith("m\nd\n")
        return _send(self, command)
    cls.send_command = counting

import pyarrow as pa
from tsdb_parquet_spark.promql_expr import query_range
from tsdb_parquet_spark.session import get_spark
from tsdb_parquet_spark.tables import TSDB_PATH
from tsdb_parquet_spark.timeseries import load_tsdb

spark = get_spark(master="local[1]", shuffle_partitions=1)
out = {}

# a block_ingest-shaped table and range query: partitions of the fixture
for b in range(2):
    os.makedirs(f"t/blk={b:05d}")
    shutil.copy(TSDB_PATH, f"t/blk={b:05d}/part-0.parquet")
expr = 'sum by (handler) (rate(prometheus_http_requests_total{code="200"}[1m]))'
for _ in range(2):  # the second plan is the warm one
    df = load_tsdb(spark, "t")
    sends[0] = 0
    query_range(df, expr, 1679382539083, 1679385599999, 15_000)
    out["plan_sends"] = sends[0]
out["ipython"] = "IPython" in sys.modules

def where(batches):  # a local closure: pickled by value
    import tsdb_parquet_spark
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{"pkg": os.path.dirname(tsdb_parquet_spark.__file__)}])

try:
    out["worker_pkg"] = spark.range(1, numPartitions=1).mapInArrow(where, "pkg string").first().pkg
except Exception as e:
    out["worker_pkg"] = f"failed: {str(e)[:2000]}"
print("RESULT " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def fresh_session(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("elsewhere")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", _SCRIPT, str(REPO)], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_executor_workers_import_the_engine_from_any_directory(fresh_session):
    assert fresh_session["worker_pkg"] == str(REPO / "tsdb_parquet_spark")


def test_promql_plan_without_call_site_capture(fresh_session):
    assert not fresh_session["ipython"]
    # 350 Py4J sends besides reference releases; 960 with call-site capture on
    assert fresh_session["plan_sends"] <= 400
