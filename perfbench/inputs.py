"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed (and of the committed
``data/tsdb.parquet`` fixture, which is part of the checkout): the same
seed always yields the same tables, blocks and op decks.  The program
under test only ever receives what these functions produce.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-ish star schema + events/documents/embeddings (analytics_mix)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "cold"]
PART_NOUN = ["widget", "ring", "plate", "rod", "bolt", "gizmo", "anvil", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# rows per table; dimension tables stay fixed like TPC-H at any scale
SCALES = {
    "small": dict(customer=1500, supplier=100, part=2000, orders=15000,
                  events=10000, users=150, documents=500, embeddings=500),
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500,
                 events=1000, users=15, documents=60, embeddings=60),
}

_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: dt.date, n_days: int, size: int) -> np.ndarray:
    epoch = (start - dt.date(1970, 1, 1)).days
    return (epoch + rng.integers(0, n_days, size)).astype("int64") * _DAY_US


def analytics_tables(seed: int, scale: str = "small") -> dict[str, pa.Table]:
    """The ten tables the analytics entries read, shaped like the driver's
    sf test data (same names, types, key relationships and value ranges)."""
    n = SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    odate = _days(rng, dt.date(1995, 1, 1), 2404, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype("float64")
    perm = rng.permutation(nl)  # the driver's lineitem is not key-ordered
    li = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": lnum.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": np.repeat(odate, lines) + rng.integers(1, 122, nl) * _DAY_US,
    }
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(li["l_orderkey"][perm], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"][perm], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"][perm], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"][perm], pa.int32()),
        "l_quantity": li["l_quantity"][perm],
        "l_extendedprice": li["l_extendedprice"][perm],
        "l_discount": li["l_discount"][perm],
        "l_tax": li["l_tax"][perm],
        "l_returnflag": li["l_returnflag"][perm].tolist(),
        "l_linestatus": li["l_linestatus"][perm].tolist(),
        "l_shipdate": pa.array(li["l_shipdate"][perm], ts),
    })
    ne = n["events"]
    t0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    ev_ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Prometheus TSDB fixture vocabulary and blocks (block_ingest)
# ---------------------------------------------------------------------------

FIXTURE_LABELS = ["name", "instance", "job", "quantile", "handler", "code"]
SCRAPE_MS = 15_000


def fixture_vocabulary(fixture_path: str) -> list[dict[str, str]]:
    """The fixture's distinct label sets as Prometheus label dicts
    (``__name__`` for the metric), sorted for a stable order."""
    cols = [f"label_{c}" for c in FIXTURE_LABELS]
    distinct = pq.read_table(fixture_path, columns=cols).group_by(cols).aggregate([])
    rows = zip(*(distinct.column(c).to_pylist() for c in cols))
    return [
        {("__name__" if k == "name" else k): v for k, v in zip(FIXTURE_LABELS, row) if v is not None}
        for row in sorted(rows, key=lambda r: tuple(v or "" for v in r))
    ]


def is_counter(metric: str) -> bool:
    return metric.endswith(("_total", "_count", "_sum"))


def block_series(
    seed: int, index: int, vocab: list[dict[str, str]], t0_ms: int, n_samples: int,
) -> list[tuple[dict[str, str], list[tuple[int, float]]]]:
    """Samples for block ``index``: every series of ``vocab`` scraped every
    15 s over ``[t0_ms + index * n_samples * 15 s, ...)``.  Scrape times
    carry 1-999 ms of jitter, so no sample ever sits on a whole-second step
    boundary and range-window edge conventions cannot change an answer.
    Counters grow monotonically across blocks; gauges have 3 decimals."""
    rng = np.random.default_rng([seed, 2, index])
    base = t0_ms + index * n_samples * SCRAPE_MS
    grid = base + np.arange(n_samples, dtype="int64") * SCRAPE_MS
    out = []
    for s, labels in enumerate(vocab):
        t = grid + rng.integers(1, 1000, n_samples)
        if is_counter(labels["__name__"]):
            # < 25 per scrape, so a counter never drops across blocks
            start = float(s * 1000 + index * n_samples * 25)
            v = start + np.cumsum(rng.integers(0, 25, n_samples)).astype("float64")
        else:
            v = np.round(rng.normal(100.0, 10.0, n_samples), 3)
        out.append((labels, list(zip(t.tolist(), v.tolist()))))
    return out


# ---------------------------------------------------------------------------
# Op decks
# ---------------------------------------------------------------------------

def shuffled(seed: int, pass_no: int, items: list) -> list:
    """A seeded permutation of ``items`` for one pass."""
    out = list(items)
    random.Random(f"{seed}:{pass_no}").shuffle(out)
    return out
