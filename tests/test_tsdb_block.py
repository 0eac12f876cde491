"""Prometheus TSDB block reader (R1-R3 parity).

Most tests run on a synthetic block written by ``tsdb_block.write_block``
(the ``synthetic_block`` fixture): NaN and ±Inf samples, a series lacking a
label, jittered timestamps and a 64-bit delta-of-delta.  The tests marked
``needs_reference`` decode the reference's own committed block
(``BLOCK``, ULID 01GW1T7K3E9F9R361GDPVH8NZF) and check it against the
block's meta.json, which the reference itself trusts (hello.go:50-74
openBlock, hello.go:480-510 sample loop); they skip where that block is
absent."""

from __future__ import annotations

import glob
import importlib.util
import math
import os
import shutil
import struct
from pathlib import Path

import pytest

from tsdb_parquet_spark import tsdb_block as tb

REPO = Path(__file__).resolve().parents[1]
BLOCK = "/root/reference/01GW1T7K3E9F9R361GDPVH8NZF"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(BLOCK), reason="reference block not present"
)

# check_oracle.digest of the synthetic block's rows, as written by the
# row-per-sample pandas ingest path this module's Arrow path replaced
SYNTHETIC_DIGEST = "52b51685ee70f0b4"


def _bits(samples):
    """(t, float bits) pairs, so NaN, -0.0 and 0.0 compare exactly."""
    return [(t, struct.pack(">d", v)) for t, v in samples]


def _wide_rows(series, cols):
    """The wide layout's rows of ``series``, one per sample, built the way
    the old row-per-sample ingest did: an independent oracle."""
    rows = []
    for labels, samples in series:
        lc = {tb._col_name(k): v for k, v in labels.items()}
        for t, v in sorted(samples):
            rows.append(tuple(t if c == "time" else v if c == "value" else lc.get(c)
                              for c in cols))
    return rows


def _digest(cols, rows) -> str:
    spec = importlib.util.spec_from_file_location(
        "tsdb_test_check_oracle", REPO / "scripts" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.digest(cols, rows)


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def test_crc32c_known_vector():
    # the Castagnoli check value from the CRC catalogue
    assert tb.crc32c(b"123456789") == 0xE3069283


@needs_reference
def test_read_index_counts_and_labels():
    series = tb.read_index(os.path.join(BLOCK, "index"))
    meta = tb.block_meta(BLOCK)
    assert len(series) == meta["stats"]["numSeries"] == 767
    assert sum(len(s.chunk_refs) for s in series) == meta["stats"]["numChunks"]
    # every series carries the scrape-target labels
    for s in series:
        assert "__name__" in s.labels
        assert s.labels.get("job") == "prometheus"


@needs_reference
def test_decode_matches_meta_json():
    meta = tb.block_meta(BLOCK)
    n_samples = 0
    tmin, tmax = None, None
    for _labels, samples in tb.read_block(BLOCK):
        n_samples += len(samples)
        for t, _ in samples:
            tmin = t if tmin is None else min(tmin, t)
            tmax = t if tmax is None else max(tmax, t)
    assert n_samples == meta["stats"]["numSamples"] == 154529
    assert tmin == meta["minTime"]
    # maxTime in meta.json is exclusive (rounded up to the block boundary)
    assert tmax < meta["maxTime"]
    assert tmax >= meta["maxTime"] - 15_000  # within one scrape interval


@needs_reference
def test_up_series_is_reference_query_target():
    # hello.go:517's exact matchers: up{instance="localhost:9090",job="prometheus"}
    ups = [
        s
        for l, s in tb.read_block(BLOCK)
        if l.get("__name__") == "up"
        and l.get("instance") == "localhost:9090"
        and l.get("job") == "prometheus"
    ]
    assert len(ups) == 1
    samples = ups[0]
    assert all(v in (0.0, 1.0) for _, v in samples)  # `up` is a 0/1 gauge
    ts = [t for t, _ in samples]
    assert ts == sorted(ts)


@needs_reference
def test_ingest_reference_block_roundtrip(spark, tmp_path):
    out = str(tmp_path / "block_pq")
    n = tb.ingest_block(spark, BLOCK, out, num_files=2)
    assert n == 154529
    df = spark.read.parquet(out)
    assert df.count() == 154529
    # the reference's literal query shape works on the ingested table
    got = (
        df.filter(
            (df.label_name == "up")
            & (df.label_instance == "localhost:9090")
            & (df.label_job == "prometheus")
        ).count()
    )
    assert got == 209


def test_read_block_matches_generated(synthetic_block, synthetic_series):
    got = {tuple(sorted(l.items())): s for l, s in tb.read_block(synthetic_block)}
    assert len(got) == len(synthetic_series)
    for labels, samples in synthetic_series:
        assert _bits(got[tuple(sorted(labels.items()))]) == _bits(sorted(samples))


def _corrupt(block: str, dst: Path, name: str, offset: int) -> str:
    shutil.copytree(block, dst)
    f = dst / name
    data = bytearray(f.read_bytes())
    data[offset] ^= 0xFF
    f.write_bytes(data)
    return str(dst)


def test_chunk_crc_detected(synthetic_block, tmp_path):
    # corrupt one byte of the chunks segment -> CRC must fail loudly
    blk = _corrupt(synthetic_block, tmp_path / "block", "chunks/000001", 100)
    with pytest.raises(ValueError, match="chunk CRC"):
        for _ in tb.read_block(blk):
            pass
    with pytest.raises(ValueError, match="chunk CRC"):
        tb.block_to_arrow(blk)


def test_index_crcs_detected(synthetic_block, tmp_path):
    # the TOC, the symbol table and every series entry carry their own CRC
    index = Path(synthetic_block, "index").read_bytes()
    toc = tb._read_toc(index)
    first_series = (toc["series"] + 15) // 16 * 16
    for where, offset, match in (
        ("toc", len(index) - 20, "TOC CRC"),
        ("symbols", toc["symbols"] + 9, "symbol table CRC"),
        ("series", first_series + 2, "series entry CRC"),
    ):
        blk = _corrupt(synthetic_block, tmp_path / where, "index", offset)
        with pytest.raises(ValueError, match=match):
            tb.read_index(os.path.join(blk, "index"))


def test_block_to_arrow_columns(synthetic_block, synthetic_series):
    tbl = tb.block_to_arrow(synthetic_block)
    cols = tbl.column_names
    assert cols == ["time", "value", "label_code", "label_handler", "label_instance",
                    "label_name", "label_quantile", "label_version"]
    assert not tbl.schema.field("value").nullable
    assert tbl.column("value").null_count == 0  # NaN samples stay NaN
    want = _wide_rows(synthetic_series, cols)
    got = list(zip(*[c.to_pylist() for c in tbl.columns]))
    key = lambda r: (r[0], struct.pack(">d", r[1]), *(x or "" for x in r[2:]))  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    # the series without an instance label reads back as null there
    names = tbl.column("label_name").to_pylist()
    inst = tbl.column("label_instance").to_pylist()
    assert {i for n, i in zip(names, inst) if n == "build_info"} == {None}


def test_block_to_arrow_filters(synthetic_block, synthetic_series):
    # series filter and chunk pruning skip whole series / chunks; the
    # requested column order and a label the block lacks are honoured
    cols = ["label_name", "value", "time", "label_zone"]
    tbl = tb.block_to_arrow(
        synthetic_block,
        columns=cols,
        keep_series=lambda labels: labels.get("code") == "500",
    )
    assert tbl.column_names == cols
    assert set(tbl.column("label_zone").to_pylist()) == {None}
    assert tbl.num_rows == sum(len(s) for l, s in synthetic_series if l.get("code") == "500")
    assert tb.block_to_arrow(synthetic_block, keep_chunk=lambda lo, hi: False).num_rows == 0


def test_ingest_block_roundtrip(spark, synthetic_block, synthetic_series, tmp_path):
    out = str(tmp_path / "block_pq")
    n = tb.ingest_block(spark, synthetic_block, out, num_files=2)
    total = sum(len(s) for _, s in synthetic_series)
    assert n == total
    df = spark.read.parquet(out)
    assert df.count() == total
    got = df.filter(
        (df.label_name == "http_requests_total")
        & (df.label_instance == "10.0.0.1:9090")
        & (df.label_code == "500")
    ).count()
    assert got == 60 * 2  # handlers /api/v1 and /api/v3


def test_ingest_block_layout_contract(spark, synthetic_block, synthetic_series, tmp_path):
    """The driver-resident Arrow write keeps the sorted layout's contract:
    the same rows as the old pandas path, num_files files each sorted by
    (time, labels nulls-first) with ordered disjoint time ranges, the same
    Parquet schema (``value`` required), NaN stored as NaN and ``time``
    delta-encoded."""
    import pyarrow.parquet as pq

    total = sum(len(s) for _, s in synthetic_series)
    parallelism = spark.sparkContext.defaultParallelism
    for num_files in (1, 4, 7, 2 * parallelism):
        out = str(tmp_path / f"files_{num_files}")
        assert tb.ingest_block(spark, synthetic_block, out, num_files=num_files) == total
        files = _parquet_files(out)
        assert len(files) == num_files

        tables = [pq.read_table(f) for f in files]
        cols = tables[0].column_names
        labels = [c for c in cols if c.startswith("label_")]
        prev_hi = None
        for t in tables:
            times = t.column("time").to_pylist()
            lab = [t.column(c).to_pylist() for c in labels]
            keys = [(tt, *[(x is not None, x or "") for x in r])
                    for tt, *r in zip(times, *lab)]
            assert keys == sorted(keys)  # time, then each label nulls-first
            if prev_hi is not None:
                assert prev_hi <= times[0]
            prev_hi = times[-1]

        rows = [r for t in tables for r in zip(*[c.to_pylist() for c in t.columns])]
        assert _digest(cols, rows) == _digest(cols, _wide_rows(synthetic_series, cols))
        assert _digest(cols, rows) == SYNTHETIC_DIGEST

        for f in files:
            schema = pq.ParquetFile(f).schema
            assert [
                (c.name, c.physical_type, c.max_definition_level)
                for c in map(schema.column, range(len(schema)))
            ] == [
                ("time", "INT64", 1), ("value", "DOUBLE", 0),  # value required
                *[(c, "BYTE_ARRAY", 1) for c in labels],
            ]
            md = pq.ParquetFile(f).metadata
            time_encodings = {
                e for g in range(md.num_row_groups) for e in md.row_group(g).column(0).encodings
            }
            assert "DELTA_BINARY_PACKED" in time_encodings

        values = [v for t in tables for v in t.column("value").to_pylist()]
        assert sum(t.column("value").null_count for t in tables) == 0
        nan_want = sum(1 for _, s in synthetic_series for _, v in s if math.isnan(v))
        assert sum(1 for v in values if math.isnan(v)) == nan_want > 0


def test_ingest_blocks_distributed(spark, synthetic_block, synthetic_series, tmp_path):
    # two copies of the same block through the mapInArrow fan-out path:
    # per-block tasks, union schema, 2x the samples, NaN kept as NaN
    out = str(tmp_path / "blocks_pq")
    n = tb.ingest_blocks(spark, [synthetic_block, synthetic_block], out, num_files=2)
    total = sum(len(s) for _, s in synthetic_series)
    assert n == 2 * total
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    for f in _parquet_files(out):  # value required, as on the single-block path
        assert pq.ParquetFile(f).schema.column(1).max_definition_level == 0
    nan = spark.read.parquet(out).filter(F.isnan("value")).count()
    assert nan == 2 * sum(1 for _, s in synthetic_series for _, v in s if math.isnan(v))


def test_committed_fixture_matches_block():
    # data/tsdb_block is the committed ingest artifact q56 queries; it must
    # stay in sync with the block bytes
    import duckdb

    path = REPO / "data" / "tsdb_block"
    if not path.is_dir():
        pytest.skip("committed ingest artifact absent")
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}/part-*.parquet')"
    ).fetchone()[0]
    assert n == 154529


def test_block_writer_reader_roundtrip(tmp_path):
    # random-walk series with counter resets, negative dods, repeated
    # values: exercises every XOR/dod encoding branch
    import random

    rnd = random.Random(13)
    series = []
    for s in range(20):
        t = 1_600_000_000_000 + rnd.randint(0, 5000)
        v = float(rnd.randint(0, 100))
        samples = []
        for _ in range(rnd.randint(1, 300)):
            samples.append((t, v))
            t += rnd.choice([15_000, 15_007, 14_993, 60_000, 1])
            r = rnd.random()
            if r < 0.3:
                pass  # repeated value
            elif r < 0.9:
                v += rnd.choice([1.0, -1.0, 0.5, 1e-9, 1e9])
            else:
                v = 0.0  # counter reset
        series.append(({"__name__": f"m{s}", "instance": f"i{s % 3}"}, samples))

    blk = str(tmp_path / "synth_block")
    tb.write_block(blk, series)
    got = {tuple(sorted(l.items())): s for l, s in tb.read_block(blk)}
    for labels, samples in series:
        key = tuple(sorted(labels.items()))
        assert got[key] == sorted(samples), f"mismatch for {labels}"
    meta = tb.block_meta(blk)
    assert meta["stats"]["numSeries"] == 20


def test_xor_chunk_encoder_edge_values():
    nan = struct.unpack(">d", bytes.fromhex("7ff8000000000001"))[0]  # payload bits
    cases = [
        [],
        [(0, 1.5)],
        [(0, 0.0), (1, 0.0)],
        [(0, float("inf")), (15_000, float("-inf")), (30_000, 1e-300)],
        [(0, 1.0), (1 << 40, 2.0)],  # 64-bit dod path
        [(0, 1.0), (10, 1.0), (10 + (1 << 40), 2.0), (20 + (1 << 40), 2.0)],
        [(0, -0.0), (10, 0.0), (20, -0.0)],
        [(0, float("nan")), (15_000, 1.0), (30_000, nan), (45_000, nan)],
    ]
    for samples in cases:
        assert _bits(tb.decode_xor_chunk(tb.encode_xor_chunk(samples))) == _bits(samples)


def test_xor_dod_bucket_quirk():
    """Prometheus's delta-of-delta range test: a raw n-bit value strictly
    greater than 2^(n-1) wraps negative, so raw 2^(n-1) decodes to
    +2^(n-1) and raw 2^(n-1)+1 to -(2^(n-1)-1)."""
    for prefix, sz in ((0b10, 14), (0b110, 17), (0b1110, 20)):
        for raw, dod in ((1 << (sz - 1), 1 << (sz - 1)),
                         ((1 << (sz - 1)) + 1, (1 << (sz - 1)) + 1 - (1 << sz)),
                         ((1 << sz) - 1, -1)):
            w = tb._BitWriter()
            w.write_uvarint(1_000)  # second sample: t delta 1000
            w.write_bit(0)  # value unchanged
            w.write_bits(prefix, prefix.bit_length())
            w.write_bits(raw, sz)
            w.write_bit(0)
            payload = struct.pack(">H", 3) + tb._varint_bytes(5) + struct.pack(">d", 2.0)
            got = tb.decode_xor_chunk(payload + bytes(w.buf))
            assert got == [(5, 2.0), (1_005, 2.0), (2_005 + dod, 2.0)], (sz, raw)


def test_xor_chunk_roundtrip_property():
    """Property: decode(encode(s)) == s for ANY sorted sample run —
    arbitrary time gaps (delta-of-delta buckets incl. the 64-bit path)
    and full-float values (subnormals, ±inf, ±0.0, NaN, huge exponents),
    compared bit for bit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    times = st.lists(
        st.integers(min_value=0, max_value=1 << 41), min_size=0, max_size=200,
        unique=True,
    ).map(sorted)
    value = st.floats(allow_nan=True, width=64)

    @settings(max_examples=200, deadline=None)
    @given(st.data())
    def run(data):
        ts = data.draw(times)
        vs = [data.draw(value) for _ in ts]
        samples = list(zip(ts, vs))
        assert _bits(tb.decode_xor_chunk(tb.encode_xor_chunk(samples))) == _bits(samples)

    run()


def test_multi_block_ingest_distinct_blocks(spark, synthetic_block, synthetic_series, tmp_path):
    # the synthetic block + a block with DIFFERENT label names: union
    # schema, both decode in executor tasks
    synth = str(tmp_path / "b2")
    tb.write_block(
        synth,
        [({"__name__": "synthetic_metric", "zone": "z1"},
          [(1_700_000_479_083 + i * 15_000, float(i)) for i in range(100)])],
    )
    out = str(tmp_path / "multi_pq")
    n = tb.ingest_blocks(spark, [synthetic_block, synth], out, num_files=2)
    total = sum(len(s) for _, s in synthetic_series)
    assert n == total + 100
    df = spark.read.parquet(out)
    assert "label_zone" in df.columns and "label_handler" in df.columns
    assert df.filter(df.label_name == "synthetic_metric").count() == 100


def test_cli_ingest_tsdb_multi_block(spark, synthetic_block, synthetic_series, tmp_path, capsys):
    # argparse: blocks(nargs='+') followed by dest must split correctly
    from tsdb_parquet_spark.cli import main

    synth = str(tmp_path / "blk2")
    tb.write_block(
        synth,
        [({"__name__": "cli_metric", "dc": "d1"},
          [(1_700_000_479_083 + i * 1000, float(i)) for i in range(50)])],
    )
    total = sum(len(s) for _, s in synthetic_series) + 50
    dest = str(tmp_path / "cli_multi")
    main(["ingest-tsdb", synthetic_block, synth, dest, "--files", "2"])
    out = capsys.readouterr().out
    assert f"{total} rows" in out
    assert spark.read.parquet(dest).count() == total


def test_cli_ingest_tsdb_single_block_default_one_file(spark, synthetic_block, tmp_path):
    # one block is decoded on the driver; without --files it writes one file
    from tsdb_parquet_spark.cli import main

    dest = str(tmp_path / "cli_single")
    main(["ingest-tsdb", synthetic_block, dest])
    assert len(_parquet_files(dest)) == 1
