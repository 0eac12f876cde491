"""Pure-Python Prometheus TSDB block reader → sorted wide Parquet layout.

The reference's FIRST pipeline stage opens an on-disk Prometheus TSDB block
and iterates every series/sample into its table
(``/root/reference/hello.go:50-74`` openBlock via ``tsdb.OpenDBReadOnly``,
``hello.go:480-510`` the per-series sample loop).  It leans on the Prometheus
Go libraries; this module reimplements just enough of the two on-disk
formats — both publicly documented in the Prometheus repository
(``tsdb/docs/format/index.md`` and ``tsdb/docs/format/chunks.md``) — in
dependency-free Python so the engine can ingest the reference's own
committed block (``01GW1T7K3E9F9R361GDPVH8NZF``: 767 series / 154,529
samples per its meta.json) byte-for-byte:

- **index** (format v2): TOC from the last 52 bytes; symbol table
  (length-prefixed uvarint strings); 16-byte-aligned series section, each
  entry = labels as symbol-ref pairs + per-chunk (mint, maxt, ref) metas.
- **chunks segments**: ``chunks/NNNNNN`` files; a chunk ref is
  (segment << 32 | offset); each chunk = uvarint data-len + encoding byte
  (1 = XOR) + payload + CRC32-Castagnoli.
- **XOR (Gorilla) payload**: uint16 sample count; first sample varint
  timestamp + raw float64 bits; second sample uvarint time-delta; then
  delta-of-delta timestamps in {0, 14, 17, 20, 64}-bit buckets and
  leading/trailing-window XOR'd values — MSB-first bit stream, read a
  word at a time (the payload is one Python int; each field is one
  shift-and-mask), with Prometheus's dod bucket quirk kept bit for bit.

CRCs (Castagnoli, not IEEE) are verified for every chunk, the index TOC,
the symbol table and every series entry, so corruption fails loudly rather
than producing wrong samples.

A block decodes straight into one wide ``pyarrow.Table``
(``block_to_arrow``): ``time`` and ``value`` columns filled from the
decoded samples, each label column the series' value repeated over its
rows with one ``take``, every chunk segment read once.  That one assembler
serves all three paths:

- ``ingest_block`` decodes one block on the driver (a block is bounded:
  Prometheus compacts to ≤ 512 MB segments) and hands the table to
  ``writer.write_sorted``, which sorts it in Arrow and writes it in one
  Spark job;
- ``ingest_blocks`` fans a directory of N blocks out block-per-task through
  ``mapInArrow``, so each executor decodes its own blocks and the result
  flows into ``writer.write_sorted``'s range-partitioned recipe without
  ever landing on the driver — the reference's single-process loop,
  distributed;
- ``datasource.TsdbBlockReader`` (``format("tsdb")``) yields the table's
  batches for each (block, series range) slice, with its pushed series
  filter and chunk time pruning.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass
from typing import Callable, Iterator

# ---------------------------------------------------------------------------
# CRC32-Castagnoli (the TSDB checksum; zlib.crc32 is IEEE so unusable here)

_CRC32C_TABLE = []


def _crc32c_table() -> list[int]:
    if not _CRC32C_TABLE:
        poly = 0x82F63B78  # reversed Castagnoli
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            _CRC32C_TABLE.append(c)
    return _CRC32C_TABLE


def crc32c(data: bytes) -> int:
    table = _crc32c_table()
    c = 0xFFFFFFFF
    for b in data:
        c = table[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# varint / bitstream primitives

def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    u, pos = _uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos  # zigzag


# ---------------------------------------------------------------------------
# XOR (Gorilla) chunk decode — the Python twin of the iterator the reference
# drives at hello.go:489-497 (`it.Next() == chunkenc.ValFloat; it.At()`).
#
# The MSB-first bit stream after the second sample's time delta is read a
# word at a time: the whole remainder is one Python int, and ``left`` counts
# the bits still to the right of the cursor, so reading ``n`` bits is
# ``left -= n; (word >> left) & mask``.  Eight zero bytes of padding let the
# fixed-width prefix peeks below run past the last sample's final bit.  The
# consumed high bits are masked off every ~1 KiB of stream, so a shift never
# costs more than that however long the chunk is.

def decode_xor_chunk(data: bytes) -> list[tuple[int, float]]:
    """Decode one XOR chunk payload into [(timestamp_ms, value), ...]."""
    num = (data[0] << 8) | data[1]
    if num == 0:
        return []
    t, pos = _varint(data, 2)
    vbits = int.from_bytes(data[pos : pos + 8], "big")
    if num == 1:
        return [(t, struct.unpack_from(">d", data, pos)[0])]
    # second sample: plain uvarint time delta — byte-aligned here by
    # construction (varint t + 64 value bits fill whole bytes)
    t_delta, pos = _uvarint(data, pos + 8)
    word = int.from_bytes(data[pos:] + bytes(8), "big")
    left = top = (len(data) - pos + 8) * 8

    ts = [t]
    vs = [vbits]
    leading = trailing = 0
    for i in range(1, num):
        if top - left > 8192:
            word &= (1 << left) - 1
            top = left
        if i > 1:
            # delta-of-delta: prefix '0' | '10' 14 bits | '110' 17 bits |
            # '1110' 20 bits | '1111' 64 bits, peeked as one 4-bit window
            prefix = (word >> (left - 4)) & 0xF
            if prefix < 0b1000:
                left -= 1
            else:
                if prefix < 0b1100:
                    left -= 2
                    sz = 14
                elif prefix < 0b1110:
                    left -= 3
                    sz = 17
                else:
                    left -= 4
                    sz = 20 if prefix == 0b1110 else 64
                left -= sz
                dod = (word >> left) & ((1 << sz) - 1)
                if sz == 64:
                    if dod >= 1 << 63:
                        dod -= 1 << 64
                elif dod > 1 << (sz - 1):
                    # Prometheus's in-range test: a raw value strictly
                    # greater than 2^(n-1) wraps negative, so -2^(n-1) and
                    # +2^(n-1) share an encoding
                    dod -= 1 << sz
                t_delta += dod
        t += t_delta
        ts.append(t)

        # value: Gorilla XOR — '0' same value, '10' reuse the previous
        # leading/trailing window, '11' + 5 bits leading + 6 bits length
        ctrl = (word >> (left - 2)) & 0b11
        if ctrl < 0b10:
            left -= 1
        else:
            left -= 2
            if ctrl == 0b11:
                left -= 11
                head = (word >> left) & 0x7FF
                leading = head >> 6
                mbits = (head & 0x3F) or 64
                trailing = 64 - leading - mbits
            else:
                mbits = 64 - leading - trailing
            left -= mbits
            vbits ^= ((word >> left) & ((1 << mbits) - 1)) << trailing
        vs.append(vbits)
    return list(zip(ts, struct.unpack(f">{num}d", struct.pack(f">{num}Q", *vs))))


# ---------------------------------------------------------------------------
# index + chunks parsing

@dataclass
class SeriesEntry:
    labels: dict[str, str]
    chunk_refs: list[tuple[int, int, int]]  # (mint, maxt, ref)


def _read_toc(index: bytes) -> dict[str, int]:
    toc = index[-52:]
    if crc32c(toc[:-4]) != struct.unpack(">I", toc[-4:])[0]:
        raise ValueError("index TOC CRC mismatch")
    names = ("symbols", "series", "label_indices", "label_offset_table",
             "postings", "postings_offset_table")
    vals = struct.unpack(">6Q", toc[:-4])
    return dict(zip(names, vals))


def read_index(path: str) -> list[SeriesEntry]:
    """Parse symbols + the series section of a TSDB index file (v2)."""
    with open(path, "rb") as f:
        index = f.read()
    if index[:4] != b"\xba\xaa\xd7\x00":
        raise ValueError("not a TSDB index file (bad magic)")
    version = index[4]
    if version != 2:
        raise ValueError(f"unsupported index version {version} (want 2)")
    toc = _read_toc(index)

    # symbol table: u32 len + u32 count + count * (uvarint len + bytes)
    spos = toc["symbols"]
    slen, count = struct.unpack_from(">II", index, spos)
    payload = index[spos + 4 : spos + 4 + slen]
    if crc32c(payload) != struct.unpack_from(">I", index, spos + 4 + slen)[0]:
        raise ValueError("symbol table CRC mismatch")
    symbols: list[str] = []
    pos = spos + 8
    for _ in range(count):
        n, pos = _uvarint(index, pos)
        symbols.append(index[pos : pos + n].decode("utf-8"))
        pos += n

    # series section: 16-byte aligned entries until the next TOC section
    out: list[SeriesEntry] = []
    pos = (toc["series"] + 15) // 16 * 16
    end = toc["label_indices"]
    while pos < end:
        length, p = _uvarint(index, pos)
        if length == 0:
            pos += 16
            continue
        body = index[p : p + length]
        if crc32c(body) != struct.unpack_from(">I", index, p + length)[0]:
            raise ValueError(f"series entry CRC mismatch at {pos}")
        out.append(_parse_series(body, symbols))
        pos = (p + length + 4 + 15) // 16 * 16
    return out


def _parse_series(body: bytes, symbols: list[str]) -> SeriesEntry:
    n_labels, pos = _uvarint(body, 0)
    labels: dict[str, str] = {}
    for _ in range(n_labels):
        nref, pos = _uvarint(body, pos)
        vref, pos = _uvarint(body, pos)
        labels[symbols[nref]] = symbols[vref]
    n_chunks, pos = _uvarint(body, pos)
    refs: list[tuple[int, int, int]] = []
    mint = maxt = ref = 0
    for i in range(n_chunks):
        if i == 0:
            mint, pos = _varint(body, pos)
            d, pos = _uvarint(body, pos)
            maxt = mint + d
            ref, pos = _uvarint(body, pos)
        else:
            d, pos = _uvarint(body, pos)
            mint = maxt + d
            d, pos = _uvarint(body, pos)
            maxt = mint + d
            d, pos = _varint(body, pos)
            ref += d
        refs.append((mint, maxt, ref))
    return SeriesEntry(labels=labels, chunk_refs=refs)


def _chunk_reader(block_dir: str) -> Callable[[int], list[tuple[int, float]]]:
    """A ``ref -> samples`` reader over one block's chunks: resolves the
    ref (segment << 32 | offset), checks the chunk's CRC and encoding and
    decodes it.  Each chunks segment file is read once, on first use."""
    segments: dict[int, bytes] = {}

    def read(ref: int) -> list[tuple[int, float]]:
        seg, off = ref >> 32, ref & 0xFFFFFFFF
        blob = segments.get(seg)
        if blob is None:
            with open(os.path.join(block_dir, "chunks", f"{seg + 1:06d}"), "rb") as f:
                blob = segments[seg] = f.read()
        dlen, p = _uvarint(blob, off)
        enc_payload = blob[p : p + 1 + dlen]
        if crc32c(enc_payload) != int.from_bytes(blob[p + 1 + dlen : p + 5 + dlen], "big"):
            raise ValueError(f"chunk CRC mismatch at ref {ref:#x}")
        if enc_payload[0] != 1:
            raise ValueError(f"unsupported chunk encoding {enc_payload[0]} (want 1 = XOR)")
        return decode_xor_chunk(enc_payload[1:])

    return read


def read_block(block_dir: str) -> Iterator[tuple[dict[str, str], list[tuple[int, float]]]]:
    """Iterate (labels, samples) per series — the reference's
    ``for sset.Next() { series.Labels(); it.Next() }`` loop
    (hello.go:480-497) over the raw block bytes."""
    read = _chunk_reader(block_dir)
    for entry in read_index(os.path.join(block_dir, "index")):
        samples: list[tuple[int, float]] = []
        for _mint, _maxt, ref in entry.chunk_refs:
            samples += read(ref)
        yield entry.labels, samples


def block_meta(block_dir: str) -> dict:
    with open(os.path.join(block_dir, "meta.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# block → wide-layout table (the reference's Data{Value, Time, LABEL} rows,
# hello.go:489-497, in this engine's label_<name> column convention)

METRIC_LABEL = "__name__"


def _col_name(label: str) -> str:
    # `__name__` → label_name, matching the engine fixture's convention
    # (gen_tsdb.py stores the metric name under `name`)
    return "label_name" if label == METRIC_LABEL else f"label_{label}"


def wide_columns(entries: list[SeriesEntry]) -> list[str]:
    """``time``, ``value``, then the sorted union of the entries' label
    columns — the wide layout's column list."""
    labels = {_col_name(k) for e in entries for k in e.labels}
    return ["time", "value", *sorted(labels)]


def wide_ddl(columns: list[str]) -> str:
    """Spark DDL schema of the wide layout's ``columns``."""
    types = {"time": "bigint", "value": "double"}
    return ", ".join(f"`{c}` {types.get(c, 'string')}" for c in columns)


def block_to_arrow(
    block_dir: str,
    columns: list[str] | None = None,
    series: list[SeriesEntry] | None = None,
    keep_series: Callable[[dict[str, str]], bool] | None = None,
    keep_chunk: Callable[[int, int], bool] | None = None,
):
    """Decode a block into one wide ``pyarrow.Table``.

    ``series`` (default: the block's whole index) are read in index order;
    ``keep_series(labels)`` and ``keep_chunk(mint, maxt)`` skip series and
    chunks without opening them.  ``columns`` (default: ``wide_columns``
    of the index) fixes the output columns in any order; a label a series
    lacks is null.  ``time`` and ``value`` are filled straight from the
    decoded samples, and each label column is its per-series values
    repeated over the series' rows with one ``take``.
    """
    import numpy as np
    import pyarrow as pa

    if series is None:
        series = read_index(os.path.join(block_dir, "index"))
    if columns is None:
        columns = wide_columns(series)
    read = _chunk_reader(block_dir)
    samples: list[tuple[int, float]] = []
    kept: list[dict[str, str]] = []  # label columns of each kept series
    counts: list[int] = []  # and its number of samples
    for e in series:
        if keep_series is not None and not keep_series(e.labels):
            continue
        n0 = len(samples)
        for mint, maxt, ref in e.chunk_refs:
            if keep_chunk is None or keep_chunk(mint, maxt):
                samples += read(ref)
        kept.append({_col_name(k): v for k, v in e.labels.items()})
        counts.append(len(samples) - n0)

    times, values = zip(*samples) if samples else ((), ())
    rows = pa.array(np.repeat(np.arange(len(kept), dtype=np.int64), counts))

    def column(c: str):
        if c == "time":
            return pa.array(times, pa.int64())
        if c == "value":
            return pa.array(values, pa.float64())
        return pa.array([labels.get(c) for labels in kept], pa.string()).take(rows)

    arrays = [column(c) for c in columns]
    # ``value`` is never null: the reference's value column is non-nullable
    # (hello.go:122-130) and NaN samples are real data
    schema = pa.schema(pa.field(c, a.type, nullable=c != "value") for c, a in zip(columns, arrays))
    return pa.Table.from_arrays(arrays, schema=schema)


def ingest_block(spark, block_dir: str, out_path: str, num_files: int | None = None) -> int:
    """Ingest ONE block into the sorted wide layout.  Single-block decode is
    driver-side (a block is bounded by construction) and the decoded table
    goes to ``writer.write_sorted`` as Arrow, which sorts it and writes it
    in one Spark job (``num_files=None`` writes one file).  Returns rows
    written."""
    from .writer import write_sorted

    table = block_to_arrow(block_dir)
    write_sorted(table, out_path, num_files=num_files)
    return table.num_rows


def ingest_blocks(spark, block_dirs: list[str], out_path: str,
                  num_files: int | None = None) -> int:
    """Ingest MANY blocks with block-per-task parallelism: a DataFrame of
    block paths fans out through ``mapInArrow`` so each executor decodes
    its own blocks with ``block_to_arrow`` — no sample bytes ever route
    through the driver.  The label-column union is resolved up front from
    the (tiny) index files so the output schema is fixed before the
    distributed decode."""
    from pyspark.sql import functions as F

    from .writer import write_sorted

    cols = wide_columns(
        [e for d in block_dirs for e in read_index(os.path.join(d, "index"))]
    )

    def _decode(batches):
        for batch in batches:
            for d in batch.column("block_dir").to_pylist():
                yield from block_to_arrow(d, columns=cols).to_batches()

    paths = spark.createDataFrame(
        [(d,) for d in block_dirs], "block_dir string"
    ).repartition(len(block_dirs))
    decoded = paths.mapInArrow(_decode, schema=wide_ddl(cols))
    # a Python function's output schema is always nullable; ``value`` is
    # never null, so declare it required (the coalesce never fires), as
    # the single-block path's Arrow schema does
    decoded = decoded.withColumn("value", F.coalesce("value", F.lit(float("nan"))))
    write_sorted(decoded, out_path, num_files=num_files)
    return spark.read.parquet(out_path).count()


# ---------------------------------------------------------------------------
# Block WRITER — the encoder inverse of the reader above.  Exists for two
# reasons: (1) round-trip tests prove the reader against an independent
# encoder rather than only against meta.json counts; (2) multi-block ingest
# can be exercised with genuinely distinct blocks.  Same public formats;
# the index writes only the sections this engine reads (symbols + series),
# with the TOC's remaining offsets pointing at the end of the series
# section (valid per format: sections may be empty).

class _BitWriter:
    """MSB-first bit writer (the inverse of ``decode_xor_chunk``'s reads)."""

    def __init__(self):
        self.buf = bytearray()
        self.bit = 0  # bits used in the last byte

    def write_bit(self, b: int) -> None:
        if self.bit == 0:
            self.buf.append(0)
        if b:
            self.buf[-1] |= 1 << (7 - self.bit)
        self.bit = (self.bit + 1) % 8

    def write_bits(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.write_bit((value >> i) & 1)

    def write_byte(self, b: int) -> None:
        self.write_bits(b, 8)

    def write_uvarint(self, v: int) -> None:
        while True:
            b = v & 0x7F
            v >>= 7
            self.write_byte(b | (0x80 if v else 0))
            if not v:
                return


def _uvarint_bytes(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


def _varint_bytes(v: int) -> bytes:
    return _uvarint_bytes((v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


def encode_xor_chunk(samples: list[tuple[int, float]]) -> bytes:
    """Encode (t, v) samples as an XOR/Gorilla chunk payload (inverse of
    ``decode_xor_chunk``)."""
    num = len(samples)
    out = bytearray(struct.pack(">H", num))
    if num == 0:
        return bytes(out)
    t0, v0 = samples[0]
    out += _varint_bytes(t0)
    out += struct.pack(">d", v0)
    if num == 1:
        return bytes(out)

    w = _BitWriter()
    prev_t, prev_v = t0, v0
    t_delta = 0
    leading, trailing = 0xFF, 0
    for i, (t, v) in enumerate(samples[1:], start=1):
        if i == 1:
            t_delta = t - prev_t
            if t_delta < 0:
                raise ValueError("samples must be time-sorted")
            w.write_uvarint(t_delta)
        else:
            dod = (t - prev_t) - t_delta
            t_delta = t - prev_t
            if dod == 0:
                w.write_bit(0)
            else:
                for prefix, sz in ((0b10, 14), (0b110, 17), (0b1110, 20)):
                    if -(1 << (sz - 1)) < dod <= (1 << (sz - 1)):
                        w.write_bits(prefix, prefix.bit_length())
                        w.write_bits(dod & ((1 << sz) - 1), sz)
                        break
                else:
                    w.write_bits(0b1111, 4)
                    w.write_bits(dod & ((1 << 64) - 1), 64)
        prev_t = t

        vbits = struct.unpack(">Q", struct.pack(">d", v))[0]
        pbits = struct.unpack(">Q", struct.pack(">d", prev_v))[0]
        xor = vbits ^ pbits
        if xor == 0:
            w.write_bit(0)
        else:
            w.write_bit(1)
            lead = min(31, 64 - xor.bit_length())
            trail = (xor & -xor).bit_length() - 1
            if leading != 0xFF and lead >= leading and trail >= trailing:
                w.write_bit(0)
                w.write_bits(xor >> trailing, 64 - leading - trailing)
            else:
                leading, trailing = lead, trail
                sigbits = 64 - leading - trailing
                w.write_bit(1)
                w.write_bits(leading, 5)
                w.write_bits(sigbits & 0x3F, 6)  # 64 encodes as 0
                w.write_bits(xor >> trailing, sigbits)
        prev_v = v
    return bytes(out) + bytes(w.buf)


def write_block(
    block_dir: str,
    series: list[tuple[dict[str, str], list[tuple[int, float]]]],
    ulid: str = "00000000000000000000000000",
) -> None:
    """Write a minimal valid TSDB block: chunks/000001 (XOR chunks, one per
    series), index v2 (symbols + series + TOC), meta.json, tombstones."""
    os.makedirs(os.path.join(block_dir, "chunks"), exist_ok=True)
    # sort series by label set (the index requires sorted series)
    series = sorted(series, key=lambda s: sorted(s[0].items()))

    # --- chunks segment
    chunk_refs: list[tuple[int, int, int]] = []
    seg = bytearray(b"\x85\xbd\x40\xdd\x01\x00\x00\x00")
    for labels, samples in series:
        samples = sorted(samples)
        payload = encode_xor_chunk(samples)
        offset = len(seg)
        enc_payload = b"\x01" + payload
        seg += _uvarint_bytes(len(payload)) + enc_payload
        seg += struct.pack(">I", crc32c(enc_payload))
        mint = samples[0][0] if samples else 0
        maxt = samples[-1][0] if samples else 0
        chunk_refs.append((mint, maxt, offset))  # segment 0 -> ref == offset
    with open(os.path.join(block_dir, "chunks", "000001"), "wb") as f:
        f.write(seg)

    # --- index
    symbols = sorted({s for labels, _ in series for kv in labels.items() for s in kv})
    sym_idx = {s: i for i, s in enumerate(symbols)}
    idx = bytearray(b"\xba\xaa\xd7\x00\x02")
    sym_payload = bytearray(struct.pack(">I", len(symbols)))
    for s in symbols:
        b = s.encode("utf-8")
        sym_payload += _uvarint_bytes(len(b)) + b
    toc_symbols = len(idx)
    idx += struct.pack(">I", len(sym_payload)) + sym_payload
    idx += struct.pack(">I", crc32c(bytes(sym_payload)))

    toc_series = len(idx)
    for (labels, _samples), (mint, maxt, ref) in zip(series, chunk_refs):
        while len(idx) % 16:
            idx.append(0)
        body = bytearray(_uvarint_bytes(len(labels)))
        for k in sorted(labels):
            body += _uvarint_bytes(sym_idx[k]) + _uvarint_bytes(sym_idx[labels[k]])
        body += _uvarint_bytes(1)  # one chunk per series
        body += _varint_bytes(mint)
        body += _uvarint_bytes(maxt - mint)
        body += _uvarint_bytes(ref)
        idx += _uvarint_bytes(len(body)) + body + struct.pack(">I", crc32c(bytes(body)))
    while len(idx) % 16:
        idx.append(0)
    toc_rest = len(idx)

    toc = struct.pack(
        ">6Q", toc_symbols, toc_series, toc_rest, toc_rest, toc_rest, toc_rest
    )
    idx += toc + struct.pack(">I", crc32c(toc))
    with open(os.path.join(block_dir, "index"), "wb") as f:
        f.write(idx)

    # --- meta.json + tombstones
    n_samples = sum(len(s) for _, s in series)
    all_t = [t for _, ss in series for t, _ in ss]
    meta = {
        "ulid": ulid,
        "minTime": min(all_t) if all_t else 0,
        "maxTime": (max(all_t) + 1) if all_t else 0,
        "stats": {"numSamples": n_samples, "numSeries": len(series),
                  "numChunks": len(series)},
        "compaction": {"level": 1, "sources": [ulid]},
        "version": 1,
    }
    with open(os.path.join(block_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent="\t")
    with open(os.path.join(block_dir, "tombstones"), "wb") as f:
        f.write(b"\x00\x00\x00\x00\x00\x00\x00\x00\x00")
