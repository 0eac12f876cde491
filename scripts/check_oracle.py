"""Local mirror of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark at sf0.01, run the matching
``oracle_sql()`` on DuckDB over the same parquet, and compare row count,
column names, and an order-insensitive value hash.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tsdb_parquet_spark.session import get_spark  # noqa: E402
from tsdb_parquet_spark.tables import TABLE_NAMES, table_path  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _family(type_str: str) -> str:
    """Coarse type family for width-aware schema comparison.

    The driver's value hash is WIDTH-SENSITIVE: DuckDB HUGEINT (an
    uncasted SUM(BIGINT)) arrives as Arrow decimal128(38,0) and hashes
    differently from Spark's bigint even when every value is equal
    (q92b r7, q104/q106 r8).  ``_norm``'s str() view is blind to that,
    so we compare type families out-of-band and fail on any divergence.
    """
    t = type_str.lower()
    if "hugeint" in t or "int128" in t:
        return "int128"
    if "decimal" in t or "numeric" in t:
        return "decimal"
    if any(k in t for k in ("tinyint", "smallint", "bigint", "int", "long", "short", "byte", "uint")):
        return "int"
    if any(k in t for k in ("float", "double", "real", "halffloat")):
        return "float"
    if "bool" in t:
        return "bool"
    if "timestamp" in t:
        return "timestamp"
    if "date" in t:
        return "date"
    if any(k in t for k in ("string", "varchar", "utf8", "char", "text")):
        return "str"
    if any(k in t for k in ("binary", "blob", "bytes")):
        return "binary"
    return "nested"


def schema_families(sdf, arrow_schema) -> list[str]:
    """Return per-column family mismatches between a Spark DataFrame
    and a DuckDB-result Arrow schema (matched by column name)."""
    sfam = {f.name: _family(f.dataType.simpleString()) for f in sdf.schema.fields}
    problems = []
    for field in arrow_schema:
        of = _family(str(field.type))
        sf = sfam.get(field.name)
        if sf is not None and sf != of:
            problems.append(f"type width {field.name}: spark={sf} oracle={of} ({field.type})")
    return problems


def digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    t_start = time.time()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if "/" not in a)

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS" if len(srows) >= 0 else "FAIL"
            print(f"{status}  {name}: rows={len(srows)} cols={scols} ({time.time()-t0:.1f}s) [no oracle]")
            n_rows_only += 1
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
            ocols = otbl.column_names
            orows = [tuple(d.values()) for d in otbl.to_pylist()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue

        problems = schema_families(sdf, otbl.schema)
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            hs, ho = digest(scols, srows), digest(ocols, orows)
            if hs != ho:
                problems.append(f"hash {hs} != {ho}")
                # show first diff for debugging
                sset = {tuple(_norm(v) for v in r) for r in srows}
                oset = {tuple(_norm(v) for v in r) for r in orows}
                s_only = list(sset - oset)[:2]
                o_only = list(oset - sset)[:2]
                if s_only:
                    problems.append(f"spark-only: {s_only}")
                if o_only:
                    problems.append(f"oracle-only: {o_only}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(str(p) for p in problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
          f"in {time.time() - t_start:.1f} s")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
