"""Regression tests for the round-3 advisor findings (ADVICE.md r3):

1. parse_selector must not mangle non-ASCII label values (unicode_escape
   round-tripped through latin-1).
2. ingest_increment must stay idempotent when key_cols excludes time.
3. promql avg must skip NULL samples in the denominator (count(v), not
   count(1)).
4. asof_join must return the matched right row's value even when it is
   NULL (DuckDB ASOF parity), not an older non-null value.
5. multimodal fake decode must be seed-independent (crc32, not builtin
   hash()).
"""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from tsdb_parquet_spark.matchers import Matcher, parse_selector


def test_parse_selector_non_ascii_value_roundtrips():
    ms = parse_selector('up{job="café",path="a\\"b\\nc"}')
    assert ms == [
        Matcher("=", "name", "up"),
        Matcher("=", "job", "café"),
        Matcher("=", "path", 'a"b\nc'),
    ]


def test_parse_selector_unknown_escape_passes_through():
    # lenient: a regex escape typed in a quoted value survives verbatim
    ms = parse_selector(r'{handler=~"/api/\d+"}')
    assert ms == [Matcher("=~", "handler", r"/api/\d+")]


def test_ingest_increment_idempotent_without_time_key(spark, tmp_path):
    from tsdb_parquet_spark.writer import ingest_increment

    p = str(tmp_path / "inc_nokey")
    base = spark.range(100).select(
        F.col("id").alias("time"), (F.col("id") % 10).alias("k"),
        F.lit(1.0).alias("value"),
    )
    assert ingest_increment(spark, base, p, key_cols=["k"]) == 100
    # same keys, times OUTSIDE the existing table's range: with the
    # fingerprint on k only, these are duplicates and must NOT append
    later = spark.range(10).select(
        (F.col("id") + 10_000).alias("time"), F.col("id").alias("k"),
        F.lit(2.0).alias("value"),
    )
    assert ingest_increment(spark, later, p, key_cols=["k"]) == 0
    assert spark.read.parquet(p).count() == 100


def test_over_time_avg_skips_nulls(spark):
    from tsdb_parquet_spark.promql import aggregate_by, over_time

    df = spark.createDataFrame(
        [(0, 4.0, "m"), (10, None, "m"), (20, 8.0, "m")],
        "time long, value double, label_name string",
    )
    row = over_time(df, "avg", 1000).collect()[0]
    assert row["avg_over_time"] == 6.0  # (4+8)/2, not (4+8)/3

    by = aggregate_by(
        df.withColumn("time", F.lit(0)), "avg", ["label_name"]
    ).collect()[0]
    assert by["avg"] == 6.0


def test_asof_join_preserves_matched_null_value(spark):
    from tsdb_parquet_spark.operators.joins import asof_join

    left = spark.createDataFrame([("k", 10), ("k", 30)], "key string, ts long")
    right = spark.createDataFrame(
        [("k", 5, 1.0), ("k", 25, None)], "key string, ts long, v double"
    )
    out = {r["ts"]: r["asof_val"] for r in
           asof_join(left, right, "key", "ts", "v").collect()}
    assert out[10] == 1.0
    # matched row at ts=25 has NULL value: the join must return NULL,
    # not carry the older 1.0 forward past it
    assert out[30] is None


def test_fake_decode_is_seed_independent(spark):
    from tsdb_parquet_spark.llm import multimodal as mm

    df = spark.createDataFrame([(1, bytearray(b"abc"))], "item_id long, content binary")
    r = mm.decode_images(df, fake=True).collect()[0]
    c = zlib.crc32(b"abc")
    assert r["width"] == (c & 0x7FF) + 1
    assert r["height"] == ((c >> 11) & 0x7FF) + 1


# ---------------------------------------------------------------------------
# Round-6 advisor findings (ADVICE.md r6)
# ---------------------------------------------------------------------------


def test_bucketed_table_cache_invalidates_on_source_change(spark, tmp_path):
    # regenerating the source parquet under the SAME path must not serve
    # the stale bucketed table (the r6 medium finding)
    import os
    import time

    src = str(tmp_path / "t.parquet")

    from tsdb_parquet_spark.sources import Layout

    spark.range(5).withColumnRenamed("id", "k").write.mode("overwrite").parquet(src)

    def build():
        return spark.read.parquet(src)

    layout = Layout(
        "advfix_src", build, source_paths=src, bucket_col="k", num_buckets=2
    )
    t1 = layout.ensure(spark)
    assert t1.count() == 5
    # regenerate with different contents; ensure mtime_ns moves even on
    # coarse-granularity filesystems
    time.sleep(0.05)
    spark.range(9).withColumnRenamed("id", "k").write.mode("overwrite").parquet(src)
    os.utime(src)
    t2 = layout.ensure(spark)
    assert t2.count() == 9  # fresh table, not the cached 5-row one
    # the stale sibling was dropped from the catalog
    names = [t.name for t in spark.catalog.listTables() if t.name.startswith("advfix_src_")]
    assert len(names) == 1
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS `{n}`")


def test_neardup_clusters_raises_on_non_convergence(spark):
    import pytest as _pytest

    from tsdb_parquet_spark.llm.dedup import neardup_clusters

    # a 6-node chain: min-label needs 5 hops; max_iter=2 must raise, a
    # converged run with enough iterations must not
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(pairs, max_iter=2)
    out = {r["node"]: r["comp"] for r in neardup_clusters(pairs, max_iter=10).collect()}
    assert set(out.values()) == {0}


def test_pin_partitioning_non_numeric_conf_falls_back(spark, monkeypatch):
    # Spark's own conf.set validates this conf as numeric, but managed
    # platforms ship sessions where it reads back "auto" — simulate that
    # read path and assert the defaultParallelism fallback
    from tsdb_parquet_spark.operators.partitioning import pin_partitioning

    df = spark.range(10).withColumnRenamed("id", "k")
    real_get = spark.conf.get

    _unset = object()

    def fake_get(key, default=_unset):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key) if default is _unset else real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    out = pin_partitioning(df, ["k"])
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_q171_non_numeric_shuffle_conf_falls_back(spark, monkeypatch):
    # the curation pipeline spreads its benchmark explode by the
    # shuffle-partition count; a conf that reads back "auto" must fall
    # back to defaultParallelism (same read-path simulation as above),
    # not raise, and must not change the answer
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    want = entry.q171_curation_pipeline(spark, sf).collect()
    real_get = spark.conf.get

    _unset = object()

    def fake_get(key, default=_unset):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key) if default is _unset else real_get(key, default)

    monkeypatch.setattr(spark.conf, "get", fake_get)
    got = entry.q171_curation_pipeline(spark, sf).collect()
    assert got == want and len(got) > 0


def test_bpe_tokens_vertical_tab_matches_oracle_semantics(spark):
    # Java \s includes \x0B, RE2's does not — the explicit class treats a
    # VT as a TOKEN character in both engines (it is not in the class)
    from tsdb_parquet_spark.llm.text import bpe_ish_tokens

    df = spark.createDataFrame([("a\x0bb c",)], "text string")
    toks = df.select(bpe_ish_tokens("text").alias("t")).collect()[0]["t"]
    # VT is neither letter/digit nor class whitespace -> it is a single
    # punct-ish token, NOT a split point that Java would eat silently
    assert toks == ["a", "\x0b", "b", "c"]


def test_sessionize_and_rate_pin_escape_hatch(spark):
    from tsdb_parquet_spark.operators.windows import sessionize
    from tsdb_parquet_spark import promql
    from tsdb_parquet_spark.timeseries import counter_rate_agg

    ev = spark.createDataFrame(
        [(1, 0.0, "a"), (1, 10000.0, "b")],
        "user_id long, ts double, eid string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    pinned = sessionize(ev, "user_id", "ts", "eid", gap_seconds=10)
    unpinned = sessionize(ev, "user_id", "ts", "eid", gap_seconds=10, pin=False)
    assert sorted(r["session_id"] for r in pinned.collect()) == sorted(
        r["session_id"] for r in unpinned.collect()
    )
    assert "repartitionbyexpression" not in unpinned._jdf.queryExecution().toString().lower()

    ts = spark.createDataFrame(
        [("m", 0, 1.0), ("m", 60000, 5.0)], "label_name string, time long, value double"
    )
    a = promql.rate(ts, 120000, ["label_name"], pin=False).collect()
    b = promql.rate_agg(ts, 120000, ["label_name"], pin=False).collect()
    c = counter_rate_agg(ts, ["label_name"], pin=False).collect()
    assert a[0]["increase"] == b[0]["increase"] == 4.0
    assert c[0]["increase"] == 4.0


def test_asof_join_directions_and_tolerance(spark):
    from tsdb_parquet_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("k", 10), ("k", 25), ("k", 40), ("k", 100)], "key string, ts long"
    )
    right = spark.createDataFrame(
        [("k", 20, 2.0), ("k", 30, 3.0)], "key string, ts long, value double"
    )

    def run(**kw):
        return {r["ts"]: r["v"] for r in
                asof_join(left, right, "key", "ts", "value", alias="v",
                          **kw).collect()}

    # backward: latest right at ts<=left
    assert run() == {10: None, 25: 2.0, 40: 3.0, 100: 3.0}
    # forward: earliest right at ts>=left
    assert run(direction="forward") == {10: 2.0, 25: 3.0, 40: None, 100: None}
    # nearest: closest either side; 25 is equidistant (5 vs 5) -> backward
    assert run(direction="nearest") == {10: 2.0, 25: 2.0, 40: 3.0, 100: 3.0}
    # tolerance in the ts column's unit: 100 is 70 away -> NULLed
    assert run(direction="nearest", tolerance=15) == {
        10: 2.0, 25: 2.0, 40: 3.0, 100: None}
    # inclusive on exact ties in every direction
    exact = spark.createDataFrame([("k", 20)], "key string, ts long")
    for d in ("backward", "forward", "nearest"):
        got = asof_join(exact, right, "key", "ts", "value", alias="v",
                        direction=d).first()["v"]
        assert got == 2.0, d


def test_budget_select_int_group_with_falsy_zero(spark):
    # ADVICE r7 (medium): the offset sort key coerced falsy groups to ""
    # and raised TypeError comparing str to int for a non-string group
    # column containing 0. Bucket-only sorting is type-safe.
    from tsdb_parquet_spark.operators.prefix import budget_select

    df = spark.createDataFrame(
        [(1, 0, 5), (2, 7, 5), (3, 0, 5), (4, 7, 5), (5, 0, 5)],
        "doc_id long, grp int, n int",
    )
    out = budget_select(
        df, size_col="n", priority_col=F.col("doc_id").cast("double"),
        budget=10, id_col="doc_id", group_col="grp", num_buckets=3,
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["doc_id"])
    assert sorted(by_grp[0]) == [1, 3]  # 2 docs of 5 fill the 10 budget
    assert sorted(by_grp[7]) == [2, 4]


def test_distributed_cumsum_all_null_bucket(spark):
    # ADVICE r7 (low): a bucket whose value_col is entirely NULL yields
    # _tot=None; the offset accumulation must not raise TypeError.
    from tsdb_parquet_spark.operators.prefix import distributed_cumsum

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, 4.0), (4, 6.0)],
        "k long, v double",
    )
    out = {r["k"]: r["cumsum"] for r in
           distributed_cumsum(df, "k", "v", num_buckets=2).collect()}
    assert out[3] == 4.0 and out[4] == 10.0
    assert out[1] is None and out[2] is None  # SUM over all-null prefix


def test_funnel_numeric_ts_rejected(spark):
    # ADVICE r7 (low): numeric epoch-ms ts under cast('timestamp') would
    # silently be read as SECONDS; the operators now reject numeric ts.
    import pytest as _pytest
    from tsdb_parquet_spark.operators.funnel import (
        funnel_counts, funnel_conversion_times, transition_counts)

    df = spark.createDataFrame(
        [(1, 1000, "a"), (1, 2000, "b")],
        "user_id long, ts long, event_type string",
    )
    with _pytest.raises(TypeError, match="MILLISECONDS"):
        funnel_counts(df, ["a", "b"], within_ms=5000)
    with _pytest.raises(TypeError, match="MILLISECONDS"):
        funnel_conversion_times(df, ["a", "b"])
    with _pytest.raises(TypeError, match="MILLISECONDS"):
        transition_counts(df, gap_ms=1000)
    # explicit conversion works and keeps ms semantics exact
    fixed = df.withColumn("ts", F.timestamp_millis("ts"))
    got = {r["event_type"]: r["users"] for r in
           funnel_counts(fixed, ["a", "b"], within_ms=1500).collect()}
    assert got == {"a": 1, "b": 1}
    # 999ms window: the 1000ms gap no longer converts step b
    got = {r["event_type"]: r["users"] for r in
           funnel_counts(fixed, ["a", "b"], within_ms=999).collect()}
    assert got == {"a": 1, "b": 0}


def test_split_val_frac_boundaries_exact(spark):
    # ADVICE r10 (low): val_frac=1.0 formatted to the 9-char '100000000',
    # which every 8-char md5 prefix orders ABOVE lexicographically -> the
    # whole corpus landed in 'train'.  Both ends must be exact.
    from tsdb_parquet_spark.llm.corpus import leakage_safe_split, split_corpus

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    assert {r["split"] for r in split_corpus(df, val_frac=1.0).collect()} == {"val"}
    assert {r["split"] for r in split_corpus(df, val_frac=0.0).collect()} == {"train"}
    clusters = df.select("doc_id", (F.col("doc_id") % 5).alias("cluster_id"))
    assert {r["split"] for r in
            leakage_safe_split(df, clusters, val_frac=1.0).collect()} == {"val"}
    assert {r["split"] for r in
            leakage_safe_split(df, clusters, val_frac=0.0).collect()} == {"train"}


def test_upsert_reader_recovery_is_tolerant(spark, tmp_path):
    # ADVICE r10 (medium): read_upsert_view's recovery used the WRITER
    # semantics — deleting .staging and bak dirs — so a reader landing
    # mid-swap could destroy state the live writer still needed.  The
    # reader path now never deletes: it only best-effort rolls a
    # dangling bak back when the live dir is missing.
    import os
    import shutil

    from tsdb_parquet_spark.streaming.upsert import (
        read_upsert_view,
        upsert_latest_sink,
    )

    path = str(tmp_path / "view")
    sink = upsert_latest_sink(path, ["k"], "ver", n_buckets=4)
    b1 = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k int, ver int, payload string"
    )
    sink(b1, 0)
    buckets = [d for d in os.listdir(path) if d.startswith("__kb=")]
    tgt = buckets[0]
    # simulate a crash (or a live writer) between the two swap renames:
    # live renamed away to bak, a staging dir present
    os.rename(f"{path}/{tgt}", f"{path}/.{tgt}.__bak")
    os.makedirs(f"{path}/.staging/{tgt}", exist_ok=True)
    got = sorted(tuple(r) for r in read_upsert_view(spark, path).collect())
    assert got == [(1, 1, "a"), (2, 1, "b")]  # bak rolled back to live
    # the reader must NOT have deleted the (possibly live) writer's staging
    assert os.path.isdir(f"{path}/.staging")
    # post-swap state (bak + live both present): the reader leaves the
    # bak for the writer to clean — deleting it mid-swap loses the only
    # rollback copy if the writer then dies
    shutil.copytree(f"{path}/{tgt}", f"{path}/.{tgt}.__bak")
    got2 = sorted(tuple(r) for r in read_upsert_view(spark, path).collect())
    assert got2 == got
    assert os.path.isdir(f"{path}/.{tgt}.__bak")
    # the next WRITER batch's recovery cleans both up
    sink(b1, 1)
    assert not os.path.exists(f"{path}/.{tgt}.__bak")
    assert not os.path.exists(f"{path}/.staging")
    got3 = sorted(tuple(r) for r in read_upsert_view(spark, path).collect())
    assert got3 == got
