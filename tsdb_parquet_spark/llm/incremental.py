"""Incremental corpus ingestion — dedup a NEW batch against the
existing corpus WITHOUT rescanning or reshuffling the corpus.

At 100 TB the corpus-side cost is the whole game: a daily increment is
GBs, the at-rest corpus is the 100 TB.  The index here is a BUCKETED
at-rest table of content fingerprints (``llm/text.doc_fingerprint``'s
md5-prefix digest — engine-portable, join-key-grade), bucketed on the
fingerprint so the dedup anti-join consumes the at-rest bucket
partitioning: the only exchange in the plan is the (small) batch side
shuffling to match the index's buckets; the corpus side is a bucketed
scan with NO Exchange (plan-asserted in tests).  The index also prunes:
an indexed lookup of specific fingerprints reads only the buckets they
hash to (``SelectedBucketsCount``), the BM25 postings pattern
(`llm/ranking.py`) applied to dedup.

This composes with the rest of the dedup family: exact first (here),
then MinHash/SimHash/SemDeDup on the survivors — the standard pipeline
order (cheapest filter first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import Layout, _drop_stale_siblings


def fingerprint_index_name(name: str) -> str:
    return f"{name}_fpidx"


def ensure_fingerprint_index(
    spark: SparkSession,
    name: str,
    build_docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 32,
    source_paths: str | list[str] | None = None,
) -> DataFrame:
    """Idempotent at-rest fingerprint index of a corpus: one
    (fingerprint, id) row per document, hash-bucketed AND sorted on the
    fingerprint (:class:`sources.Layout` — fingerprint-named
    staleness, catalog/DDL/write resolution).  The ONE write-time
    shuffle amortizes over every subsequent increment."""
    from .text import doc_fingerprint

    return Layout(
        fingerprint_index_name(name),
        lambda: doc_fingerprint(build_docs(), id_col=id_col, text_col=text_col),
        source_paths,
        bucket_col="fingerprint",
        num_buckets=num_buckets,
        sort_col="fingerprint",
    ).ensure(spark)


def incremental_dedup(
    index: DataFrame,
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 32,
) -> DataFrame:
    """Rows of ``batch_df`` whose normalized content is NOT already in
    the corpus index — the accept-set of an incremental ingest.  Exact
    semantics: same digest as the index (md5-prefix over
    lowercase/collapsed-whitespace text), anti-join on the fingerprint.

    The batch also self-dedups (keep the lowest-id row per
    fingerprint, one ``min_by`` aggregate): two copies of a new
    document in one increment admit one of them, so replaying increment
    order never double-admits.

    Shape — ONE exchange total, on the batch side: the fingerprint is
    a map-stage column on the batch (no join-back); the batch is
    repartitioned ONCE to the index's bucket count on the fingerprint
    (``num_buckets`` must match the index — pinning it up front lets
    both the anti-join and the self-dedup aggregate consume the same
    partitioning, where an ENSURE_REQUIREMENTS exchange pair would
    otherwise appear at bucket-count/shuffle-partition mismatches); the
    anti-join consumes the index's at-rest bucketing (corpus side: no
    Exchange — plan-asserted)."""
    from .text import fingerprint_col

    batch = batch_df.withColumn(
        "fingerprint", fingerprint_col(text_col)
    ).repartition(num_buckets, "fingerprint")
    # hint("merge"): at test scale Catalyst would BROADCAST the tiny
    # index, hiding the layout's point — at 100 TB the index is
    # billions of rows and the merge join consuming its at-rest buckets
    # (no corpus-side Exchange, no corpus-side sort) is the only shape
    # that survives; the q09_bucketed lesson applied to dedup
    fresh = batch.join(
        index.select("fingerprint").hint("merge"), "fingerprint", "left_anti"
    )
    keep = F.min_by(F.struct(*batch_df.columns), F.col(id_col))
    return (
        fresh.groupBy("fingerprint")
        .agg(keep.alias("_r"))
        .select("_r.*", "fingerprint")
    )


def band_index_name(
    name: str,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_n: int | None = None,
    seed: int | None = None,
) -> str:
    """Band-index table name; when the hash-family params are given
    they are folded into the name, so an index and a batch replay built
    with DIFFERING num_hashes/bands/shingle_n/seed can never be
    silently paired (they would never collide, accepting every
    near-duplicate) — a param change names a different table and
    forces a rebuild instead."""
    suffix = (
        f"_h{num_hashes}b{bands}n{shingle_n}s{seed}"
        if num_hashes is not None
        else ""
    )
    return f"{name}_bandidx{suffix}"


def _band_keys_col(sig_col: str, num_hashes: int, bands: int):
    """LSH band keys from a MinHash signature column — one xxhash64 per
    band over that band's signature slice.  The band INDEX is folded
    into the hash (it is the first hash argument), so the single
    ``band_key`` column is join-key-grade: rows from different bands
    cannot collide short of an xxhash64 collision.  Mirrors
    dedup.minhash_lsh_candidates' banding exactly (dedup.py)."""
    if num_hashes % bands:
        # same guard as dedup.minhash_lsh_portable: indivisible params
        # silently drop trailing signature slots from the band keys, and
        # an index/batch built with differing params would silently
        # never collide (accepting every near-duplicate)
        raise ValueError("num_hashes must divide evenly into bands")
    rpb = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.xxhash64(b, F.slice(F.col(sig_col), b * rpb + 1, rpb)),
    )


def ensure_band_index(
    spark: SparkSession,
    name: str,
    build_docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_n: int = 5,
    bands: int = 16,
    seed: int = 42,
    num_buckets: int = 32,
    source_paths: str | list[str] | None = None,
) -> DataFrame:
    """Idempotent at-rest MinHash LSH BAND index of a corpus — the
    NEAR-dup sibling of :func:`ensure_fingerprint_index` (r10 verdict
    #4: q146 could check a daily increment for exact copies without
    rescanning the corpus, but an LSH check still had to re-band 100 TB
    per increment).  One ``(id, band_key)`` row per (document, band) —
    ``bands`` rows per doc — hash-bucketed AND sorted on the band key
    (:class:`sources.Layout`: fingerprint-named staleness,
    catalog/DDL/write resolution).  Signature + banding are one map
    stage (dedup.minhash_signatures); the ONE write-time shuffle
    amortizes over every increment.

    MIGRATION (advice r13): r13 folded the hash-family params into the
    table name (band_index_name suffix), which orphaned indexes
    materialized under the pre-r13 unsuffixed ``{name}_bandidx``
    scheme — they would silently rebuild under the new name while the
    old tables lingered in the warehouse.  Building now VACUUMS the
    legacy-named family first (same catalog-and-dir sweep as the
    fingerprint staleness cleanup)."""
    from .dedup import minhash_signatures

    # drop pre-r13 unsuffixed '{name}_bandidx_*' tables/dirs: the param
    # suffix never matches that pattern, so this touches ONLY legacy names
    _drop_stale_siblings(
        spark, f"{name}_bandidx",
        keep=band_index_name(name, num_hashes, bands, shingle_n, seed),
    )

    def _build():
        sig = minhash_signatures(
            build_docs(), text_col=text_col, num_hashes=num_hashes,
            shingle_n=shingle_n, seed=seed,
        )
        return sig.select(
            F.col(id_col),
            F.explode(
                _band_keys_col("minhash", num_hashes, bands)
            ).alias("band_key"),
        )

    return Layout(
        band_index_name(name, num_hashes, bands, shingle_n, seed),
        _build,
        source_paths,
        bucket_col="band_key",
        num_buckets=num_buckets,
        sort_col="band_key",
    ).ensure(spark)


def incremental_near_dup_candidates(
    band_index: DataFrame,
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_n: int = 5,
    bands: int = 16,
    seed: int = 42,
    num_buckets: int = 32,
) -> DataFrame:
    """Distinct (batch_id, corpus_id) NEAR-dup candidate pairs of an
    increment against the at-rest band index: batch docs sharing >=1
    LSH band with a corpus doc.  Rerank with dedup.ngram_jaccard_pairs
    for exact scores (the standard LSH -> rerank split).

    Shape — the corpus NEVER shuffles: signature + banding are a
    batch-side map stage; the batch's band rows repartition ONCE to the
    index's bucket count; the equi-join consumes the index's at-rest
    buckets (merge-hinted so a test-scale broadcast can't mask the
    layout — the q146 discipline).  Per-increment cost is
    O(batch x bands + collisions), independent of corpus size."""
    from .dedup import minhash_signatures

    sig = minhash_signatures(
        batch_df, text_col=text_col, num_hashes=num_hashes,
        shingle_n=shingle_n, seed=seed,
    )
    keys = sig.select(
        F.col(id_col).alias("batch_id"),
        F.explode(
            _band_keys_col("minhash", num_hashes, bands)
        ).alias("band_key"),
    ).repartition(num_buckets, "band_key")
    return (
        keys.join(band_index.hint("merge"), "band_key")
        .select("batch_id", F.col(id_col).alias("corpus_id"))
        .distinct()
    )


def _portable_band_keys_col(sig_col: str, num_hashes: int, bands: int):
    """Portable LSH band keys from a portable MinHash signature — md5
    over ``bi ':' <'-'-joined slice values>``, the band index folded
    into the digest so the single ``band_key`` column is join-key-grade
    (the xxhash64 ``_band_keys_col`` convention re-expressed in the
    engine-portable q162 hash family; any engine with md5 + string
    concat replays it)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    rpb = num_hashes // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.md5(
            F.concat_ws(
                ":",
                bi.cast("string"),
                F.concat_ws(
                    "-",
                    F.transform(
                        F.slice(F.col(sig_col), bi * rpb + 1, rpb),
                        lambda v: v.cast("string"),
                    ),
                ),
            )
        ),
    )


def ensure_band_index_portable(
    spark: SparkSession,
    name: str,
    build_docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 5,
    bands: int = 8,
    seed: int = 42,
    num_buckets: int = 32,
    source_paths: str | list[str] | None = None,
) -> DataFrame:
    """:func:`ensure_band_index` in the PORTABLE hash family (r12,
    verdict r11 #5): signatures via dedup.minhash_signatures_portable
    (md5-prefix shingles, inlined affine coefficients), band keys via
    :func:`_portable_band_keys_col` — every constant replayable by the
    DuckDB oracle, so the incremental accept/hold-out decision is
    driver-hash-gated (q146c), not just pytest-pinned.  Same at-rest
    shape as the xxhash64 index: (id, band_key) bucketed + sorted on
    band_key, one write-time shuffle.  Defaults match q162 (32 hashes,
    8 bands) so both portable rungs share one coefficient list.
    Vacuums pre-r13 unsuffixed legacy tables like
    :func:`ensure_band_index` (advice r13 migration)."""
    from .dedup import minhash_signatures_portable

    _drop_stale_siblings(
        spark, f"{name}_bandidx",
        keep=band_index_name(name, num_hashes, bands, shingle_n, seed),
    )

    def _build():
        sig = minhash_signatures_portable(
            build_docs(), text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
        )
        return sig.select(
            F.col(id_col),
            F.explode(
                _portable_band_keys_col("_sig", num_hashes, bands)
            ).alias("band_key"),
        )

    return Layout(
        band_index_name(name, num_hashes, bands, shingle_n, seed),
        _build,
        source_paths,
        bucket_col="band_key",
        num_buckets=num_buckets,
        sort_col="band_key",
    ).ensure(spark)


def incremental_near_dup_portable(
    band_index: DataFrame,
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 5,
    bands: int = 8,
    seed: int = 42,
    num_buckets: int = 32,
) -> DataFrame:
    """:func:`incremental_near_dup` in the portable hash family: rows
    of ``batch_df`` with NO band collision against a
    :func:`ensure_band_index_portable` corpus index.  Identical scale
    shape — batch-side map stage, ONE batch repartition to the index's
    buckets, merge-hinted semi-join consuming the at-rest bucketing (no
    corpus Exchange, plan-asserted), batch-sized anti-join — with every
    hash constant engine-portable, so the full accept-set replays in
    the DuckDB oracle (q146c)."""
    from .dedup import minhash_signatures_portable

    sig = minhash_signatures_portable(
        batch_df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
    )
    keys = sig.select(
        F.col(id_col),
        F.explode(
            _portable_band_keys_col("_sig", num_hashes, bands)
        ).alias("band_key"),
    ).repartition(num_buckets, "band_key")
    hits = (
        keys.join(band_index.select("band_key").hint("merge"),
                  "band_key", "left_semi")
        .select(id_col)
        .distinct()
    )
    return batch_df.join(hits, id_col, "left_anti")


def near_dup_pairs_from_band_index(
    band_index: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """WITHIN-corpus near-dup pairs served from an at-rest portable
    band index (r13, verdict r12 #5: q172's pipeline re-banded the
    corpus — one O(n·bands) exchange carrying the full shingle arrays —
    on every run).  Three-way split of dedup.minhash_lsh_portable's
    work:

    - CANDIDATES: the index self-joined on its own band_key — both
      sides consume the at-rest bucketing (merge-hinted), so candidate
      generation has NO exchange at all after the one amortized
      index-build shuffle; and the shuffle that does happen at build
      time carries (id, band_key) rows only, never shingle sets.
    - SHINGLES: ``array_distinct(portable_shingle_hashes(text))`` is a
      map stage over ``docs``.
    - RERANK: exact Jaccard on the candidate pairs only (two id joins,
      candidate-bounded on the pair side).

    Pair semantics identical to minhash_lsh_portable (band keys fold
    the band index into the digest, so cross-band collisions need an
    md5 collision): returns (id_a, id_b, jaccard), id_a < id_b,
    jaccard >= threshold at 6dp.

    Missing docs: a candidate pair whose id has no row in ``docs`` (an
    index built over more docs than ``docs`` holds) is dropped, for
    every id type — as ``ngram_jaccard_pairs`` drops it."""
    from pyspark.sql import Window

    from .dedup import portable_shingle_hashes

    if id_col in ("id_a", "id_b"):
        # the pair-side joins reference unqualified id_a/id_b against
        # alias-qualified sh columns; an id_col of either name would be
        # ambiguous at analysis — fail early with a clear message
        raise ValueError("id_col must not be 'id_a' or 'id_b'")
    a = band_index.select(F.col(id_col).alias("id_a"), "band_key")
    b = band_index.select(F.col(id_col).alias("id_b"), "band_key")
    cand = (
        a.hint("merge").join(b.hint("merge"), "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # r15 OPTIMIZATION (guide §3.2 shape): semi-filter ``docs`` to the
    # candidate ids BEFORE the shingle projection, so the md5-per-char
    # shingle computation — the rerank's dominant per-row cost — and any
    # movement of the resulting array<bigint> rows are CANDIDATE-BOUNDED
    # instead of corpus-wide.  Without this the planner can also pick
    # the shingle side as a broadcast build (its SCAN stats predate the
    # ~8-bytes-per-char array inflation) — observed at sf0.1: the whole
    # corpus's shingle arrays behind a BroadcastExchange.
    #
    # The id bound is a SUPERSET read off band-key multiplicity — one
    # window pass over the bucketed index (no exchange), NOT a second
    # evaluation of the self-join: an id is a candidate only if some
    # band bucket holds it together with another row, so `count>1 per
    # band_key` covers every true candidate, and extra ids only add
    # unused shingle rows (the pair set stays fixed by ``cand``).
    cand_ids = (
        band_index.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("band_key"))
        )
        .filter(F.col("_n") > 1)
        .select(id_col)
        .distinct()
    )
    # r16: repartition the candidate-bounded texts BEFORE the shingle
    # projection (the q136 r13 lesson): the semi-join inherits the raw
    # scan's row-group-bound parallelism, so the md5-per-char shingle
    # computation — this stage's dominant cost — otherwise runs on ONE
    # task over compact corpora.  Candidate-bounded bytes move once to
    # spread compute that is ~100x the moved bytes (the q113 trade).
    sh = (
        docs.join(F.broadcast(cand_ids), id_col, "left_semi")
        .select(id_col, text_col)
        .repartition(F.col(id_col))
        .select(
            F.col(id_col),
            F.array_distinct(
                portable_shingle_hashes(text_col, shingle_n)
            ).alias("_sh"),
        )
    )
    # r16: the rerank is the COGROUPED Arrow kernel — pairs stay narrow
    # and each doc's shingle array crosses once per group that needs it
    # instead of once per pair row (the r15 join form materialized both
    # ~400-element arrays per pair: a doc in p pairs shipped its array
    # ~2p times through the join output and the Python boundary).
    # In-process A/B: pair stage 5.6-5.9 s -> 4.2-4.5 s (-24%) at sf1
    # AND sf10, digests identical.  Integer-id contract (the kernel's
    # group-local lookup is np.searchsorted); non-integer ids take the
    # r15 per-pair join + mapInArrow kernel unchanged.
    from .dedup import _pair_jaccard_int64, _pair_jaccard_int64_grouped

    id_type = docs.schema[id_col].dataType.simpleString()
    if id_type in ("tinyint", "smallint", "int", "bigint"):
        return _pair_jaccard_int64_grouped(cand, sh, id_col, threshold)
    # fallback: join the arrays onto the pairs (r15 shape) — alias
    # AFTER each join so both sh subtrees canonicalize identically and
    # ReuseExchange serves the second side from the first's broadcast
    sha = sh.alias("_nd_sha")
    shb = sh.alias("_nd_shb")
    j = (
        cand.join(sha, F.col("id_a") == F.col(f"_nd_sha.{id_col}"))
        .join(shb, F.col("id_b") == F.col(f"_nd_shb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.col("_nd_sha._sh").alias("_sha"),
            F.col("_nd_shb._sh").alias("_shb"),
        )
    )
    return _pair_jaccard_int64(j, threshold)


def incremental_near_dup(
    band_index: DataFrame,
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_n: int = 5,
    bands: int = 16,
    seed: int = 42,
    num_buckets: int = 32,
) -> DataFrame:
    """Rows of ``batch_df`` with NO near-dup candidate in the at-rest
    corpus — the accept-set of an incremental ingest at LSH sensitivity
    (a doc colliding with the corpus in >=1 of the ``bands`` bands is
    held out; route held-out docs through
    :func:`incremental_near_dup_candidates` + Jaccard rerank to decide
    borderline cases).  Composes after :func:`incremental_dedup`:
    exact first, then near (cheapest filter first).

    Shape: the candidate semi-join consumes the index's at-rest buckets
    (no corpus-side Exchange — plan-asserted in tests); the hit-id set
    and the final anti-join are batch-sized."""
    from .dedup import minhash_signatures

    sig = minhash_signatures(
        batch_df, text_col=text_col, num_hashes=num_hashes,
        shingle_n=shingle_n, seed=seed,
    )
    keys = sig.select(
        F.col(id_col),
        F.explode(
            _band_keys_col("minhash", num_hashes, bands)
        ).alias("band_key"),
    ).repartition(num_buckets, "band_key")
    hits = (
        keys.join(band_index.select("band_key").hint("merge"),
                  "band_key", "left_semi")
        .select(id_col)
        .distinct()
    )
    return batch_df.join(hits, id_col, "left_anti")
