"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup.

North-star extension (SURVEY.md §2.2 "LLM-pipeline ops"); not in the
reference (a single-table TSDB engine, ``/root/reference/hello.go``).

Scale design (100 TB):

- **Exact dedup** is a single hash aggregation on the text column — Spark
  runs it partial+final, so only one row per (task, distinct text) shuffles.
  For very long documents, dedup on a digest (``xxhash64(text)``) instead of
  the raw text to shrink the shuffle payload (``exact_dedup(key="hash")``).
- **MinHash/LSH** never materializes all pairs: signatures are computed
  per-row with JVM higher-order functions (no Python, no shuffle), then LSH
  *banding* buckets candidate pairs — the self-join is on (band, band_hash),
  so only documents sharing a band bucket ever meet. All-pairs comparison
  is O(n²) and unusable at scale; banding is O(n · bands + collisions).
- **SimHash** is one 64-bit signature per document, computed in a single
  per-row expression (aggregate/zip_with over tokens) — embarrassingly
  parallel, no shuffle at all until the bucket join.
- **Embedding near-dup** buckets by random-hyperplane sign bits (the
  classic SRP-LSH) and only compares within buckets; exact cosine is then
  computed JVM-side (zip_with + aggregate) on the candidates.

All hot paths are built-in Spark SQL functions — no Python UDFs.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import shuffle_partitions

# Mersenne prime 2^31-1: universal-hash modulus.  Products a*h stay well
# below 2^63, so the arithmetic is safe under ANSI overflow checking.
_MERSENNE = (1 << 31) - 1


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    by_hash: bool = False,
) -> DataFrame:
    """Exact duplicate groups: per distinct text, the kept (min) id and the
    duplicate count.  ``by_hash=True`` groups on ``xxhash64(text)`` instead
    of the raw text — same grouping (modulo a 2^-64 collision risk), but the
    shuffle carries 8 bytes instead of the whole document.
    """
    key = F.xxhash64(text_col).alias("text_key") if by_hash else F.col(text_col)
    return df.groupBy(key).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dups"),
    )


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams of a string column, as an array —
    computed per-row with ``transform`` over an index sequence (JVM-side,
    no explode, no shuffle)."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: F.substring(c, i, n),
    )
    return F.array_distinct(grams)


def _mix(h: Column, a: int, b: int) -> Column:
    """Universal hash family over Z_p (p = 2^31-1): (a·h + b) mod p."""
    hp = F.pmod(h, F.lit(_MERSENNE))
    return F.pmod(F.lit(a) * hp + F.lit(b), F.lit(_MERSENNE))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 128,
    shingle_n: int = 5,
    seed: int = 42,
    out_col: str = "minhash",
) -> DataFrame:
    """Append a MinHash signature column (``array<bigint>`` of length
    ``num_hashes``).

    One ``xxhash64`` per distinct shingle, then ``num_hashes`` universal-hash
    mixes and an ``array_min`` per hash — all inside one per-row JVM
    expression.  Zero shuffles; at 100 TB this is a pure map stage.
    """
    rng = np.random.RandomState(seed)
    coeffs = [
        (int(rng.randint(1, _MERSENNE)), int(rng.randint(0, _MERSENNE)))
        for _ in range(num_hashes)
    ]
    # Hash the shingles ONCE into an intermediate column, then derive all
    # num_hashes minima from it.  Inlining the shingle expression into each
    # mix would make Catalyst evaluate char_shingles + xxhash64 num_hashes
    # times per row (CollapseProject keeps the split because the reference
    # is non-cheap and multiply-used — verified: one `substring` in the
    # optimized plan); measured 6-7x on the signature stage.
    hashed = F.transform(char_shingles(text_col, shingle_n), lambda s: F.xxhash64(s))
    tmp = f"_{out_col}_shingle_hashes"

    def _minhash(a: int, b: int):
        # factory, not a default-arg lambda: PySpark counts default args in
        # the lambda's arity and would reject it as a 3-arg function
        return F.array_min(F.transform(F.col(tmp), lambda h: _mix(h, a, b)))

    sig = F.array(*[_minhash(a, b) for a, b in coeffs])
    return df.withColumn(tmp, hashed).withColumn(out_col, sig).drop(tmp)


def minhash_lsh_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands, hash each
    band, and emit candidate pairs (id_a < id_b) that collide in ≥1 band.

    The join key is (band_index, band_hash) — documents never meet unless a
    band matches, so the shuffle volume is O(n·bands), not O(n²).  Output is
    distinct pairs; rerank with ``ngram_jaccard_pairs`` for exact scores.
    """
    rpb = (F.size(F.col(sig_col)) / bands).cast("int")  # rows per band
    buckets = sig_df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(b, F.slice(F.col(sig_col), b * rpb + 1, rpb)),
            )
        ).alias("band", "band_hash"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.0,
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    ``candidates`` has (id_a, id_b); the doc side is joined twice.  At scale
    the candidate set is the (small) LSH output, so both joins are skewed
    toward broadcast/shuffled-hash on the id key — never all-pairs.

    ``round_dp=None`` emits the raw int/int double division — IEEE-exact
    and therefore bit-reproducible by any engine computing the same
    intersection/union counts (the cross-engine-comparable form); the
    default rounds for display.
    """
    sh = docs.select(
        F.col(id_col),
        char_shingles(text_col, shingle_n).alias("_sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # |union| by inclusion-exclusion over the ALREADY-DISTINCT shingle
    # arrays (char_shingles applies array_distinct): same integers as
    # size(array_union(..)) without building the union array per pair —
    # the union's hash-set + materialization was ~half the rerank's
    # per-pair cost (r15, −10% wall at sf1 on the band rerank)
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    out_jac = jac if round_dp is None else F.round(jac, round_dp)
    return (
        candidates.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", out_jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _pair_jaccard_int64(
    pairs_df: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over (id_a, id_b, _sha, _shb) candidate rows, with
    the INTEGER intersection count computed in a vectorized Arrow
    kernel (r15, guide §4.2): Spark's ``ArrayIntersect`` builds a boxed
    hash set per PAIR — measured as 2/3 of the whole rerank stage at
    sf1 (join+shingles 3.0 s, +intersect 9.5 s) — whereas one
    ``np.intersect1d`` sort-intersects every pair of an Arrow chunk at
    once via (row << 31 | value) composite keys.  ONLY integers cross
    back (inter, |a|, |b|); the int/int division and the HALF_UP
    ``F.round`` stay JVM-side on exactly the operands the expression
    form used, so results are bit-identical — no float crosses the
    boundary.

    Contract: shingle values are non-null int64 in [0, 2^31) — the
    portable mod-(2^31-1) hash family — ASSERTED per chunk, fail loud;
    per-row DISTINCTNESS is a CALLER OBLIGATION (both callers apply
    array_distinct) that is NOT re-checked here — it is what makes the
    composite keys unique per side, and ``np.intersect1d(assume_unique)``
    silently over-counts if a caller ever violates it.  A null
    array on either side yields a null count → null jaccard → row
    dropped by the threshold filter, matching ``size(array_intersect)``
    null semantics.
    """
    src = pairs_df.select("id_a", "id_b", "_sha", "_shb")
    id_a_t = src.schema["id_a"].dataType.simpleString()
    id_b_t = src.schema["id_b"].dataType.simpleString()
    out_schema = f"id_a {id_a_t}, id_b {id_b_t}, _inter int, _sa int, _sb int"

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa  # noqa: PLC0415 — executor-side import

        # bound each np pass: 2^15 pairs x ~2 x shingle-set bytes
        chunk_rows = 1 << 15

        def _flat(col, n):
            # list<int64> layout: monotonic offsets into one contiguous
            # values buffer — all n rows' elements are one slice
            if col.values.null_count:
                raise ValueError("null shingle element")
            off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = col.values.to_numpy(zero_copy_only=False)
            elems = vals[off[0]:off[-1]]
            lens = np.diff(off)
            rows = np.repeat(np.arange(n, dtype=np.int64), lens)
            valid = (np.ones(n, dtype=bool) if col.null_count == 0
                     else col.is_valid().to_numpy(zero_copy_only=False))
            if elems.size and not valid.all():
                # the Arrow spec permits null list slots with NON-EMPTY
                # offset ranges (Spark writes zero-length nulls, but a
                # legal producer need not): elements under null slots
                # must neither trip the range guard nor — once OR-ed
                # into a composite key — collide into a valid row's
                # count, so zero them (key row<<31|0 keeps the row bits
                # of its own already-masked row)
                elems = np.where(np.repeat(valid, lens), elems, 0)
            if elems.size:
                if elems.min() < 0 or elems.max() >= (1 << 31):
                    raise ValueError("shingle hash outside [0, 2^31)")
            return (rows << 31) | elems, lens.astype(np.int32), valid

        for b in batches:
            for s0 in range(0, b.num_rows, chunk_rows):
                part = b.slice(s0, chunk_rows)
                n = part.num_rows
                ka, sa, va = _flat(part.column(2), n)
                kb, sb, vb = _flat(part.column(3), n)
                common = np.intersect1d(ka, kb, assume_unique=True)
                inter = np.bincount(common >> 31, minlength=n).astype(np.int32)
                bad = ~(va & vb)
                mask = bad if bad.any() else None
                yield pa.record_batch(
                    [part.column(0), part.column(1),
                     pa.array(inter, type=pa.int32(), mask=mask),
                     pa.array(sa, type=pa.int32(), mask=mask),
                     pa.array(sb, type=pa.int32(), mask=mask)],
                    names=["id_a", "id_b", "_inter", "_sa", "_sb"],
                )

    scored = src.mapInArrow(_kernel, out_schema)
    return _jaccard_tail(scored, threshold)


def _jaccard_tail(scored: DataFrame, threshold: float) -> DataFrame:
    """Shared JVM-side tail of both intersect kernels: int/int division
    on exactly the operands the expression form used, HALF_UP round at
    6dp, threshold filter — results bit-identical to
    ``size(array_intersect)`` arithmetic."""
    jac = F.col("_inter") / (F.col("_sa") + F.col("_sb") - F.col("_inter"))
    return (
        scored.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pair_jaccard_int64_grouped(
    cand: DataFrame,
    sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """:func:`_pair_jaccard_int64` with the doc→shingle arrays
    COGROUPED to the kernel instead of joined onto every pair row
    (r16, guide §8 "decide with small rows, move big rows once"):
    the per-pair join shape materialized BOTH ~400-element arrays once
    per pair — a doc in p pairs shipped its array ~2p times through the
    join output and the Arrow boundary.  Here candidate pairs stay
    narrow (id_a, id_b, group key); each doc's array crosses once per
    GROUP that needs it (≤ min(groups, its pair partners)); the kernel
    rebuilds per-pair flattened key arrays group-locally by vectorized
    gather and runs the same single ``np.intersect1d`` per chunk.
    In-process A/B (sf1 AND sf10, the pair set is sf-insensitive after
    exact dedup): pair stage 5.6-5.9 s → 4.2-4.5 s (−24%), digests
    identical.

    Same contract as :func:`_pair_jaccard_int64` (non-null int64
    values in [0, 2^31), asserted; per-row distinctness a caller
    obligation), plus: ``id_col`` must be an integer column (the
    group-local doc lookup is ``np.searchsorted``).  Null shingle
    arrays yield null counts → null jaccard → dropped, as before; a
    pair whose id has no shingle row drops too, like the join form.
    ``cand`` is evaluated twice (group keys + doc demand) — measured
    a wash to persist, and both evaluations are narrow."""
    spark = cand.sparkSession
    nsp = shuffle_partitions(spark)
    # 4x the shuffle partition count: enough distinct keys to spread
    # over the reducers (guide §2.5), few enough that groups stay
    # vectorization-sized; the multiplier measured flat 1x-8x at sf1
    ng = nsp * 4
    id_a_t = cand.schema["id_a"].dataType.simpleString()
    id_b_t = cand.schema["id_b"].dataType.simpleString()
    out_schema = f"id_a {id_a_t}, id_b {id_b_t}, _inter int, _sa int, _sb int"

    pairs_k = cand.withColumn(
        "_gk", F.pmod(F.xxhash64(F.col("id_a")), F.lit(ng))
    )
    # (group, doc) demand via ONE explode — a union of the two id
    # columns would reference (and re-evaluate) the pair subtree twice
    # more (the r15 q172 double-eval trap)
    ids = pairs_k.select(
        F.col("_gk").alias("_gk2"),
        F.explode(F.array("id_a", "id_b")).alias(id_col),
    ).dropDuplicates()
    sh_k = sh.join(ids, id_col)

    def _kernel(left, right):
        import numpy as np
        import pyarrow as pa  # noqa: PLC0415 — executor-side import

        ida = left.column(0).combine_chunks()
        idb = left.column(1).combine_chunks()
        ids_r = right.column(0).to_numpy(zero_copy_only=False)
        order = np.argsort(ids_r, kind="stable")
        sid = ids_r[order]
        ia_all = ida.to_numpy(zero_copy_only=False)
        ib_all = idb.to_numpy(zero_copy_only=False)

        def present(q):
            if not sid.size:
                return np.zeros(q.size, bool)
            return sid[np.minimum(np.searchsorted(sid, q), sid.size - 1)] == q

        # a pair whose doc has no shingle row drops (the join form's
        # inner-join semantics)
        found = present(ia_all) & present(ib_all)
        if not found.all():
            ida, idb = ida.filter(pa.array(found)), idb.filter(pa.array(found))
            ia_all, ib_all = ia_all[found], ib_all[found]
        npairs = len(ida)
        if npairs == 0:
            return pa.table(
                [ida, idb,
                 pa.array([], pa.int32()), pa.array([], pa.int32()),
                 pa.array([], pa.int32())],
                names=["id_a", "id_b", "_inter", "_sa", "_sb"])
        shc = right.column(1).combine_chunks()
        off = shc.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        starts = off[:-1] - off[0]
        lens = np.diff(off).astype(np.int64)
        vals = shc.values.to_numpy(zero_copy_only=False)
        v = vals[off[0]:off[-1]]
        valid_r = (np.ones(len(ids_r), bool) if shc.null_count == 0
                   else shc.is_valid().to_numpy(zero_copy_only=False))
        if v.size and not valid_r.all():
            # zero elements under null slots (see _pair_jaccard_int64)
            v = np.where(np.repeat(valid_r, lens), v, 0)
        if v.size and (v.min() < 0 or v.max() >= (1 << 31)):
            raise ValueError("shingle hash outside [0, 2^31)")

        def lookup(q):
            return order[np.searchsorted(sid, q)]

        def gather(docidx, chunk_n):
            # per-pair flattened (row << 31 | value) keys via grouped
            # arange — no Python loop over pairs
            st = starts[docidx]
            ln = lens[docidx]
            tot = int(ln.sum())
            if tot == 0:
                return np.empty(0, np.int64), ln.astype(np.int32)
            cum = np.concatenate(([0], np.cumsum(ln)[:-1]))
            gidx = (np.arange(tot, dtype=np.int64)
                    - np.repeat(cum, ln) + np.repeat(st, ln))
            rows = np.repeat(np.arange(chunk_n, dtype=np.int64), ln)
            return (rows << 31) | v[gidx], ln.astype(np.int32)

        chunk_rows = 1 << 15
        out = []
        for s0 in range(0, npairs, chunk_rows):
            cn = min(s0 + chunk_rows, npairs) - s0
            idx_a = lookup(ia_all[s0:s0 + cn])
            idx_b = lookup(ib_all[s0:s0 + cn])
            ka, sa = gather(idx_a, cn)
            kb, sb = gather(idx_b, cn)
            common = np.intersect1d(ka, kb, assume_unique=True)
            inter = np.bincount(common >> 31, minlength=cn).astype(np.int32)
            bad = ~(valid_r[idx_a] & valid_r[idx_b])
            mask = bad if bad.any() else None
            out.append(pa.record_batch(
                [ida.slice(s0, cn), idb.slice(s0, cn),
                 pa.array(inter, type=pa.int32(), mask=mask),
                 pa.array(sa, type=pa.int32(), mask=mask),
                 pa.array(sb, type=pa.int32(), mask=mask)],
                names=["id_a", "id_b", "_inter", "_sa", "_sb"]))
        return pa.Table.from_batches(out)

    scored = (
        pairs_k.groupby("_gk")
        .cogroup(sh_k.groupby("_gk2"))
        .applyInArrow(_kernel, out_schema)
    )
    return _jaccard_tail(scored, threshold)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """Append a 64-bit SimHash signature (bigint).

    Classic Charikar SimHash: hash each token to 64 bits, sum +1/-1 per bit
    position over all tokens, signature bit = sign of the sum.  Implemented
    as one per-row expression (aggregate + zip_with over the token array) —
    no explode, no shuffle; a pure map stage at any scale.
    """
    # SQL-expression form: the Python API's shiftright/shiftleft demand a
    # literal int shift amount, but in SQL the shift amount can be the
    # lambda variable.  Everything stays one per-row JVM expression.
    sums_expr = f"""
        aggregate(
            filter(split({text_col}, '\\\\s+'), w -> w != ''),
            array_repeat(0, 64),
            (acc, t) -> zip_with(
                acc,
                transform(sequence(0, 63),
                          i -> CASE WHEN shiftright(xxhash64(t), i) & 1 = 1
                                    THEN 1 ELSE -1 END),
                (a, b) -> a + b))
    """
    sig_expr = """
        aggregate(
            zip_with(_simhash_sums, sequence(0, 63),
                     (s, i) -> CASE WHEN s > 0
                                    THEN shiftleft(CAST(1 AS BIGINT), i)
                                    ELSE CAST(0 AS BIGINT) END),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)
    """
    return (
        df.withColumn("_simhash_sums", F.expr(sums_expr))
        .withColumn(out_col, F.expr(sig_expr))
        .drop("_simhash_sums")
    )


def simhash_neardup_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Block-permutation LSH: split the 64-bit signature into 4 blocks of 16
    bits; any pair within Hamming distance 3 must agree exactly on ≥1 block
    (pigeonhole), so candidates are generated by a join on (block_idx,
    block_value) and then filtered by exact popcount — never all-pairs.
    """
    n_blocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    blocks = sig_df.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sig"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col(sig_col), i * block_bits).bitwiseAND(F.lit(mask))
                for i in range(n_blocks)
            ])
        ).alias("block", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    xor = F.expr("a._sig").bitwiseXOR(F.expr("b._sig"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 16,
    seed: int = 42,
    num_tables: int = 1,
) -> DataFrame:
    """Embedding near-duplicates: cosine ≥ threshold, bucketed by
    signed-random-projection LSH so only same-bucket pairs are compared.

    ``num_planes`` sign bits form each bucket key; high-cosine pairs land
    in the same bucket with probability ``(1 - θ/π)^num_planes`` per table.
    ``num_tables`` independent plane sets are OR-ed (a pair is a candidate
    if it collides in ANY table), lifting recall to ``1 - (1-p^k)^L`` — the
    standard LSH recall/cost dial (measured in
    tests/test_lsh_recall_density.py; e.g. 8 planes × 4 tables ≥ 0.95
    recall at cosine ≥ 0.98).  The exact cosine on candidates is JVM-side
    higher-order functions in float64.

    Scale: rows explode ×``num_tables`` into (table, bucket) keys, the
    join shuffles on that composite key, and only same-bucket pairs are
    ever compared — candidate volume is governed by bucket occupancy,
    never O(n²).
    """
    dim = len(df.select(emb_col).first()[0])
    rng = np.random.RandomState(seed)

    def dot_with(plane: np.ndarray) -> Column:
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        return F.aggregate(
            F.zip_with(F.col(emb_col), lit_plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    table_buckets = []
    for _ in range(num_tables):
        planes = rng.standard_normal((num_planes, dim))
        table_buckets.append(
            F.concat_ws(
                "", *[F.when(dot_with(p) >= 0, "1").otherwise("0") for p in planes]
            )
        )
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_emb"),
        F.posexplode(F.array(*table_buckets)).alias("_tbl", "_bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    from .similarity import cosine_cols

    sim = cosine_cols(F.col("a._emb"), F.col("b._emb"))
    return (
        a.join(
            b,
            (F.col("a._tbl") == F.col("b._tbl"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        # a pair colliding in several tables appears once
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("cosine") >= threshold)
    )


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    method: str = "propagate",
) -> DataFrame:
    """Resolve near-duplicate PAIRS into connected components — the step
    every production dedup pipeline needs between candidate generation
    (MinHash/SimHash/embedding pairs) and "keep one per cluster".

    ``method="star"`` delegates to :func:`connected_components_star` —
    O(log n) rounds independent of component diameter, the right choice
    for billion-node graphs or long chains (where propagation needs
    diameter-many rounds and trips the ``max_iter`` guard).  The default
    stays ``"propagate"``: near-dup graphs are unions of small dense
    cliques (diameter 2-3), where propagation finishes in fewer shuffles.

    Iterative min-label propagation: every node starts as its own
    component, then repeatedly adopts the minimum component id among
    itself and its neighbors until a fixpoint.  Converges in at most
    graph-diameter rounds — near-dup graphs are unions of small dense
    cliques (diameter 2-3), so this terminates in a handful of
    iterations, each ONE join + ONE aggregate (two shuffles).

    Scale notes: ``localCheckpoint`` truncates the growing lineage each
    round (otherwise the plan doubles per iteration); the convergence
    check is a metadata-cheap count on the changed rows.  For
    billion-node graphs swap in the large-star/small-star variant — the
    API contract (pairs → (node, comp)) stays the same.

    Returns (node, comp): comp is the MINIMUM member id of the cluster,
    so ``node != comp`` marks removable duplicates.
    """
    if method == "star":
        return connected_components_star(pairs, id_a=id_a, id_b=id_b)
    if method != "propagate":
        raise ValueError(f"method must be 'propagate' or 'star', got {method!r}")
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.union(rev).distinct().localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("comp").alias("_dc")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_dc").alias("_nc"))
        )
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                F.col("node"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("_nc"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed > 0:
        # Exiting via max_iter with unconverged labels would silently
        # return WRONG component ids (any component whose min-id is
        # > max_iter hops away) — fail loudly; the caller can raise
        # max_iter or switch to a large-star/small-star O(log n) variant.
        raise RuntimeError(
            f"neardup_clusters: label propagation did not converge within "
            f"max_iter={max_iter} rounds ({changed} labels still changing) "
            f"— raise max_iter (diameter-bound) for long-chain graphs"
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the billion-node path ``neardup_clusters`` reserves: it
    converges in O(log n) alternating rounds regardless of component
    DIAMETER, where min-label propagation needs diameter-many rounds.
    Measured on worst-case path graphs (max diameter per node count):
    a 200-node chain converges in <= 8 rounds, 2 000 in <= 14, 20 000
    in <= 20 — ~log2(n) + constant, so the default cap of 50 covers
    graphs far beyond 10^9 nodes; converged loops exit early, so the
    headroom is free.

    One round = two hops, each a groupBy-min + join on the current edge
    set (two shuffles per hop), with ``localCheckpoint`` lineage
    truncation:

    - **large-star**: every node's LARGER neighbors re-point to the
      minimum of its closed neighborhood (edges only shrink toward
      minima; component membership is preserved because the old path
      u—v is replaced by v—m—u with m in the same component);
    - **small-star**: every node and its smaller neighbors re-point to
      their minimum — this is the contraction step that halves star
      depth.

    The fixpoint is a star forest: every edge is (node, component-min).
    Same contract as ``neardup_clusters``: returns (node, comp) with
    comp = minimum member id, for every node appearing in ``pairs``.
    """
    nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical undirected form: (hi > lo), self-loops dropped
    canon = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        if canon.isEmpty():
            break
        # large-star over the symmetrized neighborhood
        sym = canon.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).union(canon.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
        m_u = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m_u = m_u.select("u", F.least("mn", "u").alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m_u, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star over the (hi > lo) orientation
        m2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        part_hi = m2.select(F.col("hi"), F.col("m").alias("lo"))
        part_lo = (
            large.join(m2, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        )
        new_canon = (
            part_hi.union(part_lo).distinct().localCheckpoint(eager=True)
        )
        done = (
            new_canon.subtract(canon).isEmpty()
            and canon.subtract(new_canon).isEmpty()
        )
        canon = new_canon
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint within "
            f"max_rounds={max_rounds} (O(log n) expected — this indicates "
            f"a bug or an astronomically deep graph)"
        )
    # star forest: every surviving edge points node -> component min
    return (
        nodes.join(
            canon.select(F.col("hi").alias("node"), F.col("lo").alias("_c")),
            "node",
            "left",
        )
        .select("node", F.coalesce("_c", "node").alias("comp"))
    )


def keep_one_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    method: str = "propagate",
) -> DataFrame:
    """End-to-end near-dedup: resolve pairs to clusters, keep the minimum
    id of each cluster, drop every other member.  Documents in no pair
    pass through untouched (they never join the removal set).
    ``method`` forwards to :func:`neardup_clusters` ("star" for
    diameter-independent O(log n) resolution on billion-node graphs)."""
    clusters = neardup_clusters(pairs, id_a, id_b, method=method)
    removals = clusters.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(removals, id_col, "left_anti")


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.96,
    salt: str = "semdedup",
    _pair_tile: int = 2048,
) -> DataFrame:
    """Semantic deduplication in embedding space (SemDeDup, Abbas et
    al. 2023, arXiv:2303.09540): cluster embeddings, then inside each
    cluster drop every item whose cosine to an EARLIER-ranked cluster
    member reaches ``threshold`` — pairwise comparison happens only
    within clusters, never across the corpus.

    Determinism contract (this repo's oracle discipline): the ``k``
    cluster "centroids" are the k members with the smallest
    ``md5(id || salt)`` rank (a deterministic proxy for k-means++
    seeding — both engines compute the identical seed set), assignment
    is argmax cosine over those seeds with ties to the HIGHER seed
    index, and the drop rule uses the md5 rank as the keep order.  All
    dot products are float64 left-folds over the array order
    (bit-identical across engines, proven by q26/q77).  "Earlier
    member" means earlier by rank among ALL cluster members, dropped
    or not — the one-join relaxation of sequential greedy dedup (a
    kept-survivor recurrence needs iteration; at τ this high the two
    differ only on chains of borderline pairs).

    100 TB shape: seeds are a k-row driver hop; for plan-literal-sized
    k (the oracle-exact path) assignment is a map stage of k fused JVM
    dot products per row, zero shuffle; for production k (thousands —
    SemDeDup runs k ~ n/target_cluster_size to bound the quadratic
    within-cluster term) assignment switches to ONE numpy matmul per
    Arrow batch against the broadcast centroid matrix (`mapInPandas`,
    the llm/similarity.cosine_topk_np precedent: numpy's pairwise
    summation reorders float adds, so the batch path is capability-
    exact but not oracle-bit-exact — keep literal-k for driver
    verification).  Either way the pairwise stage shuffles once on
    cluster id and compares within clusters only.

    Scale ceiling of THIS form: the seed hop collects k embedding
    vectors, so it holds while k x dim fits the driver (k ~ n/64 means
    tens of millions of rows per driver GB — fine to ~10^9 inputs).
    Beyond that, run SemDeDup per IVF cell (`llm/similarity.
    ensure_ivf_layout` partitions the space; apply semdedup inside
    each cell independently — same semantics, seeds bounded per cell).

    Output: surviving (id, cluster, rank) rows.
    """
    import math

    rk = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(emb_col).alias("_emb"),
        rk.alias("_rk"),
    )
    seeds = [
        (r["_id"], [float(x) for x in r["_emb"]])
        for r in base.orderBy("_rk", "_id").limit(k).collect()
    ]

    if k > 8:
        # numpy-batched assignment: one (batch x dim) @ (dim x k) matmul
        # per Arrow batch — the only viable shape for thousand-centroid k,
        # and already the faster one for k in the tens: the literal plan
        # is k x dim literals whose codegen alone costs seconds
        # (measured 5.7 s at k=31/dim=64 vs sub-second numpy).
        # r15: mapInArrow, not mapInPandas — the list column's values
        # buffer reshapes straight into the (n, dim) matrix (the
        # cosine_topk_np zero-copy pattern); the pandas form boxed every
        # embedding element into a Python float on BOTH sides of the
        # boundary (O(rows x dim) interpreter work per batch).  Same
        # float64 values, same matmul, bit-identical assignment.
        import numpy as np

        id_dt = base.schema["_id"].dataType.simpleString()
        # mirror the INPUT embedding type (float embeddings stay float
        # through the pass-through — casting the child vector would
        # force a copy the zero-copy path exists to avoid)
        emb_dt = base.schema["_emb"].dataType.simpleString()
        mat = np.array([v for _, v in seeds], dtype=np.float64).T  # dim x k
        mat = mat / np.linalg.norm(mat, axis=0, keepdims=True)
        out_schema = f"_id {id_dt}, _emb {emb_dt}, _rk string, _cl int"

        # Bound the scores matrix: rows_per_chunk x k doubles.  An
        # Arrow batch can be 10^6 rows (the bench profile raises
        # maxRecordsPerBatch) and production k is n/64 — an unchunked
        # (batch x k) matmul at sf100 is 10^6 x 31k x 8 B = 250 GB and
        # killed the Python worker (r13 bench).  2^24 doubles caps the
        # chunk at 128 MB whatever k is.
        chunk_rows = max(1024, (1 << 24) // max(1, len(seeds)))

        # r15: hash-repartition on the unique id BEFORE the map stage.
        # Parquet scan parallelism is row-group-bound: a single-row-group
        # embeddings file runs the whole scan+assign as ONE task (measured
        # at sf10: one 12.6 s task, 31 idle cores).  The shuffle moves
        # 4·dim bytes/row to buy 2·dim·k flops/row of parallel matmul —
        # at any production k (hundreds+) the compute dwarfs the move, so
        # this is scale-safe, not a local-mode tune; the count follows
        # spark.sql.shuffle.partitions (conf-driven, AQE-coalescible).
        base = base.repartition(F.col("_id"))

        def _assign(batches):
            import pyarrow as pa  # noqa: PLC0415 — executor-side import

            for b in batches:
                for s0 in range(0, b.num_rows, chunk_rows):
                    part = b.slice(s0, chunk_rows)
                    col = part.column(1)  # _emb; slice keeps offsets valid
                    flat = col.flatten().to_numpy(zero_copy_only=False)
                    # constant-dim contract (as np.stack's): ragged or
                    # null input would silently mis-reshape — fail loudly
                    if flat.size % part.num_rows:
                        raise ValueError(
                            f"ragged _emb: {flat.size} / {part.num_rows}")
                    embs = flat.reshape(part.num_rows, -1).astype(
                        np.float64, copy=False)
                    norms = np.linalg.norm(embs, axis=1, keepdims=True)
                    norms[norms == 0.0] = 1.0
                    scores = (embs / norms) @ mat  # chunk x k
                    # ties -> HIGHER seed index (match the literal path)
                    best = (
                        scores.shape[1] - 1
                        - np.argmax(scores[:, ::-1], axis=1)
                    ).astype("int32")
                    yield pa.record_batch(
                        [part.column(0), part.column(1), part.column(2),
                         pa.array(best, type=pa.int32())],
                        names=["_id", "_emb", "_rk", "_cl"],
                    )

        assigned = base.mapInArrow(_assign, out_schema)
    else:

        def _dot(col: Column, vec: list[float]) -> Column:
            lit_vec = F.array(*[F.lit(x) for x in vec])
            return F.aggregate(
                F.zip_with(col, lit_vec, lambda x, p: x.cast("double") * p),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        sq_norm = F.aggregate(
            F.transform(
                F.col("_emb"), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = base.withColumn("_norm", F.sqrt(sq_norm))
        options = F.array(
            *[
                F.struct(
                    (
                        _dot(F.col("_emb"), vec)
                        / (
                            F.col("_norm")
                            * F.lit(math.sqrt(sum(x * x for x in vec)))
                        )
                    ).alias("c"),
                    F.lit(j).alias("j"),
                )
                for j, (_sid, vec) in enumerate(seeds)
            ]
        )
        assigned = scored.withColumn("_cl", F.array_max(options)["j"]).select(
            "_id", "_emb", "_rk", "_cl"
        )

    if k > 8:
        # numpy per-cluster pairwise: one cluster-size^2 matmul per
        # group replaces ~|cluster|^2/2 INTERPRETED HOF cosines per
        # cluster (the production-k bottleneck: 6.3M 64-dim folds at
        # sf10 ran minutes; the matmuls run seconds).  Same one-join
        # relaxation: a member drops if ANY earlier-(rank, id)-ordered
        # member reaches the threshold.  numpy summation order differs
        # from the left-fold in the last ulp, so like assignment this
        # path is capability-exact, not oracle-bit-exact — the k <= 8
        # HOF path below stays the driver-verified one.
        # r15: applyInArrow, not applyInPandas — same zero-copy reshape
        # as assignment (the pandas form re-boxed every embedding element
        # per group); filter on an Arrow boolean mask replaces the pandas
        # row copy.  Identical comparisons, bit-identical survivors.
        import numpy as np

        def _survivors(tbl):
            import pyarrow as pa  # noqa: PLC0415 — executor-side import

            ids = tbl.column("_id").to_numpy(zero_copy_only=False)
            rks = tbl.column("_rk").to_numpy(zero_copy_only=False)
            col = tbl.column("_emb")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if len(ids) and flat.size % len(ids):
                raise ValueError(f"ragged _emb: {flat.size} / {len(ids)}")
            e = flat.reshape(len(ids), -1).astype(np.float64, copy=False)
            n = np.linalg.norm(e, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            e = e / n
            order = np.lexsort((ids, rks))
            eo = e[order]
            m = len(eo)
            # TILED any-earlier check: a full m x m similarity matrix is
            # m^2 doubles — a duplicate-heavy corpus (the exact case
            # semdedup serves) can skew one cluster far past the ~64
            # target and blow the worker; 2048-row/col tiles bound the
            # working set at 32 MB regardless of cluster size.  Same
            # comparisons as the full matmul (a member drops iff ANY
            # earlier-(rank, id) member reaches the threshold).
            # ``_pair_tile`` exists so tests can exercise multi-tile
            # clusters at toy sizes.
            tile = _pair_tile
            drop_ordered = np.zeros(m, dtype=bool)
            for i0 in range(1, m, tile):
                i1 = min(i0 + tile, m)
                block = eo[i0:i1]
                hit = np.zeros(i1 - i0, dtype=bool)
                for j0 in range(0, i1, tile):
                    j1 = min(j0 + tile, i1)
                    s = block @ eo[j0:j1].T
                    if j1 > i0:  # diagonal tile: only j < i counts
                        rows = np.arange(i0, i1)[:, None]
                        cols = np.arange(j0, j1)[None, :]
                        s = np.where(cols < rows, s, -np.inf)
                    hit |= (s >= threshold).any(axis=1)
                drop_ordered[i0:i1] = hit
            dropped = np.zeros(len(ids), dtype=bool)
            dropped[order] = drop_ordered
            return tbl.select(["_id", "_cl", "_rk"]).filter(
                pa.array(~dropped))

        out = assigned.groupBy("_cl").applyInArrow(
            _survivors, schema="_id {}, _cl int, _rk string".format(
                assigned.schema["_id"].dataType.simpleString())
        )
        return out.select(
            F.col("_id").alias(id_col),
            F.col("_cl").alias("cluster"),
            F.col("_rk").alias("keep_rank"),
        )

    a, b = assigned.alias("a"), assigned.alias("b")
    from .similarity import cosine_cols

    dropped = (
        b.join(
            a,
            (F.col("a._cl") == F.col("b._cl"))
            & (
                (F.col("a._rk") < F.col("b._rk"))
                | ((F.col("a._rk") == F.col("b._rk")) & (F.col("a._id") < F.col("b._id")))
            )
            & (cosine_cols(F.col("a._emb"), F.col("b._emb")) >= F.lit(threshold)),
            "left_semi",
        )
        .select(F.col("b._id").alias("_id"))
    )
    return (
        assigned.join(dropped, "_id", "left_anti")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cl").alias("cluster"),
            F.col("_rk").alias("keep_rank"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str | None = None,
    prefix_chars: int | None = None,
) -> DataFrame:
    """Duplicate-cluster resolution with an explicit KEEP policy: for
    every cluster of identical texts (byte-identical by default;
    ``prefix_chars`` clusters on the first N characters instead — the
    boilerplate/template-page case, where docs share a header and differ
    in tails), keep the highest-``quality_col`` member (ties, and the
    default no-quality mode, resolve to the lowest id — deterministic by
    construction) and emit the REMAP TABLE ``(doc_id, keep_id,
    cluster_size)`` for the dropped members — the artifact a pipeline
    actually consumes (repoint references / build the drop list), where
    q24 only reports the winners.

    100 TB shape: one exchange on the text hash; both the keeper choice
    (min/max_by over the cluster) and the cluster size are window
    aggregates over that single partitioning, so the whole operator is
    hash -> one shuffle -> two frame-less window aggs -> filter.  The
    128-bit md5 makes hash collisions ignorable at corpus scale (and a
    collision only ever GROUPS two distinct texts, never drops both:
    the keeper is still a real member).
    """
    from pyspark.sql import Window

    key = F.col(text_col)
    if prefix_chars is not None:
        key = F.substring(key, 1, prefix_chars)
    d = df.withColumn("_h", F.md5(key))
    w = Window.partitionBy("_h")
    if quality_col is None:
        keep = F.min(id_col).over(w)
    else:
        keep = F.min(
            F.struct((-F.col(quality_col)).alias("_negq"), F.col(id_col))
        ).over(w)[id_col]
    return (
        d.withColumn("keep_id", keep)
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .filter((F.col("cluster_size") >= 2) & (F.col(id_col) != F.col("keep_id")))
        .select(id_col, "keep_id", "cluster_size")
    )


def portable_shingle_hashes(
    text_col: Column | str, shingle_n: int = 5
) -> Column:
    """Distinct char-shingle hashes as ``array<bigint>`` in [0, 2^31-1),
    ENGINE-PORTABLE: md5 prefix → hex-to-int → mod p, no xxhash64 — the
    hash-family choice that lets a MinHash pipeline be replayed by any
    engine with md5 (the repo's md5-portability convention, extended
    from sampling/splits to the LSH rung).  The 15-hex-char (60-bit)
    prefix and the 2^31-1 modulus are part of the ORACLE CONTRACT
    (every replay hard-codes them), so they are deliberately not
    parameters (advice r11 removed an ignored ``out_bits`` knob)."""
    grams = char_shingles(text_col, shingle_n)
    return F.transform(
        grams,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(_MERSENNE),
        ),
    )


def portable_minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """The (a, b) affine-mix coefficients of the portable MinHash
    family: drawn ONCE from numpy RandomState(seed) and inlined as
    integer literals on BOTH engines (the q162 oracle replays the same
    list), so the signature is engine-exact by construction."""
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, _MERSENNE)), int(rng.randint(0, _MERSENNE)))
        for _ in range(num_hashes)
    ]


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Portable-family MinHash signatures: md5-prefix shingle hashes
    (portable_shingle_hashes) + ``num_hashes`` affine mixes mod 2^31-1
    with :func:`portable_minhash_coeffs` literals.  Returns
    (id_col, _sig array<bigint>, _sh distinct-shingle-hash array) — one
    per-row JVM map stage, each distinct shingle hashed ONCE.  Shared
    by minhash_lsh_portable (q162) and the portable incremental band
    index (q146c): both rungs replay in DuckDB from the same three
    literal constants (md5 prefix 15, modulus 2^31-1, the coeff list).
    """
    coeffs = portable_minhash_coeffs(num_hashes, seed)
    tmp = "_pmh_shingle_hashes"
    hashed = portable_shingle_hashes(text_col, shingle_n)
    # r16: repartition the raw text by id before the signature map (the
    # q136 r13 lesson): md5-prefix shingles + num_hashes affine mixes
    # per doc are the pipeline's heaviest per-row compute, and the scan
    # feeding them is row-group-parallelism-bound on compact corpora
    # (ONE task at bench scale).  Batch-sized callers (q146c ingest)
    # pay a batch-sized exchange — noise next to the map work it
    # spreads.
    df = df.select(F.col(id_col), F.col(text_col)).repartition(
        F.col(id_col)
    )

    def _minhash(a: int, b: int):
        return F.array_min(
            F.transform(
                F.col(tmp),
                lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE)),
            )
        )

    sig = F.array(*[_minhash(a, b) for a, b in coeffs])
    return (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn(tmp, hashed)
        .withColumn("_sig", sig)
        .withColumn("_sh", F.array_distinct(F.col(tmp)))
        .drop(tmp)
    )


def minhash_lsh_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash→LSH→exact-Jaccard near-dup pairs with a FULLY PORTABLE
    hash family — the oracle-gated twin of the xxhash64 pipeline
    (minhash_signatures → minhash_lsh_candidates → rerank):

    - shingle hash: md5-prefix → int mod p (2^31-1), so any engine
      reproduces it;
    - num_hashes affine mixes (a·h+b mod p) with coefficients drawn
      once from a FIXED seed and inlined as literals on both engines;
    - band key: md5 over the band's '-'-joined minhash values (not
      xxhash64);
    - rerank: EXACT Jaccard over the distinct shingle sets of
      band-colliding pairs only.

    Same scale shape as the production pipeline: signatures are one
    per-row JVM map stage (hash each distinct shingle ONCE, then
    array_min per mix — the CollapseProject discipline of
    minhash_signatures); candidates shuffle O(n·bands) on band keys,
    never n²; the exact rerank touches candidate pairs only.  The
    xxhash64 family stays the production default (one 64-bit hash per
    shingle vs an md5 + string-decode here — measured cheaper); this
    portable twin exists so the LSH rung itself is driver-hash-gated
    (q162) instead of rows-only.

    Returns (id_a, id_b, jaccard) for pairs with jaccard >= threshold,
    id_a < id_b.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    rpb = num_hashes // bands
    d = minhash_signatures_portable(
        df, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle_n=shingle_n, seed=seed,
    )
    buckets = d.select(
        F.col(id_col).alias("_id"),
        F.col("_sh"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.md5(
                    F.concat_ws(
                        "-",
                        F.transform(
                            F.slice(F.col("_sig"), bi * rpb + 1, rpb),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("_band", "_bkey"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bkey") == F.col("b._bkey"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sh").alias("_sha"),
            F.col("b._sh").alias("_shb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # r15: intersection counts via the vectorized Arrow kernel (the _sh
    # arrays are array_distinct int64 mod-(2^31-1) hashes by
    # construction in minhash_signatures_portable — the kernel's
    # contract); division + round stay JVM-side, results bit-identical
    return _pair_jaccard_int64(pairs, threshold)


def simhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with the PORTABLE hash family — the
    oracle-gated twin of simhash_signatures + simhash_neardup_pairs
    (q162's md5 convention applied to the Charikar signature): token
    hash = md5-prefix 60-bit int, signature = 60 sign-sum bits, blocks
    = 4 x 15 bits (pigeonhole: Hamming <= 3 implies >= 1 exact block
    match), exact popcount filter on candidates.  Tokens split on the
    engine-wide '[ \\t\\n\\r\\f]+' class so both engines tokenize
    identically; every stage is integer/bit arithmetic — DuckDB
    replays it end-to-end.  The xxhash64 64-bit family stays the
    production default.  Returns (id_a, id_b, hamming), id_a < id_b.
    """
    # NOTE the doubled backslashes: this pattern goes through the SQL
    # string parser (F.expr), which interprets escapes — a single '\\f'
    # would silently become a literal 'f' IN THE CLASS and strip f's
    # from every token (the simhash_signatures '\\\\s+' precedent)
    hs = (
        "transform(filter(split({t}, '[ \\\\t\\\\n\\\\r\\\\f]+'), w -> w != ''), "
        "t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))"
    ).format(t=text_col)
    sums = (
        f"aggregate({hs}, array_repeat(0, 60), (acc, h) -> zip_with(acc, "
        "transform(sequence(0, 59), i -> CASE WHEN shiftright(h, i) & 1 = 1 "
        "THEN 1 ELSE -1 END), (a, b) -> a + b))"
    )
    sig = (
        "aggregate(zip_with(_ssums, sequence(0, 59), (s, i) -> "
        "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), i) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    d = (
        df.select(F.col(id_col), F.col(text_col))
        .withColumn("_ssums", F.expr(sums))
        .withColumn("_sig", F.expr(sig))
        .drop("_ssums")
    )
    blocks = d.select(
        F.col(id_col).alias("_id"),
        F.col("_sig"),
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), "
                "b -> shiftright(_sig, b * 15) & 32767)"
            )
        ).alias("_b", "_bv"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._b") == F.col("b._b"))
            & (F.col("a._bv") == F.col("b._bv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
            .cast("int")
            .alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def embedding_neardup_portable(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 16,
    seed: int = 42,
    unit: float = 1e6,
    plane_scale: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """SRP embedding near-dup with an ENGINE-EXACT bucketing stage — the
    oracle-gated twin of embedding_neardup_pairs (q162/q163's portable
    convention applied to the vector rung): embeddings quantize to
    integer 1e-6 units (floor(x*1e6+0.5) — exact identical arithmetic
    on any engine), the hyperplanes are INTEGER vectors (standard
    normals × 1000, rounded, drawn once from a fixed seed and inlined
    as literals on both engines), so every sign bit is the sign of an
    exact integer dot product — no float fold order anywhere in the
    bucketing.  The candidate rerank is the exact float cosine rounded
    to 4dp (the q26 oracle convention).  Returns (id_a, id_b, cosine),
    id_a < id_b, cosine >= threshold.

    ``dim``: embedding width; when omitted it is inferred from the
    first row (one bounded Spark job).  An empty input returns an
    empty pair frame instead of failing the inference (advice r11).
    """
    if dim is None:
        first = df.select(emb_col).first()
        if first is None or first[0] is None:
            return df.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine double"
            )
        dim = len(first[0])
    rng = np.random.RandomState(seed)
    planes = [
        [int(round(x * plane_scale)) for x in rng.standard_normal(dim)]
        for _ in range(num_planes)
    ]
    qcol = F.transform(
        F.col("_emb"),
        lambda x: F.floor(x.cast("double") * unit + F.lit(0.5)).cast("long"),
    )

    def bit(plane: list[int]) -> Column:
        lit_plane = F.array(*[F.lit(p) for p in plane])
        dot = F.aggregate(
            F.zip_with(F.col("_q"), lit_plane, lambda x, p: x * p),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, "1").otherwise("0")

    bucketed = (
        df.select(F.col(id_col).alias("_id"), F.col(emb_col).alias("_emb"))
        .withColumn("_q", qcol)
        .withColumn("_bucket", F.concat_ws("", *[bit(p) for p in planes]))
        .drop("_q")
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    from .similarity import cosine_cols

    sim = cosine_cols(F.col("a._emb"), F.col("b._emb"))
    return (
        a.join(
            b,
            (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(sim, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
