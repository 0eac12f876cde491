"""Similarity search over embedding columns (``array<float>``).

North-star extension (SURVEY.md §2.2); not in the reference.

Scale design (100 TB of vectors):

- The **query vector is a literal/broadcast**, never a join side: scoring is
  a pure map stage (one pass, no shuffle), and top-k plans as
  TakeOrderedAndProject — each partition keeps k rows, only k·partitions
  rows reach the driver merge.
- The dot product / norms are **JVM higher-order functions**
  (``zip_with`` + ``aggregate``) in float64 — no Python UDF, no Arrow hop,
  whole-stage codegen keeps it in the scan stage.
- **Measured exception to the no-UDF rule** (round 6): for DENSE
  brute-force scoring the Arrow-batched numpy path
  (:func:`cosine_topk_np` — ``np.stack`` + BLAS matvec per batch)
  beats the HOF form 5.3x at 200k x 64-dim (0.46 s vs 2.45 s; equal
  results): HOF lambdas evaluate per element on the JVM without SIMD,
  while one matmul per Arrow batch is exactly what BLAS is for.  Both
  forms stay: the HOF form is zero-dependency and plans entirely inside
  the scan stage; the numpy form is the measured winner for wide dense
  embeddings.
- The **IVF-style scale path** (`ivf_topk`) clusters once (sampled
  centroids, SRP buckets), then probes only the nearest buckets —
  scan cost drops from O(N) to O(N/buckets · nprobe).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import Layout


def _arrow_type(dt):
    """Arrow type of a Spark atomic type (id columns) — pyspark's own
    converter, so mapInArrow output fields mirror the INPUT id type
    instead of a hardcoded bigint."""
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dt)


def dot_cols(a: Column, b: Column) -> Column:
    """Float64 dot product of two array columns, sequential left-to-right —
    deterministic and bit-identical to a single-threaded oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_cols(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns (float64 end-to-end)."""
    return dot_cols(a, b) / (norm_col(a) * norm_col(b))


def vector_lit(v: Sequence[float]) -> Column:
    """A vector as a literal array<double> column — the 'broadcast' of a
    single query vector (a literal is shipped in the plan, strictly cheaper
    than a broadcast join)."""
    return F.array(*[F.lit(float(x)) for x in v])


def cosine_topk_exact(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_ids: Sequence[int] | None = None,
    sim_alias: str = "sim",
    round_dp: int = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k against one query vector.

    Plan shape: parquet scan → per-row cosine (codegen) →
    TakeOrderedAndProject.  One pass over the data, no shuffle, no UDF —
    the right baseline at any scale; see ``ivf_topk`` for the sublinear path.
    """
    q = vector_lit(query_vec)
    sim = F.round(cosine_cols(F.col(emb_col), q), round_dp).alias(sim_alias)
    out = df.select(F.col(id_col), sim)
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(list(exclude_ids)))
    return out.orderBy(F.desc(sim_alias), id_col).limit(k)


def batch_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    round_dp: int = 4,
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact top-k nearest (cosine) corpus vectors for EVERY query
    vector at once — the multi-query generalization of
    :func:`cosine_topk_exact` (r12): the primitive behind
    dedup-against-an-eval-set and batch retrieval evaluation.

    Ranking key: (round(cosine, 4) DESC, id) — rounded BEFORE ranking
    so the order is engine-portable (the q164 convention: raw float
    folds agree at 4dp; the id tiebreak makes 4dp tie groups
    deterministic).

    Scale shape: queries broadcast (keep |Q| bounded — a constant probe
    set, not a fraction of the corpus); scores are one JVM map stage
    (codegen HOFs, no UDF); top-k is the SALTED TWO-PHASE form — phase
    1 ranks within (query, pmod(id, salt_buckets)) so the full-score
    exchange spreads over |Q| x salt_buckets reducers (a plain
    per-query window would land |corpus| rows on |Q| reducers — the
    q16 skew shape), phase 2 ranks the surviving |Q| x salt x k rows.
    Exact: every global top-k row survives its own salt group's phase-1
    cut.  Returns (qid, rank, id_col, cosine).  This is the
    zero-dependency codegen form; :func:`batch_cosine_topk_np` is the
    measured BLAS production winner (1.4 s vs 7.6 s at sf10 x4 probes,
    identical results — pytest-asserted)."""
    # norms precomputed ONCE per side (r12): cosine_cols would refold
    # the corpus-row norm per probe and the probe norm per corpus row —
    # 3 HOF folds per pair drop to 1 (the dot), measured 16.3 -> 6.7 s
    # at sf10 x4 probes.  Same doubles: the factored expression is
    # dot / (na * nb) with each factor computed by the identical fold.
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(emb_col).alias("_qe"),
        norm_col(F.col(emb_col)).alias("_qn"),
    )
    # r16: repartition the corpus vectors by id before the per-pair HOF
    # folds (the q136 r13 lesson, embeddings edition): the embeddings
    # scan is row-group-parallelism-bound (ONE row group at bench
    # scales, 4 at sf100), and the |Q|-way dot/norm folds — interpreted
    # per element, this form's dominant cost — otherwise run on one
    # task.  sf10 x4 probes: 7.7-9.8 s -> 1.1-2.3 s, digests identical.
    # The BLAS twin (batch_cosine_topk_np) measured the same exchange
    # as a NET LOSS warm (0.6-0.8 s -> 0.9-1.0 s: its kernel is faster
    # than the vector movement) and stays scan-partitioned.
    scored = corpus.select(
        F.col(id_col), F.col(emb_col)
    ).repartition(F.col(id_col)).select(
        F.col(id_col),
        F.col(emb_col),
        norm_col(F.col(emb_col)).alias("_cn"),
    ).join(F.broadcast(q)).select(
        "qid",
        F.col(id_col),
        F.round(
            dot_cols(F.col(emb_col), F.col("_qe"))
            / (F.col("_cn") * F.col("_qn")),
            round_dp,
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    # salt = hash of the id (not the id itself): works for any id type
    # and spreads uniformly; two-phase exactness never depends on the
    # salt assignment
    salted = scored.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("qid", "_salt").orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    cand = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", id_col, "cosine")
    )


def cosine_topk_np(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    exclude_ids: Sequence[int] | None = None,
    sim_alias: str = "sim",
    round_dp: int = 4,
) -> DataFrame:
    """Exact cosine top-k scored by numpy per Arrow batch — the measured
    fast path for dense embeddings (module docstring has the A/B).

    Per ``mapInArrow`` batch (round 7; previously ``mapInPandas`` —
    Arrow skips the pandas object-boxing round-trip entirely, measured
    0.50 s → 0.41 s at sf10/200 k vectors): the list column's values
    buffer reshapes straight into an (n, dim) matrix (zero per-row
    work), one BLAS matvec against the unit query, round, and keep only
    the batch-local top ``max(4k, 32)`` rows (tie-safe: lexsorted by
    (sim desc, id asc) before the head, so boundary ties resolve
    exactly as the global order does).  The global ``orderBy ... limit
    k`` then plans as TakeOrderedAndProject over the pruned stream —
    identical results to :func:`cosine_topk_exact`, asserted in tests.
    """
    qn = np.asarray(query_vec, dtype=np.float64)
    qn = qn / (np.linalg.norm(qn) or 1.0)
    keep = max(4 * k, 32)
    # id field type mirrors the input (not a hardcoded bigint): an
    # int/string id column must survive the Arrow schema check and come
    # back in its own type, like the non-np twin
    id_dt = df.schema[id_col].dataType
    id_pa = _arrow_type(id_dt)
    schema = f"{id_col} {id_dt.simpleString()}, {sim_alias} double"

    def _score(batches):
        import pyarrow as pa  # noqa: PLC0415 — executor-side import

        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(id_col).to_numpy(zero_copy_only=False)
            col = b.column(emb_col)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            flat = col.flatten().to_numpy(zero_copy_only=False)
            # constant-dim contract (same as np.stack's): ragged input
            # would silently mis-reshape, so fail loudly instead
            if flat.size % len(ids):
                raise ValueError(f"ragged {emb_col}: {flat.size} / {len(ids)}")
            m = flat.reshape(len(ids), -1).astype(np.float64, copy=False)
            sims = np.round((m @ qn) / (np.linalg.norm(m, axis=1) + 1e-300),
                            round_dp)
            order = np.lexsort((ids, -sims))[:keep]
            yield pa.record_batch(
                [pa.array(ids[order]).cast(id_pa),
                 pa.array(sims[order], type=pa.float64())],
                names=[id_col, sim_alias],
            )

    out = df.select(id_col, emb_col)
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(list(exclude_ids)))
    scored = out.mapInArrow(_score, schema=schema)
    return scored.orderBy(F.desc(sim_alias), id_col).limit(k)


def batch_cosine_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """The BLAS production path of :func:`batch_cosine_topk` — one
    matmul per Arrow batch against the probe matrix (the
    cosine_topk_np measured-exception pattern: HOF lambdas evaluate
    per element without SIMD; a (batch x dim) @ (dim x |Q|) matmul is
    what BLAS is for).  The probe set is COLLECTED to the driver (it
    is bounded by contract — a constant probe set, never a corpus
    fraction) and closed over; per batch each probe keeps its top
    ``max(4k, 32)`` rows under the FINAL ordering key (rounded cosine
    desc, id asc — lexsorted, so boundary ties prune exactly as the
    global order resolves them), and one per-qid window ranks the
    pruned candidate stream.  Identical results to the HOF form,
    asserted in tests."""
    from pyspark.sql import Window

    # qid/id field types mirror the inputs (not hardcoded long): an
    # int/string id column must survive mapInArrow's schema check, and
    # the empty-probe return schema must match the HOF twin's
    qid_dt = queries.schema[id_col].dataType
    cid_dt = corpus.schema[id_col].dataType
    qid_pa, cid_pa = _arrow_type(qid_dt), _arrow_type(cid_dt)
    rows = queries.select(id_col, emb_col).collect()
    if not rows:
        return corpus.sparkSession.createDataFrame(
            [],
            f"qid {qid_dt.simpleString()}, rank int, "
            f"{id_col} {cid_dt.simpleString()}, cosine double",
        )
    qids = [r[0] for r in rows]
    qm = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1) + 1e-300  # (|Q|,)
    keep = max(4 * k, 32)
    schema = (
        f"qid {qid_dt.simpleString()}, {id_col} {cid_dt.simpleString()}, "
        "cosine double"
    )

    def _score(batches):
        import pyarrow as pa  # noqa: PLC0415 — executor-side import

        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(id_col).to_numpy(zero_copy_only=False)
            col = b.column(emb_col)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size % len(ids):
                raise ValueError(f"ragged {emb_col}: {flat.size} / {len(ids)}")
            m = flat.reshape(len(ids), -1).astype(np.float64, copy=False)
            mn = np.linalg.norm(m, axis=1, keepdims=True) + 1e-300
            # dot-then-divide, the same algebraic form as the HOF path
            # (fold order still differs — BLAS pairwise vs sequential;
            # equality at round_dp is asserted in tests)
            sims = np.round((m @ qm.T) / (mn * qnorm[None, :]), round_dp)
            out_q, out_i, out_s = [], [], []
            for j in range(len(qids)):
                order = np.lexsort((ids, -sims[:, j]))[:keep]
                out_q.extend([qids[j]] * len(order))
                out_i.append(ids[order])
                out_s.append(sims[order, j])
            yield pa.record_batch(
                [pa.array(out_q, type=qid_pa),
                 pa.array(np.concatenate(out_i)).cast(cid_pa),
                 pa.array(np.concatenate(out_s), type=pa.float64())],
                names=["qid", id_col, "cosine"],
            )

    cand = corpus.select(id_col, emb_col).mapInArrow(_score, schema=schema)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", id_col, "cosine")
    )


def _srp_bucket(emb_col: str, planes: np.ndarray) -> Column:
    """Signed-random-projection bucket id (one bit per hyperplane)."""
    bits = []
    for i, p in enumerate(planes):
        d = dot_cols(F.col(emb_col), vector_lit(p))
        bits.append(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_bucketed_ann(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    multiprobe_hamming: int = 1,
    sim_alias: str = "sim",
    round_dp: int = 4,
) -> DataFrame:
    """Approximate top-k: SRP-LSH bucketing + exact rerank inside the
    query's bucket (and buckets within ``multiprobe_hamming`` bit flips —
    multi-probe raises recall without more tables).

    Scale path: persist ``df`` pre-bucketed (partitionBy(bucket)) and the
    probe becomes partition pruning — the scan touches ~nprobe/2^planes of
    the data instead of all of it.
    """
    dim = len(query_vec)
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((num_planes, dim))

    qv = np.asarray(query_vec, dtype=np.float64)
    qbits = sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, qv)) >= 0)
    probe = {qbits}
    if multiprobe_hamming >= 1:
        for i in range(num_planes):
            probe.add(qbits ^ (1 << i))

    bucketed = df.withColumn("_bucket", _srp_bucket(emb_col, planes))
    cand = bucketed.filter(F.col("_bucket").isin(sorted(probe)))
    sim = F.round(cosine_cols(F.col(emb_col), vector_lit(query_vec)), round_dp)
    return (
        cand.select(F.col(id_col), sim.alias(sim_alias))
        .orderBy(F.desc(sim_alias), id_col)
        .limit(k)
    )


def _train_centroids(
    df: DataFrame,
    dim: int,
    num_centroids: int,
    emb_col: str,
    seed: int,
    sample_fraction: float,
) -> np.ndarray:
    """DISTRIBUTED k-means over the full vector table —
    ``pyspark.ml.clustering.KMeans`` (k-means|| init, deterministic
    seed).  No ``collect()`` of raw vectors anywhere in the training
    path: the executors hold the data, the driver only receives the
    ``k`` centroid vectors (metadata-sized at any data scale).  This
    replaces the r1–r9 driver-side Lloyd-on-a-sample, whose
    ``limit(k*64)`` sample stops being representative at 100 TB and
    whose O(sample × k) numpy loop ran on the driver.

    ``sample_fraction < 1`` still bounds the TRAINING cost (a
    distributed ``df.sample`` — uniform per-partition, never
    driver-side) while the assignment downstream always covers every
    row; centroid stability across sessions is owned by
    :func:`ensure_ivf_layout`'s persisted ``*_centroids`` table, not by
    retraining determinism."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df
    if sample_fraction < 1.0:
        train = train.sample(fraction=sample_fraction, seed=seed)
    vecs = train.select(
        array_to_vector(F.col(emb_col).cast("array<double>")).alias("features")
    )
    model = KMeans(
        k=num_centroids, seed=seed, maxIter=10, initMode="k-means||"
    ).fit(vecs)
    return np.array(
        [np.asarray(c) for c in model.clusterCenters()], dtype=np.float64
    ).reshape(-1, dim)


def _cell_assignment(centroids: np.ndarray, emb_col: str) -> Column:
    """Nearest-cell id as one JVM expression: argmax over centroid dots —
    the assignment stays in whole-stage codegen, no Python per row."""
    cells = F.array(*[
        F.struct(dot_cols(F.col(emb_col), vector_lit(c)).alias("d"),
                 F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)
    ])
    return F.array_max(cells)["cell"]


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    num_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    sample_fraction: float = 0.1,
    sim_alias: str = "sim",
    round_dp: int = 4,
) -> DataFrame:
    """IVF-flat style ANN: train centroids (DISTRIBUTED k-means,
    :func:`_train_centroids`) → assign each vector to its nearest
    centroid → probe the ``nprobe`` centroids nearest the query →
    exact cosine rerank within probed cells.

    At scale the assignment is written once (``partitionBy(cell)``) and
    queries prune to nprobe cells — :func:`ensure_ivf_layout` /
    :func:`ivf_topk_at_rest` are that persisted form.  Probing every
    cell (nprobe = num_centroids) is exhaustive and must equal exact
    top-k regardless of centroid quality — the pytest contract.
    """
    centroids = _train_centroids(
        df, len(query_vec), num_centroids, emb_col, seed, sample_fraction
    )
    best = _cell_assignment(centroids, emb_col)

    qv = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort([-float(np.dot(c, qv)) for c in centroids])
    probe_cells = [int(c) for c in order[:nprobe]]

    sim = F.round(cosine_cols(F.col(emb_col), vector_lit(query_vec)), round_dp)
    return (
        df.withColumn("_cell", best)
        .filter(F.col("_cell").isin(probe_cells))
        .select(F.col(id_col), sim.alias(sim_alias))
        .orderBy(F.desc(sim_alias), id_col)
        .limit(k)
    )


def _ivf_layouts(
    name: str, source_paths, assigned=None, train=None
) -> tuple[Layout, Layout]:
    """The IVF cell layout (``name``, hive-partitioned by ``cell``) and
    its ``{name}_centroids`` sidecar, both fingerprint-named."""
    return (
        Layout(name, assigned, source_paths, partition_by="cell"),
        Layout(f"{name}_centroids", train, source_paths),
    )


def _centroid_array(centroids: DataFrame) -> np.ndarray:
    rows = centroids.orderBy("cell").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ensure_ivf_layout(
    spark,
    name: str,
    build_df,
    dim: int,
    num_centroids: int = 16,
    emb_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float = 0.1,
    source_paths: str | list[str] | None = None,
) -> DataFrame:
    """The PERSISTED form of :func:`ivf_topk`'s cell layout: assign every
    vector to its nearest centroid once, write hive-partitioned by
    ``cell`` (:class:`sources.Layout` with ``partition_by="cell"`` —
    fingerprint staleness, catalog/DDL/write resolution), and store the
    trained centroids alongside as a ``{name}_centroids`` layout so a
    cold session probes the SAME cells: the sidecar resolves first and
    re-registers from the warehouse when the catalog has forgotten it —
    retraining (distributed k-means whose k-means|| init depends on
    data partitioning) could silently move the cell boundaries the
    persisted layout was assigned under.

    At 100 TB this is the difference between ANN as a full scan with a
    cheap filter and ANN as planning-time partition pruning: a probe of
    ``nprobe`` of ``num_centroids`` cells reads ~nprobe/num_centroids of
    the bytes, verified by ``PartitionFilters`` in the scan node
    (tests/test_llm_ops.py plan assertion)."""

    def _train():
        centroids = _train_centroids(
            build_df(), dim, num_centroids, emb_col, seed, sample_fraction
        )
        return spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cell int, centroid array<double>",
        )

    def _assigned():
        return build_df().withColumn(
            "cell", _cell_assignment(centroids, emb_col)
        )

    cells, cents = _ivf_layouts(name, source_paths, _assigned, _train)
    centroids = _centroid_array(cents.ensure(spark))
    return cells.ensure(spark)


def ivf_topk_at_rest(
    spark,
    name: str,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    source_paths: str | list[str] | None = None,
    sim_alias: str = "sim",
    round_dp: int = 4,
) -> DataFrame:
    """ANN probe against an :func:`ensure_ivf_layout` table: rank the
    persisted centroids by query dot (a ≤num_centroids-row driver hop),
    read ONLY the ``nprobe`` nearest cell partitions (planning-time
    pruning — the scan never opens the other directories), exact cosine
    rerank within them, TakeOrderedAndProject top-k."""
    cells, cents = _ivf_layouts(name, source_paths)
    centroids = _centroid_array(spark.table(cents.table_name()))
    qv = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort([-float(np.dot(c, qv)) for c in centroids])
    probe_cells = [int(c) for c in order[:nprobe]]

    sim = F.round(cosine_cols(F.col(emb_col), vector_lit(query_vec)), round_dp)
    return (
        spark.table(cells.table_name())
        .filter(F.col("cell").isin(probe_cells))
        .select(F.col(id_col), sim.alias(sim_alias))
        .orderBy(F.desc(sim_alias), id_col)
        .limit(k)
    )


def centroid_drift(
    df: DataFrame,
    emb_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group embedding-space drift: the cosine between each group's
    centroid and the GLOBAL centroid, plus the centroid's norm — the
    embedding-space complement of q127's value-space PSI ("is segment
    X's content systematically off-axis from the corpus", the first
    check when a mixture or a scraped slice looks contaminated).

    Exactness: per-dimension component sums are DECIMAL(28,9) casts
    (deterministic float->decimal rounding both engines, convention D2)
    summed exactly, so both centroids are bit-identical doubles after
    one division; the final dot/norms fold over components in DIMENSION
    ORDER via sorted-array left-folds (the q26 discipline), one rounded
    output per group.

    100 TB shape: one (group, dim) partial-combine aggregate over the
    exploded components (the only full-data pass); the global centroid
    re-aggregates the group STATE (groups x dims rows); everything
    after is broadcast-sized.  No windows, no driver math.
    """
    pe = df.select(
        F.col(group_col), F.posexplode(emb_col).alias("dim", "_x")
    )
    per = pe.groupBy(group_col, "dim").agg(
        F.sum(F.col("_x").cast("decimal(28,9)")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    g = per.groupBy("dim").agg(
        F.sum("_s").alias("_gs"), F.sum("_n").alias("_gn")
    )
    comp = per.join(F.broadcast(g), "dim").select(
        group_col,
        "dim",
        (F.col("_s").cast("double") / F.col("_n")).alias("_m"),
        (F.col("_gs").cast("double") / F.col("_gn")).alias("_gm"),
        (F.col("_n")).alias("_n"),
    )
    arrs = comp.groupBy(group_col).agg(
        F.sort_array(F.collect_list(F.struct("dim", "_m", "_gm"))).alias("_a"),
        F.max("_n").alias("n_vectors"),
    )
    dot = F.aggregate(
        "_a", F.lit(0.0), lambda acc, x: acc + x["_m"] * x["_gm"]
    )
    ns = F.sqrt(
        F.aggregate("_a", F.lit(0.0), lambda acc, x: acc + x["_m"] * x["_m"])
    )
    ng = F.sqrt(
        F.aggregate("_a", F.lit(0.0), lambda acc, x: acc + x["_gm"] * x["_gm"])
    )
    return arrs.select(
        group_col,
        "n_vectors",
        F.round(dot / (ns * ng), 6).alias("cos_to_global"),
        F.round(ns, 6).alias("centroid_norm"),
    )


def ann_recall_gate(
    df: DataFrame,
    probe_ids: Sequence[int],
    k: int = 5,
    lsh_floor: float = 0.25,
    ivf_floor: float = 0.45,
    num_planes: int = 6,
    num_centroids: int = 8,
    nprobe: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Measured RECALL CONTRACT for the approximate similarity paths
    (r14 — verdict r13 #10): recall@k of :func:`lsh_bucketed_ann` and
    :func:`ivf_topk` against the exact brute-force baseline
    (:func:`cosine_topk_exact`) over a FIXED probe set with FIXED
    seeds, reduced to a floor check — one row per method,
    ``(method, k, param, floor, floor_met)``.

    This turns "approximate by declared class" into a gated scalar:
    the ANN entries themselves stay rows-only (their output is
    legitimately engine-specific), but the driver hash on this gate
    fails the round if either method's recall ever drops below its
    floor — a recall regression is now a correctness failure, not a
    silent quality drift.  Floors sit ~40% under the measured fixture
    recall (LSH 0.35, IVF 0.65 at sf0.01, 4 probes) so seed-stable
    jitter cannot flake the gate while a real regression (broken
    bucketing, degenerate centroids) trips it.

    Driver-side loop over ``len(probe_ids) x 2`` bounded jobs — |Q| is
    a fixed probe set (the q167 convention), never a corpus fraction.
    """
    rows = []
    spark = df.sparkSession
    for method, floor, param in (
        ("lsh", lsh_floor, num_planes),
        ("ivf", ivf_floor, nprobe),
    ):
        recalls = []
        for pid in probe_ids:
            qvec = (
                df.filter(F.col(id_col) == pid).select(emb_col).first()[0]
            )
            exact = {
                r[0] for r in cosine_topk_exact(
                    df, qvec, k=k, id_col=id_col, emb_col=emb_col
                ).collect()
            }
            if method == "lsh":
                ap = lsh_bucketed_ann(
                    df, qvec, k=k, id_col=id_col, emb_col=emb_col,
                    num_planes=num_planes,
                )
            else:
                ap = ivf_topk(
                    df, qvec, k=k, id_col=id_col, emb_col=emb_col,
                    num_centroids=num_centroids, nprobe=nprobe,
                )
            got = {r[0] for r in ap.collect()}
            recalls.append(len(got & exact) / float(k))
        mean_recall = sum(recalls) / len(recalls)
        rows.append((method, k, param, floor, bool(mean_recall >= floor)))
    return spark.createDataFrame(
        rows,
        "method string, k int, param int, floor double, floor_met boolean",
    )
