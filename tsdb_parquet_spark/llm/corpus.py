"""Corpus-level training-data-pipeline operators: deterministic
train/validation splitting, benchmark decontamination, and repetition
(duplicate-n-gram) quality statistics.

North-star extension (SURVEY.md §2.2); not in the reference.  These are
the corpus-management steps an LLM data pipeline runs between dedup
(``llm/dedup.py``) and tokenization (``llm/text.py``).

100 TB posture:

- ``split_corpus`` is a pure map stage (one md5 per row, no shuffle, no
  RNG state): the split is a function of the document id alone, so it is
  reproducible across runs, machines and engines, and any subset of the
  corpus can be split independently — exactly why production pipelines
  hash-split instead of ``rand()``.
- ``decontaminate`` broadcasts the benchmark n-gram set (benchmarks are
  KBs-to-MBs against a 100 TB corpus) so the overlap check is a map-side
  semi join: no shuffle of the corpus, only the per-doc dedup of matched
  n-grams aggregates (keyed by doc_id — pre-partitioned data needs no
  extra exchange).
- ``repetition_stats`` is per-row higher-order-function arithmetic over
  the token array — zero Python, zero shuffle; the n-gram array is
  bounded by document length (cap long docs upstream via ``n_chars``).
- ``sample_mixture`` is the same pure-map-hash device as
  ``split_corpus`` applied to data-recipe mixing: per-source epoch
  counts with a deterministic fractional keep — no shuffle, no RNG
  state, output proportions exact in expectation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.partitioning import shuffle_partitions
from .text import tokens_col


def word_ngrams_from(toks: Column, n: int = 8) -> Column:
    """Space-joined word n-grams from an ALREADY-MATERIALIZED token
    array column.  The lambda's ``slice(toks, i, n)`` re-evaluates its
    argument per element; when ``toks`` is a bound column reference
    that's a pointer read, but when it's a derived split/filter subtree
    the whole tokenization re-runs for EVERY n-gram index — quadratic
    per document (measured 290 s for 22 M n-grams at sf10, 13x the
    staged form).  Callers must therefore stage the token array in its
    own projection first (cf. llm/text.gopher_rules' staging note)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(text_col: Column | str, n: int = 8,
                lowercase: bool = True) -> Column:
    """Space-joined word n-grams as an array column (empty when the
    document has fewer than ``n`` tokens).  Convenience form for small
    inputs/tests — it inlines the tokenizer into the n-gram lambda, so
    hot paths should stage tokens and use :func:`word_ngrams_from`
    (quadratic-per-doc note there)."""
    return word_ngrams_from(tokens_col(text_col, lowercase=lowercase), n)


def _exploded_ngrams(df: DataFrame, cols: list[str], text_col: str,
                     n: int, alias: str = "_ng") -> DataFrame:
    """(cols..., exploded n-gram) with the token array STAGED in its own
    projection (Generate keeps the project below it, so the split runs
    once per row, not once per n-gram)."""
    staged = df.select(*cols, tokens_col(text_col).alias("_wng_toks"))
    return staged.select(
        *cols, F.explode(word_ngrams_from(F.col("_wng_toks"), n)).alias(alias)
    )


def _split_threshold(val_frac: float) -> str:
    """The md5-prefix cut for a Bernoulli(val_frac) hex compare.  At
    val_frac=1.0 the naive ``format(16**8, '08x')`` is the NINE-char
    string '100000000', which every 8-char prefix compares ABOVE
    lexicographically (all-train instead of all-val); clamp to 'g',
    which orders after every hex digit, so the boundary cases are exact
    at both ends while fractional thresholds keep the nesting
    property."""
    if not (0.0 <= val_frac <= 1.0):
        raise ValueError(f"val_frac must be in [0,1], got {val_frac}")
    t = int(val_frac * 16 ** 8)
    return "g" if t >= 16 ** 8 else format(t, "08x")


def split_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.05,
    salt: str = "v1",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic hash-based train/validation split.

    ``md5(id || salt)`` is uniform in hex space, so comparing its first 8
    hex chars against ``floor(val_frac · 16^8)`` in hex yields an
    engine-portable Bernoulli(val_frac) assignment (DuckDB and Spark md5
    agree byte-for-byte; the comparison is plain string ordering on
    lowercase hex).  Changing ``salt`` re-rolls the split; changing
    ``val_frac`` only moves the boundary, so val sets nest monotonically
    — a 5% val set contains the 1% one, handy for scaling studies.
    """
    threshold = _split_threshold(val_frac)
    h = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
    )
    return df.withColumn(
        split_col, F.when(h < threshold, "val").otherwise("train")
    )


def leakage_safe_split(
    df: DataFrame,
    cluster_df: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    val_frac: float = 0.05,
    salt: str = "v1",
    split_col: str = "split",
) -> DataFrame:
    """Train/validation split that NEVER separates duplicates: the
    Bernoulli hash is keyed on the document's DEDUP CLUSTER instead of
    its id, so every member of a duplicate (or near-duplicate) cluster
    lands in the same split — the leakage guard :func:`split_corpus`
    cannot give (a val doc whose exact/near copy sits in train is a
    leaked eval item; Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better" measures the inflation).

    ``cluster_df`` is any (id, cluster) mapping from the dedup family —
    exact fingerprints (`llm/text.doc_fingerprint`), MinHash-LSH
    connected components (`llm/dedup.dedup_clusters`), or SemDeDup
    clusters; the guard is as strong as the clustering is.  Same
    md5-prefix convention as :func:`split_corpus` (nesting val sets,
    salt re-rolls), same engine portability.

    100 TB shape: one id-keyed join (broadcast when the mapping is
    small; the mapping is also the dedup output you already have at
    rest) + a map-stage hash compare.  Docs absent from ``cluster_df``
    fall back to their own id as a singleton cluster, so the split
    stays total.
    """
    threshold = _split_threshold(val_frac)
    m = cluster_df.select(
        F.col(id_col), F.col(cluster_col).alias("_clk")
    )
    key = F.coalesce(
        F.col("_clk").cast("string"), F.col(id_col).cast("string")
    )
    h = F.substring(F.md5(F.concat(key, F.lit(salt))), 1, 8)
    return (
        df.join(m, id_col, "left")
        .withColumn(split_col, F.when(h < threshold, "val").otherwise("train"))
        .drop("_clk")
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """EXACT-quota stratified sample: precisely ``n_per_stratum`` rows
    per stratum (fewer only when the stratum is smaller) — the balanced-
    subset step (per-source eval slices, per-language calibration sets)
    that :func:`sample_mixture`'s Bernoulli fractions can't guarantee.

    Deterministic and engine-portable via the :func:`split_corpus`
    convention: rank rows inside each stratum by ``md5(id || salt)``
    (ties impossible for distinct ids) and keep rank ≤ n.  The kept SET
    is a pure function of (ids, salt, n) — independent of partitioning,
    row order, and engine — and quotas NEST: the n=100 sample contains
    the n=50 one, so growing a slice never resamples it.

    100 TB shape: one shuffle on the stratum (the window partition);
    ``row_number`` needs no global sort.  Skewed strata sort only their
    own partition; for a pathological mega-stratum, pre-filter with a
    Bernoulli pass at ~4·n/|stratum| before ranking (hash-prefix
    monotone, so the pre-filter provably keeps the final sample)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(stratum_col).orderBy(h.asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    one word ``n``-gram with the benchmark set (the standard GPT-3/PaLM
    style 8-gram-collision check).

    Returns ``docs`` plus ``n_hits`` (count of DISTINCT benchmark n-grams
    present in the doc) and ``contaminated``.  The benchmark n-gram set is
    deduped and broadcast — the corpus side never shuffles for the join;
    the only aggregation is per-doc over matched n-grams.
    """
    # r16: repartition BOTH raw-text sides before their tokenize+explode
    # (the q136 r13 lesson finally applied here): row-group-bound scan
    # parallelism ran the whole corpus n-gram explode + broadcast probe
    # on ONE task over compact corpora — measured 47.2 s -> 9.1 s at
    # sf10 (500 k docs, one parquet row group).  The docs side keys on
    # id (consumed by the per-doc hit aggregate below); the benchmark
    # side is round-robin (its n-grams feed an _ng-keyed distinct).
    _n_part = shuffle_partitions(docs.sparkSession)
    bench_ngrams = _exploded_ngrams(
        benchmark.select(text_col).repartition(_n_part), [], text_col, n
    ).distinct()
    # Per-doc distinct computed MAP-SIDE (array_distinct before the
    # explode): identical to .distinct() over (id, _ng) when ids are
    # unique (the operator's contract — one row per document), and it
    # removes the full-width exchange that .distinct() planned over
    # EVERY exploded corpus n-gram (r15: at corpus scale that exchange
    # was the single largest intermediate in the query; the only
    # remaining shuffle is the hit-sized per-doc count).
    staged = (
        docs.select(id_col, text_col)
        .repartition(F.col(id_col))
        .select(id_col, tokens_col(text_col).alias("_dc_toks"))
    )
    doc_ngrams = staged.select(
        id_col,
        F.explode(
            F.array_distinct(word_ngrams_from(F.col("_dc_toks"), n))
        ).alias("_ng"),
    )
    hits = (
        doc_ngrams.join(F.broadcast(bench_ngrams), "_ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Gopher-style repetition quality signal: the fraction of duplicate
    word ``n``-grams per document (1 − distinct/total).  Boilerplate and
    degenerate machine text score high; natural prose scores near 0.

    Adds ``n_ngrams``, ``n_distinct``, ``dup_frac`` (NULL when the doc is
    shorter than ``n`` tokens) and the boolean ``repetitive`` flag.
    Pure per-row expression — map stage only.
    """
    # stage tokens, then the n-gram array (each multiply-referenced —
    # CollapseProject keeps them materialized; see word_ngrams_from)
    staged = docs.withColumn(
        "_rs_toks", tokens_col(text_col)
    ).withColumn("_rs_ng", word_ngrams_from(F.col("_rs_toks"), n))
    total = F.size(F.col("_rs_ng"))
    distinct = F.size(F.array_distinct(F.col("_rs_ng")))
    dup_frac = F.when(
        total > 0, 1.0 - distinct.cast("double") / total.cast("double")
    )
    return (
        staged.withColumn("n_ngrams", total)
        .withColumn("n_distinct", distinct)
        .withColumn("dup_frac", dup_frac)
        .withColumn(
            "repetitive", F.coalesce(F.col("dup_frac") > threshold, F.lit(False))
        )
        .drop("_rs_toks", "_rs_ng")
    )


def cross_doc_ngram_dup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Corpus-level exact substring duplication (the n-gram-granular form
    of "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): per document, the fraction of its DISTINCT word n-grams
    that also occur in at least one OTHER document.  High ``shared_frac``
    marks boilerplate, mirrored articles, and template text that
    document-level dedup (exact or MinHash) misses because the containing
    documents differ.

    Scale shape: after the per-doc explode+distinct, every shuffle carries
    ``(xxhash64(ngram), doc_id)`` — 16 bytes per distinct n-gram, never
    text.  Corpus-wide counts and per-doc rollup are two hash aggregates;
    there is no pairwise document comparison anywhere (the op is linear in
    corpus size, unlike suffix-array construction — the tradeoff is n-gram
    granularity instead of arbitrary-length spans).

    Adds ``n_ngrams`` (distinct n-grams in doc), ``n_shared`` (of those,
    how many appear elsewhere), ``shared_frac``.
    """
    pairs = (
        _exploded_ngrams(docs, [id_col], text_col, n)
        .select(id_col, F.xxhash64("_ng").alias("_h"))
        .distinct()
    )
    # pairs is distinct on (doc, hash) → count per hash = distinct docs
    counts = pairs.groupBy("_h").agg(F.count(F.lit(1)).alias("_docs"))
    per_doc = (
        pairs.join(counts, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum((F.col("_docs") > 1).cast("bigint")).alias("n_shared"),
        )
    )
    return (
        docs.select(id_col).join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.when(
                F.coalesce("n_ngrams", F.lit(0)) > 0,
                F.round(F.col("n_shared") / F.col("n_ngrams"), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("shared_frac"),
        )
    )


def sample_mixture(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix1",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Per-source mixture sampling with deterministic epoch semantics —
    the data-recipe step that turns raw source proportions into training
    proportions (the LLaMA/Pile "epochs per source" pattern).

    A source weight ``w`` means every document of that source appears
    ``floor(w)`` times, plus one more with probability ``frac(w)`` —
    so the EXPECTED copy count is exactly ``w`` and upsampled sources
    emit whole "epochs" (``epoch_col`` = 1..copies) rather than random
    duplicates.  The fractional keep is Bernoulli on the first 8 hex
    chars of ``md5(id || salt)`` (the ``split_corpus`` device): no RNG
    state, engine-portable, re-rolled by ``salt``, and independent of
    the train/val split's hash (different salt).  ``w = 0`` drops the
    source entirely; sources absent from ``weights`` get
    ``default_weight``.

    100 TB posture: pure map stage — a per-row literal-map lookup, one
    md5, and an ``explode(sequence(...))`` whose fan-out is the copy
    count; no shuffle, no driver state, any partition samples
    independently.  (Contrast ``df.sample``: seeded per-partition RNG,
    so the kept SET changes with partitioning — this one is a function
    of the data alone.)
    """
    if any(w < 0 for w in weights.values()) or default_weight < 0:
        raise ValueError("mixture weights must be >= 0")
    base_items: list[Column] = []
    frac_items: list[Column] = []
    for src in sorted(weights):
        w = weights[src]
        base_items += [F.lit(src), F.lit(int(w))]
        frac_items += [F.lit(src), F.lit(format(int((w - int(w)) * 16**8), "08x"))]
    def_thr = format(int((default_weight - int(default_weight)) * 16**8), "08x")
    base = F.coalesce(
        F.create_map(*base_items)[F.col(source_col)], F.lit(int(default_weight))
    )
    thr = F.coalesce(
        F.create_map(*frac_items)[F.col(source_col)], F.lit(def_thr)
    )
    u = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
    )
    copies = base + F.when(u < thr, F.lit(1)).otherwise(F.lit(0))
    # sequence(1, 0) would count DOWN ([1, 0]); guard so 0 copies explodes
    # to nothing and the row is dropped
    epochs = F.when(copies >= 1, F.sequence(F.lit(1), copies)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(epoch_col, F.explode(epochs))


def shuffle_shards(
    df: DataFrame,
    num_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic global training shuffle: assign each document a
    shard and a within-shard position from ``md5(id || ':' || salt)`` —
    the shuffle-before-training step of a pre-training data pipeline
    (documents must reach the trainer in an order uncorrelated with
    crawl/source order, yet reproducible for restarts and ablations).

    The permutation is a pure function of (id, salt): independent of
    input partitioning, re-rolled by changing ``salt``, and stable under
    re-runs — no RNG state, unlike ``df.orderBy(rand())``.  Shard = the
    key's first 8 hex chars mod ``num_shards`` (uniform); position =
    rank of the full hex key within the shard.

    Scale shape: one hash-partition exchange on ``shard`` + an in-
    partition sort — NEVER a global single-partition ``ORDER BY``.  At
    100 TB ``num_shards`` is the output-file count (thousands), so the
    per-shard window parallelizes across the cluster; writing with
    ``partitionBy(shard)`` after this is a straight map of the same
    partitioning.
    """
    from pyspark.sql import Window

    key = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.lit(salt))
    )
    # first 8 hex chars -> long (max 0xffffffff, always positive)
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
        % F.lit(num_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.withColumn("shuffle_key", key)
        .withColumn("shard", shard)
        .withColumn("pos", (F.row_number().over(w) - F.lit(1)).cast("int"))
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "ws1",
    group_col: str | None = None,
    key_alias: str = "sample_key",
    round_dp: int = 9,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006 A-Res): each row gets rank key ``u^(1/w)`` for a
    uniform ``u`` — the top-k keys are exactly a weight-proportional
    sample without replacement.  The corpus-curation step between
    ``sample_mixture`` (expected-count Bernoulli, WITH replacement
    semantics) and ``stratified_sample`` (uniform within strata): "pick
    k docs, longer/higher-quality ones proportionally likelier, no
    duplicates".

    Engine-portable determinism (the split_corpus hash device): ``u`` =
    the md5(id||salt) 60-bit prefix scaled to (0, 1] — an exact dyadic
    whose int64->double rounding is IEEE-identical everywhere — and the
    rank compares ``round(ln(u)/w, round_dp)`` (monotone transform of
    ``u^(1/w)``; the round absorbs cross-libm ln ulps, the Q91 BM25
    device) with ``id`` as tiebreak.  Keys are a pure per-row function,
    so samples NEST (top-5 of the same salt is a subset of top-10) and
    re-roll by salt, like ``stratified_sample``'s quotas.

    Rows with weight <= 0 are never selected (filtered; ln needs w > 0
    to order correctly).  100 TB shape: global form is a map stage into
    ``TakeOrderedAndProject`` (no shuffle); per-``group_col`` form is
    one hash-partition exchange + per-group row_number.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
                1, 15,
            ),
            16, 10,
        ).cast("bigint")
        + F.lit(1)
    ) / F.lit(float(1 << 60))
    key = F.round(F.log(u) / F.col(weight_col), round_dp)
    d = df.filter(F.col(weight_col) > 0).withColumn(key_alias, key)
    if group_col is None:
        return d.orderBy(F.desc(key_alias), F.col(id_col)).limit(k)
    w = Window.partitionBy(group_col).orderBy(F.desc(key_alias), F.col(id_col))
    return (
        d.withColumn("_ws_rn", F.row_number().over(w))
        .filter(F.col("_ws_rn") <= k)
        .drop("_ws_rn")
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    bits_per_item: int = 12,
    num_hashes: int = 7,
) -> DataFrame:
    """:func:`decontaminate` semantics (flag docs sharing a word
    ``n``-gram with the benchmark; output is EXACT and identical) with
    a Bloom-filter prefilter so the corpus side is cut map-side before
    any join — the shape that survives benchmark suites too large to
    broadcast raw.

    Spark 4 does not SQL-register ``bloom_filter_agg``, so the filter
    is built from first principles in DataFrame algebra, all JVM-side:
    ``num_hashes`` independent 64-bit hashes per benchmark n-gram
    (``xxhash64(ngram, i)``), positions ``pmod(h, m)``, OR-folded into
    an ``m/64``-word bitmap by a ``bit_or`` aggregate, shipped as ONE
    broadcast row.  Corpus n-grams probe the bitmap with the same
    fused expression; only probe-positive n-grams (true hits + the
    ~``2^-num_hashes``-rate false positives) reach the exact verify
    join, so the final ``n_hits`` counts are exactly
    :func:`decontaminate`'s — the Bloom stage only sheds join input.

    100 TB shape: benchmark pass = one hash agg to ``m/64`` rows + a
    driver hop bounded by the bitmap size; corpus pass = map-stage
    probe (no shuffle), then a join whose left side is ~hit-sized.
    At 1e8 benchmark 8-grams and 12 bits/item the bitmap is ~150 MB —
    broadcastable where the raw string set is not.
    """
    # r16: spread both raw-text explodes (the q136 r13 lesson — see
    # :func:`decontaminate`): the corpus-side n-gram explode + 7-hash
    # bitmap probe otherwise runs at row-group scan parallelism (ONE
    # task on compact corpora)
    _n_part = shuffle_partitions(docs.sparkSession)
    bench_ngrams = _exploded_ngrams(
        benchmark.select(text_col).repartition(_n_part), [], text_col, n
    ).distinct()
    n_items = bench_ngrams.count()  # bounded: one agg, one scalar
    m_bits = max(64, ((n_items * bits_per_item + 63) // 64) * 64)
    n_words = m_bits // 64

    def positions(col):
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
            for i in range(num_hashes)
        ]

    spark = docs.sparkSession
    if n_items == 0:
        bitmap_df = spark.range(1).select(
            F.array_repeat(F.lit(0).cast("long"), n_words).alias("_bits")
        )
    else:
        # shiftleft needs a literal shift in the Python API; the SQL
        # form takes the column (repo gotcha: F.expr for column shifts)
        word_bits = (
            bench_ngrams.select(
                F.explode(F.array(*positions(F.col("_ng")))).alias("_pos")
            )
            .selectExpr(
                "cast(_pos / 64 as int) as _w",
                "shiftleft(1L, cast(_pos % 64 as int)) as _b",
            )
            .groupBy("_w")
            .agg(F.bit_or("_b").alias("_bits"))
        )
        dense = [0] * n_words
        for r in word_bits.collect():
            dense[r["_w"]] = r["_bits"]
        bitmap_df = spark.createDataFrame([(dense,)], "_bits array<long>")

    # probe BEFORE the per-doc distinct: the bitmap filter is a pure
    # map stage, so it sheds ~all non-matching n-grams before the
    # distinct's shuffle ever runs — at corpus scale that shuffle is
    # the dominant cost, and post-probe it carries only hits + the
    # ~2^-num_hashes false-positive trickle
    doc_ngrams = _exploded_ngrams(
        docs.select(id_col, text_col).repartition(F.col(id_col)),
        [id_col], text_col, n,
    )
    d = doc_ngrams.join(F.broadcast(bitmap_df))  # one-row broadcast
    hit_cols = []
    for i, p in enumerate(positions(F.col("_ng"))):
        d = d.withColumn(f"_p{i}", p)
        d = d.withColumn(
            f"_h{i}",
            F.expr(
                f"(shiftright(element_at(_bits, cast(_p{i} / 64 as int)"
                f" + 1), cast(_p{i} % 64 as int)) & 1L) = 1L"
            ),
        )
        hit_cols.append(F.col(f"_h{i}"))
    probe = hit_cols[0]
    for h in hit_cols[1:]:
        probe = probe & h
    candidates = d.filter(probe).select(id_col, "_ng").distinct()
    hits = (
        candidates.join(F.broadcast(bench_ngrams), "_ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def corpus_report(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Per-source dataset datasheet — the data-card table a training
    corpus publishes (Datasheets for Datasets, Gebru et al. 2021):
    document and token counts, mean length, EXACT duplicate-document
    fraction, and the language profile, one row per source.

    Exact-dup detection keys on ``md5(text)`` (engine-portable, unlike
    xxhash64) — a doc is "dup" iff its text occurs more than once in
    the WHOLE corpus, so cross-source mirrors count in both sources.

    Shape: one map stage (hash + token count per doc), one hash agg on
    the text hash + a hash-keyed join back (dup flags), one agg per
    source, plus a (source, lang) count feeding a ``max_by`` majority
    pick — all partial-aggregated, nothing quadratic, no collect.
    """
    toks = F.filter(
        F.split(F.col(text_col), "[ \\t\\n\\r\\f]+"), lambda w: w != ""
    )
    d = docs.select(
        F.col(source_col).alias("_src"),
        *( [F.col(lang_col).alias("_lang")] if lang_col else [] ),
        F.length(text_col).alias("_chars"),
        F.size(toks).alias("_toks"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    dup = d.groupBy("_h").agg(F.count(F.lit(1)).alias("_n"))
    flagged = d.join(dup, "_h").withColumn("_dup", F.col("_n") > 1)
    base = flagged.groupBy("_src").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_toks").cast("long")).alias("total_tokens"),
        F.round(F.avg("_chars"), 4).alias("mean_chars"),
        F.sum(F.col("_dup").cast("long")).alias("dup_docs"),
    ).withColumn(
        "dup_frac",
        F.round(F.col("dup_docs") / F.col("n_docs"), 6),
    )
    if lang_col:
        langs = d.groupBy("_src", "_lang").agg(
            F.count(F.lit(1)).alias("_ln")
        )
        major = langs.groupBy("_src").agg(
            F.count(F.lit(1)).alias("n_langs"),
            # deterministic majority: ties break to the LATER language
            # string (max over (count, lang) pairs)
            F.max_by("_lang", F.struct("_ln", "_lang")).alias("major_lang"),
        )
        base = base.join(major, "_src")
    return base.withColumnRenamed("_src", source_col)


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bin_width: int,
    n_bins: int = 20,
    lo: int = 0,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    feature — the standard drift gate between a reference corpus and an
    incoming batch (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 act):
    ``PSI = Σ (p_i − q_i) · ln(p_i / q_i)`` over fixed equal-width bins
    (deterministic — never engine-sampled quantile bins, which no
    oracle could replay), with ``eps``-smoothed proportions so empty
    bins stay finite.

    Output: one row per OCCUPIED bin (bin id, both proportions, the
    bin's PSI term) plus the total under bin id −1 — the report a
    monitoring dashboard renders.  Two count aggregates (one per
    snapshot, output ≤ ``n_bins`` rows each), a tiny outer join, one
    map expression; the snapshots are never joined row-to-row.
    """
    if bin_width <= 0 or n_bins <= 0:
        raise ValueError("bin_width and n_bins must be positive")

    def binned(df, alias):
        b = F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(bin_width)),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        ).cast("int")
        return df.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias(alias))

    r = binned(ref, "_nr")
    c = binned(cur, "_nc")
    # totals as broadcast one-row aggregates (never an unpartitioned
    # window, even over bin-count-sized data)
    tr = r.agg(F.sum("_nr").alias("_tr"))
    tc = c.agg(F.sum("_nc").alias("_tc"))
    j = (
        r.join(c, "bin", "full_outer")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tc))
        .withColumn("_nr", F.coalesce("_nr", F.lit(0)))
        .withColumn("_nc", F.coalesce("_nc", F.lit(0)))
        .withColumn("p_ref", F.col("_nr") / F.col("_tr") + F.lit(eps))
        .withColumn("p_cur", F.col("_nc") / F.col("_tc") + F.lit(eps))
    )
    term = (F.col("p_ref") - F.col("p_cur")) * F.log(
        F.col("p_ref") / F.col("p_cur")
    )
    per_bin = j.select(
        "bin",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cur", 6).alias("p_cur"),
        F.round(term, 6).alias("psi_term"),
    )
    total = j.agg(
        F.lit(-1).cast("int").alias("bin"),
        F.round(F.sum(F.col("p_ref") - F.lit(eps)), 6).alias("p_ref"),
        F.round(F.sum(F.col("p_cur") - F.lit(eps)), 6).alias("p_cur"),
        F.round(F.sum(term), 6).alias("psi_term"),
    )
    return per_bin.unionByName(total)


def length_quantile_bins(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    percents: tuple[int, ...] = (25, 50, 75),
) -> DataFrame:
    """Equi-depth length binning: global exact weighted-percentile
    cutoffs over ``value_col`` (p25/p50/p75 by default), then per
    (group, bin) membership counts and ranges — the length-curriculum /
    packing-planner view ("which sources fill the long-document
    buckets", "what batch shape does each quartile need").

    Cutoffs come from ``operators.aggregates.weighted_percentile`` with
    unit weights — the DISTINCT-VALUE pre-aggregated exact form (q119),
    so the percentile pass is distributed (never one all-rows buffer,
    the q32 trap) and the "smallest value whose cumulative count
    reaches p%" definition is pure integer arithmetic, reproducible in
    ANSI SQL with a running-sum window.  The cutoff row is ONE driver
    row (bounded by len(percents)); bins are assigned map-side as
    ``1 + sum(value > cutoff_i)`` — integers end to end.
    """
    from ..operators.aggregates import weighted_percentile

    cuts_row = (
        weighted_percentile(
            df.select(F.col(value_col)).withColumn("_one", F.lit(1)),
            value_col,
            "_one",
            list(percents),
        )
        .first()  # exactly one row: the global percentile vector
    )
    cuts = [cuts_row[f"p{p}"] for p in percents]
    b = F.lit(1)
    for c in cuts:
        b = b + F.when(F.col(value_col) > F.lit(c), 1).otherwise(0)
    return (
        df.withColumn("bin", b)
        .groupBy(group_col, "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(value_col).alias("min_len"),
            F.max(value_col).alias("max_len"),
        )
    )


def temperature_mixture_weights(
    df: DataFrame,
    alpha: float = 0.7,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled sampling weights per source: p_s ∝ (token
    share)^alpha, renormalized — the multilingual/multi-corpus
    up-sampling recipe (mBERT/XLM-R exponential smoothing; alpha=1
    reproduces natural proportions, alpha→0 approaches uniform).  The
    output feeds :func:`sample_mixture` as its ``weights`` dict after
    scaling to epochs: ``weight_s = p_s / natural_share_s`` is also
    emitted as ``upsample`` so rare sources' boost factors are explicit.

    Exactness: token counts are integer aggregates; the power and the
    two normalizing divisions are double expressions in ONE fixed
    order, rounded at the edge — per-source rows, so cross-engine
    float drift has no row-explosion surface.

    100 TB shape: one (source) partial-combine count over the tokenized
    stream (the only full-data pass), then source-count-sized
    arithmetic; the normalizer is a window over source rows (tiny).
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
        lambda w: w != "",
    )
    per = df.select(F.col(source_col), F.size(toks).alias("_n")).groupBy(
        source_col
    ).agg(F.sum("_n").alias("n_tokens"))
    w_all = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all)
    pw = F.pow(share, F.lit(float(alpha)))
    p = pw / F.sum(pw).over(w_all)
    return per.select(
        source_col,
        "n_tokens",
        F.round(share, 9).alias("natural_share"),
        F.round(p, 9).alias("p_temp"),
        F.round(p / share, 6).alias("upsample"),
    )


def integrity_audit(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    group_col: str | None = None,
) -> DataFrame:
    """Referential-integrity audit between two pipeline tables (docs vs
    embeddings, events vs dims...): per optional group, how many left
    keys have a right match, how many are missing, and how many right
    keys are orphaned (no left) — the first check when a join silently
    shrinks.  One full outer join on the key; counts are integer.

    Semantics are KEY-level: both sides reduce to distinct keys first
    (a fact table's repeated keys count once), so "matched" means "this
    key exists on both sides".

    100 TB shape: two distinct aggregates (partial-combining) + a single
    equi full-outer join (shuffle on the key, AQE-skew-safe) into a
    group-sized aggregate; no row survives the aggregate, so the
    audit's output is metadata-sized.
    """
    l = left.select(
        F.col(left_key).alias("_k"),
        *([F.col(group_col).alias("_g")] if group_col else []),
    ).distinct().withColumn("_l", F.lit(1))
    r = (
        right.select(F.col(right_key).alias("_k")).distinct()
        .withColumn("_r", F.lit(1))
    )
    j = l.join(r, "_k", "full_outer")
    keys = [F.coalesce(F.col("_g"), F.lit("__orphan_right__")).alias(group_col)] if group_col else []
    agg = j.groupBy(*keys).agg(
        F.sum(F.when(F.col("_l").isNotNull() & F.col("_r").isNotNull(), 1).otherwise(0)).alias("matched"),
        F.sum(F.when(F.col("_l").isNotNull() & F.col("_r").isNull(), 1).otherwise(0)).alias("left_missing_right"),
        F.sum(F.when(F.col("_l").isNull(), 1).otherwise(0)).alias("right_orphans"),
    )
    return agg


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int = 100,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit: int = 1_000_000,
    raw_counts: DataFrame | None = None,
    target_counts: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169
    "Data Selection for Language Models via Importance Resampling"):
    keep the ``k`` raw-corpus documents whose hashed-token feature
    distribution best matches a TARGET corpus — the domain-matching
    selection step of a pre-training recipe (filter CommonCrawl toward
    Wikipedia+books), one rung above q123's supervised quality
    classifier (no labels needed, just a target sample).

    Model: tokens hash into ``n_buckets`` features (md5 32-bit prefix
    mod m — engine-portable, the q148 device), a bag-of-hashed-tokens
    unigram LM per corpus with add-one smoothing, and each raw document
    scores the SUM over its tokens of ``ln(p_target(b) / p_raw(b))`` —
    its importance log-weight.  Exactness: each BUCKET's log-ratio is
    fixed-pointed ONCE to integer ``round((ln((ct+1)/(T+m)) -
    ln((cr+1)/(R+m))) * unit)`` (the q104 discipline: per-doc scores
    are then INTEGER sums — order/partition-independent — and the
    fixed-point absorbs cross-libm ln ulps); selection is top-k by
    (weight DESC, id ASC), deterministic and nesting in k.  The paper's
    Gumbel-resampling variant is one salted md5-uniform away
    (:func:`weighted_sample`'s device); the deterministic argmax form
    is what the oracle checks.

    100 TB shape: two (bucket) partial-combining count aggregates (one
    per corpus, m rows out each), an m-row weight table broadcast onto
    the raw side's token explosion, ONE per-doc aggregate (the doc_id
    shuffle partial-combines map-side), and a TakeOrdered top-k.  The
    only driver scalars are the two total-token counts (T, R); every
    token maps to a bucket and every bucket has a weight, so there is
    no OOV path.

    ``raw_counts`` / ``target_counts`` — pre-counted ``(id_col, w, c)``
    tables from :func:`llm.text.doc_token_counts`, usually materialized
    at rest — replace the tokenize passes entirely: bucket counts and
    the per-doc fold weight each distinct token by ``c``.  Every DSIR
    statistic is a sum over token multiplicities, so the result is
    IDENTICAL to the raw path (same oracle) — the q104_mv device
    applied to selection.  Both sides must be given together.
    """
    if (raw_counts is None) != (target_counts is None):
        raise ValueError("raw_counts and target_counts must be given together")
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
        lambda w: w != "",
    )

    def bucket_of(c: Column) -> Column:
        # md5 32-bit prefix mod m: identical in DuckDB as
        # CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % m
        return F.pmod(
            F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint"),
            F.lit(n_buckets),
        )

    if raw_counts is not None:
        raw_tok = raw_counts.select(
            F.col(id_col), bucket_of(F.col("w")).alias("_b"),
            F.col("c").alias("_c"),
        )
        tgt_tok = target_counts.select(
            bucket_of(F.col("w")).alias("_b"), F.col("c").alias("_c")
        )
    else:
        # repartition the raw text by id before the tokenize (the q136
        # r13 lesson: compact corpora can have fewer row groups than
        # cores and the explode otherwise runs at scan parallelism);
        # the id partitioning feeds the per-doc scoring aggregate.
        # The target side stays scan-partitioned: it is the SMALL
        # in-domain slice by contract
        raw_tok = (
            raw_df.select(F.col(id_col), F.col(text_col))
            .repartition(F.col(id_col))
            .select(F.col(id_col), F.explode(toks).alias("_w"))
            .select(F.col(id_col), bucket_of(F.col("_w")).alias("_b"))
        )
        tgt_tok = target_df.select(F.explode(toks).alias("_w")).select(
            bucket_of(F.col("_w")).alias("_b")
        )

    # persist the m-row bucket counts: the total-token scalar and the
    # weight table are two jobs over the SAME aggregate, and without the
    # persist each would re-tokenize its whole corpus (measured: 9.4 s
    # -> ~5.5 s at sf1 from collapsing five corpus passes to three —
    # the LM build over each corpus plus the scoring pass over raw; the
    # counts path keeps the persist for the same two-job reason)
    _one = F.sum("_c") if raw_counts is not None else F.count(F.lit(1))
    cr = raw_tok.groupBy("_b").agg(_one.alias("_cr")).persist()
    ct = tgt_tok.groupBy("_b").agg(_one.alias("_ct")).persist()
    # total-token scalars from the bucket counts: metadata-bounded
    # driver values (q104's total), no extra corpus pass
    R = cr.agg(F.sum("_cr")).first()[0] or 0
    T = ct.agg(F.sum("_ct")).first()[0] or 0
    spark = (raw_df if raw_df is not None else raw_counts).sparkSession
    domain = spark.range(n_buckets).select(F.col("id").alias("_b"))
    weights = (
        domain.join(ct, "_b", "left").join(cr, "_b", "left")
        .select(
            "_b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
                        / F.lit(float(T + n_buckets))
                    )
                    - F.log(
                        (F.coalesce(F.col("_cr"), F.lit(0)) + 1).cast("double")
                        / F.lit(float(R + n_buckets))
                    )
                )
                * F.lit(unit)
            ).cast("bigint").alias("_li"),
        )
    )
    n_tok = F.sum("_c") if raw_counts is not None else F.count(F.lit(1))
    s_lr = (F.sum(F.col("_c") * F.col("_li")) if raw_counts is not None
            else F.sum("_li"))
    scored = (
        raw_tok.join(F.broadcast(weights), "_b")
        .groupBy(id_col)
        .agg(
            n_tok.alias("n_tokens"),
            s_lr.alias("lr_units"),
        )
    )
    return (
        scored.orderBy(F.desc("lr_units"), F.asc(id_col))
        .limit(k)
        .withColumn(
            "lr_tok",
            F.round(
                F.col("lr_units").cast("double") / F.col("n_tokens")
                / F.lit(unit), 6,
            ),
        )
    )


def ffd_pack(
    df: DataFrame,
    cap: int,
    token_col: str = "n_tok",
    id_col: str = "doc_id",
    n_shards: int = 1,
    shard_alias: str = "shard",
    bin_alias: str = "bin_id",
) -> DataFrame:
    """First-Fit-Decreasing bin packing of documents into
    fixed-capacity training sequences — the padding-waste reducer that
    concat-and-chunk packing (:func:`operators.prefix.packed_sequences`)
    trades away: no document is split, each bin holds whole documents
    totalling <= ``cap`` tokens, and FFD's sort-descending + first-fit
    rule is the classic 11/9-OPT guarantee.

    Scale shape (the LTTB/MMR ``applyInPandas`` family): packing is
    inherently sequential in its bin state, so the corpus is first cut
    into ``n_shards`` deterministic shards (``pmod(id, n_shards)`` —
    portable arithmetic any engine replays; at 100 TB pick
    shard ~ 10-100k docs so each Arrow group is bounded) and FFD runs
    per shard, shards parallel across executors.  Bin ids are local to
    a shard; (shard, bin) is the global sequence key.  Waste vs a
    global pack is the per-shard boundary slack — amortized away by
    shard size exactly like the per-file remainder in any sharded
    packer.

    Determinism (D1): docs sort (tokens DESC, id ASC); first-fit scans
    bins in creation order; all arithmetic is integer — the assignment
    replays bit-exactly in the q157 recursive-CTE oracle (the q95/q124
    precedent).  A document longer than ``cap`` opens its own
    (overfull) bin; its negative remainder never admits a second doc.

    Output: (shard, id, tokens, bin_id), one row per document.
    """
    import pandas as pd

    d = df.select(
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias(shard_alias),
        F.col(id_col),
        F.col(token_col).cast("long").alias(token_col),
    )
    schema = (
        f"{shard_alias} int, `{id_col}` long, `{token_col}` long, "
        f"{bin_alias} int"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [token_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        rem: list[int] = []  # remaining capacity per bin, creation order
        bins: list[int] = []
        for t in pdf[token_col].astype("int64"):
            t = int(t)
            for j, r in enumerate(rem):
                if r >= t:
                    rem[j] = r - t
                    bins.append(j)
                    break
            else:
                rem.append(cap - t)
                bins.append(len(rem) - 1)
        pdf[bin_alias] = pd.array(bins, dtype="int32")
        return pdf[[shard_alias, id_col, token_col, bin_alias]]

    return d.groupBy(shard_alias).applyInPandas(_pack, schema)
