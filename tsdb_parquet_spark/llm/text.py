"""Text analysis operators — tokenization/counts, quality scoring,
language ID, document fingerprinting.

North-star extension (SURVEY.md §2.2); not in the reference.  Everything is
built-in Spark SQL functions (split/explode/regexp/aggregate) — JVM-side,
whole-stage codegen, no Python in the hot path.  At 100 TB these are map
stages except the word-count groupBy (one shuffle on the word key; the
heavy-hitter skew on stopwords is absorbed by partial aggregation).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.partitioning import shuffle_partitions

# Tiny per-language stopword seeds for the n-gram/stopword heuristic.
# Deliberately small and deterministic; a production lang-id would load a
# fastText-style model via mapInPandas (see multimodal.py for the pattern).
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "que", "en"],
}


def tokens_col(text_col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokens (empty strings removed) as an array column."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda w: w != "")


def bpe_ish_tokens(text_col: Column | str) -> Column:
    """A BPE-ish regex tokenization (GPT-2-style word/number/punct split):
    runs of letters, runs of digits, or single non-space punctuation —
    approximates subword pre-tokenization for token counting."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # Explicit whitespace class, not \s: Java's \s includes vertical tab
    # (\x0B) while RE2's (the DuckDB oracle's engine) does not — the
    # explicit class is identical in both engines, so a VT in a document
    # can't make Spark and the oracle tokenize differently.
    return F.filter(
        F.split(
            F.regexp_replace(
                c, r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\f])", "$1\u0001"
            ),
            "[ \\t\\n\\r\\f\u0001]+",
        ),
        lambda w: F.trim(w) != "",
    )


def tokenize_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int | None = 20,
    word_alias: str = "w",
    count_alias: str = "c",
) -> DataFrame:
    """Corpus word frequencies: explode(split) → groupBy(word) → count,
    descending with the word as tiebreaker (determinism D1)."""
    out = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias(word_alias))
        .filter(F.col(word_alias) != "")
        .groupBy(word_alias)
        .agg(F.count(F.lit(1)).alias(count_alias))
        .orderBy(F.desc(count_alias), word_alias)
    )
    return out.limit(top_n) if top_n else out


def doc_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """The SHARED TOKENIZE PASS as a materializable table: per-document
    token counts ``(id, *extra, w, c)`` under the whitespace-class
    tokenizer every lexical operator uses (explicit ``[ \\t\\n\\r\\f]``,
    lowercased — the q80 cross-engine discipline).

    This is the at-rest entry point for the token family (r10 verdict
    #1): the regex split + explode floor shared by q104/q114/q129/q132
    (measured sf10 decomposition SCALE.md §5l) is paid ONCE when the
    table is materialized (a sources.Layout), after which
    :func:`unigram_logprob` (``counts_df=``), :func:`lexical_stats`
    (``counts_df=``), and :func:`tfidf_top_terms` (``tf_df=`` after a
    per-group re-aggregate) run on pre-counted rows — identical results
    to the raw path by construction, since every downstream statistic
    is a sum over (doc, token) multiplicities.

    100 TB shape: one explode + one (id, token) partial-combining
    aggregate — the output is ~|docs| x |distinct tokens per doc| rows,
    typically 5-20x smaller than the corpus text and column-pruned at
    read.  :func:`bigram_logprob` needs ORDER, not counts — its at-rest
    twin is :func:`doc_bigram_counts`."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
        lambda w: w != "",
    )
    cols = [F.col(id_col)] + [F.col(c) for c in extra_cols]
    return (
        df.select(*cols, F.explode(toks).alias("w"))
        .groupBy(id_col, *extra_cols, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def doc_bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BIGRAM counts ``(id, b, c)`` — the order-preserving
    at-rest twin of :func:`doc_token_counts` for
    :func:`bigram_logprob` (``counts_df=``): bigram rows are
    constructed exactly as the raw path does (codegen posexplode +
    ``lead()`` over (doc, pos) — never an interpreted array HOF), then
    collapsed to per-doc counts, which is all the LM build and the
    scoring fold consume.  Docs with <2 tokens contribute no rows, so
    the served scores match the raw path row-for-row."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
        lambda w: w != "",
    )
    tok_rows = df.select(
        F.col(id_col), F.posexplode(toks).alias("_pos", "_w")
    )
    w_next = Window.partitionBy(id_col).orderBy("_pos")
    return (
        tok_rows.withColumn("_w2", F.lead("_w").over(w_next))
        .filter(F.col("_w2").isNotNull())
        .select(F.col(id_col), F.concat("_w", F.lit(" "), "_w2").alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def token_count(df: DataFrame, text_col: str = "text", alias: str = "n_tokens") -> Column:
    """Per-document token count (whitespace tokenization), as a column."""
    return F.size(tokens_col(text_col, lowercase=False)).alias(alias)


def text_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document quality features: char/word counts, mean word length,
    punctuation ratio, stopword ratio, alpha ratio.  Classic C4/Gopher-style
    filters compose from these; all computed per-row, no shuffle."""
    toks = tokens_col(text_col)
    n_chars = F.length(text_col)
    n_words = F.size(toks)
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    n_punct = F.length(F.regexp_replace(text_col, r"[^.,;:!?'\"()\[\]{}-]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
    stop_ratio = F.when(n_words > 0, n_stop.cast("double") / n_words).otherwise(F.lit(0.0))
    n_alpha = F.length(F.regexp_replace(text_col, r"[^a-zA-Z]", ""))
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars"),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
    )


def language_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_alias: str = "lang_pred",
) -> DataFrame:
    """Stopword-overlap language heuristic: score = fraction of tokens that
    are stopwords of each candidate language; argmax wins (ties break to the
    alphabetically-last language via struct max — deterministic)."""
    toks = tokens_col(text_col)
    n_words = F.greatest(F.size(toks), F.lit(1))
    def _score(words: list[str]):
        # factory, not a default-arg lambda (PySpark counts default args in
        # lambda arity)
        sw = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))

    scores = []
    for lang, words in sorted(_STOPWORDS.items()):
        hits = _score(words)
        scores.append(
            F.struct((hits.cast("double") / n_words).alias("score"), F.lit(lang).alias("lang"))
        )
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        best["lang"].alias(lang_alias),
        F.round(best["score"], 4).alias("lang_score"),
    )


def fingerprint_col(text_col: Column | str = "text") -> Column:
    """The doc-fingerprint digest as a COLUMN expression (md5 60-bit
    prefix of lowercase/collapsed-whitespace text) — compose it onto an
    existing frame without a join-back (`llm/incremental.py` hangs the
    dedup anti-join off it directly)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint")


def doc_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_alias: str = "fingerprint",
) -> DataFrame:
    """Deterministic 60-bit document fingerprint over normalized text
    (lowercase, collapsed whitespace) — the cheap key for exact-dup joins
    and incremental-ingest change detection.

    The digest is the sampling family's md5-prefix convention (15 hex
    chars → bigint) rather than ``xxhash64``: identical quality for a
    join/change-detection key, but ENGINE-PORTABLE — any system with md5
    reproduces it bit-exactly (the DuckDB oracle does), where xxhash64's
    seed/variant is Spark-specific.  Pure map stage, no shuffle."""
    return df.select(
        F.col(id_col), fingerprint_col(text_col).alias(fp_alias)
    )


# Rolling-hash parameters: Mersenne modulus keeps acc < 2^31, so
# acc*B + codepoint < 2^38 + 2^21 — no 64-bit overflow in either engine.
_ROLL_BASE = 131
_ROLL_MOD = 2_147_483_647  # 2^31 - 1


def rolling_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_alias: str = "fingerprint",
) -> DataFrame:
    """Polynomial rolling-hash document fingerprint — the classic
    Rabin-Karp form ``h = sum(code_i * B^(n-i)) mod M`` over the
    normalized text's Unicode code points (lowercase, collapsed
    whitespace).

    Unlike :func:`doc_fingerprint`'s ``xxhash64`` (engine-specific), this
    hash is defined by plain integer arithmetic, so any engine reproduces
    it bit-exactly (the DuckDB oracle runs the same fold via
    ``list_reduce``) — and a pure map stage at any scale: per-row JVM
    higher-order fold, no shuffle, no Python."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("bigint"))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * _ROLL_BASE + c) % F.lit(_ROLL_MOD),
    )
    return df.select(F.col(id_col), fp.alias(fp_alias))


# PII patterns — valid and identically-matching in BOTH Java regex (Spark)
# and RE2 (DuckDB), so the oracle runs the same redaction: no lookaround,
# no backreferences, POSIX-safe classes only.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\+?\d[\d -]{8,14}\d\b", "[PHONE]"),
]


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
) -> DataFrame:
    """Regex PII redaction (emails, IPv4s, SSN-form ids, phone numbers) —
    the scrubbing pass a training-data pipeline runs before anything else.

    A chain of ``regexp_replace`` built-ins: pure JVM map stage, no
    shuffle, streams through whole-stage codegen at scan speed.  Pattern
    order matters (emails before phones, so digit runs inside an address
    are already collapsed) and is fixed by ``PII_PATTERNS``.
    """
    c = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col, c)


def url_domains(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document extraction of http(s) URL domains (lowercased,
    deduplicated, sorted) — the seed for domain-level corpus filtering
    (blocklists, per-domain caps, provenance stats).

    ``regexp_extract_all`` + higher-order array ops: map-stage only.
    Domain-level aggregation afterwards is a single groupBy on a
    low-cardinality key.
    """
    urls = F.regexp_extract_all(
        F.col(text_col), F.lit(r"https?://([A-Za-z0-9.-]+)"), F.lit(1)
    )
    doms = F.array_sort(F.array_distinct(F.transform(urls, F.lower)))
    return df.select(F.col(id_col), doms.alias("domains"))


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 200,
    overlap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping character chunks — the
    context-window chunking step of a RAG / long-document training
    pipeline (each chunk carries ``overlap`` chars of its predecessor so
    no span is lost at a boundary).

    Chunk starts are ``1, 1+stride, 1+2*stride, ... <= length`` with
    ``stride = chunk_chars - overlap`` (1-based, both engines' substring
    convention); ``chunk_id = (start-1)/stride`` so the id needs no
    ordinality bookkeeping.  Empty documents produce no chunks.

    Scale shape: ``sequence`` + ``explode`` + ``substr`` — pure JVM
    codegen map stage, zero shuffle, zero Python; output size is
    input * (1 + overlap/stride), the explicit duplication cost of
    overlap.
    """
    if overlap >= chunk_chars:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_chars ({chunk_chars})"
        )
    stride = chunk_chars - overlap
    starts = F.sequence(F.lit(1), F.length(text_col), F.lit(stride))
    return (
        df.filter(F.length(text_col) > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            id_col,
            ((F.col("chunk_start") - 1) / stride).cast("int").alias("chunk_id"),
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.col(text_col)
            .substr(F.col("chunk_start"), F.lit(chunk_chars))
            .alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("int"))
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 50_000,
    oov_lp: float = -15.0,
    unit: int = 1_000_000,
    lm_df: DataFrame | None = None,
    score_alias: str = "lp_tok",
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean unigram log-probability — the perplexity-proxy
    QUALITY FILTER of a pre-training pipeline (the CCNet recipe scores
    docs with a LM and keeps the fluent tail; a unigram LM built from
    the corpus itself is the shuffle-cheap first rung, and a real KenLM
    slots in by supplying ``lm_df`` = (w, _li) precomputed scores).

    Exactness discipline: each DISTINCT token's log-prob is computed
    ONCE in the vocabulary dimension and FIXED-POINTED to integer
    ``round(ln(c/total)*unit)`` — per-document scores are then INTEGER
    sums (order-independent, partition-independent; float summation of
    per-token doubles would hash-differ across engines by add order),
    with ONE final division.  OOV tokens get the fixed floor ``oov_lp``
    (a parameter, not a derived constant — no cross-engine ln on a
    second code path).  Vocabulary = top ``vocab_size`` tokens by
    (count DESC, token) — deterministic at the cap boundary.

    100 TB shape: one token-count aggregate, a driver-bounded top-V
    vocabulary broadcast (~MBs), then a map-side broadcast join +
    per-doc partial aggregate — ONE full shuffle (doc_id).  Tokens use
    the explicit whitespace class (the q80 lesson: Java ``\\s`` includes
    VT, RE2's does not).  Docs with zero tokens produce no output row.

    ``counts_df`` — a pre-counted ``(id_col, w, c)`` table from
    :func:`doc_token_counts`, usually materialized at rest — replaces
    the tokenize+explode pass entirely: the LM build re-aggregates the
    counts and the per-doc fold weights each distinct token by ``c``.
    Every statistic here is a sum over token multiplicities, so the
    served result is IDENTICAL to the raw path (same oracle).
    """
    if counts_df is not None:
        tok = counts_df.select(
            F.col(id_col), F.col("w").alias("_w"), F.col("c").alias("_c")
        )
    else:
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
            lambda w: w != "",
        )
        # repartition the RAW TEXT by id before the tokenize (the q136
        # r13 lesson): a compact parquet corpus can have fewer row
        # groups than cores (sf100: 10 splits on 32 — the explode ran
        # 3x under-packed), and the id partitioning is consumed by the
        # per-doc scoring aggregate downstream (map-side combine, no
        # further doc_id exchange)
        tok = (
            df.select(F.col(id_col), F.col(text_col))
            .repartition(F.col(id_col))
            .select(F.col(id_col), F.explode(toks).alias("_w"))
        )
    if lm_df is None:
        # cache the token counts: total and top-V are two light jobs
        # over the SAME aggregate, and without the cache each (plus the
        # broadcast build) would re-explode the whole corpus (already-
        # counted input skips the persist: it is an at-rest scan)
        if counts_df is not None:
            cnt = tok.groupBy("_w").agg(F.sum("_c").alias("_c"))
        else:
            cnt = tok.groupBy("_w").agg(
                F.count(F.lit(1)).alias("_c")
            ).persist()
        try:
            total = cnt.agg(F.sum("_c")).first()[0]
            if total is None:
                src = df if df is not None else counts_df
                id_type = src.schema[id_col].dataType.simpleString()
                return src.sparkSession.createDataFrame(
                    [], f"{id_col} {id_type}, n_tokens long, "
                        f"sum_llu long, {score_alias} double"
                )
            top = (
                cnt.orderBy(F.desc("_c"), "_w").limit(vocab_size)
                .select(
                    "_w",
                    F.round(
                        F.log(F.col("_c").cast("double")
                              / F.lit(float(total)))
                        * F.lit(unit)
                    ).cast("bigint").alias("_li"),
                ).collect()  # <= vocab_size rows, driver-bounded by design
            )
        finally:
            cnt.unpersist()
        lm_items = [(r["_w"], r["_li"]) for r in top]
    else:
        lm_items = None
    oov_li = int(round(oov_lp * unit))

    # Broadcast-join scoring — ALWAYS (r9 revision).  The former
    # "small-vocab literal-map fold" path is gone: an ``F.aggregate``
    # fold is INTERPRETED per element (no codegen), ~2 µs/token —
    # measured ~55 s of scoring at 27M tokens at sf10 even with a
    # 31-entry map, where this explode + broadcast-left-join +
    # per-doc aggregate (whose shuffle partial-combines map-side to
    # ~one row per document) scores in 11.8 s.  Zero-shuffle is not
    # free when every element pays the interpreter: the §5i HOF
    # staging rule's sharper corollary, SCALE.md §5k.
    if lm_df is None:
        lm_df = (df if df is not None else counts_df).sparkSession \
            .createDataFrame(lm_items, "_w string, _li bigint")
    li = F.coalesce(F.col("_li"), F.lit(oov_li))
    # counts path: each distinct (doc, token) row carries multiplicity
    # _c — the integer fold is identical to summing per-token rows
    n_tok = F.sum("_c") if counts_df is not None else F.count(F.lit(1))
    s_llu = F.sum(F.col("_c") * li) if counts_df is not None else F.sum(li)
    out = (
        tok.join(F.broadcast(lm_df), "_w", "left")
        .groupBy(id_col)
        .agg(
            n_tok.alias("n_tokens"),
            s_llu.alias("sum_llu"),
        )
    )
    return out.withColumn(
        score_alias,
        F.round(
            F.col("sum_llu").cast("double") / F.col("n_tokens")
            / F.lit(unit), 6,
        ),
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) as one map-stage expression battery: word
    count bounds, mean word length bounds, symbol-to-word ratio
    ('#'/'...'), bullet-started and ellipsis-ended line fractions,
    alphabetic-word fraction, and required-stopword presence — the
    canonical pretraining prefilter rung before model-based scoring.

    Dialect discipline: words split on an explicit whitespace class
    (never ``\\s`` — Java's includes VT, RE2's does not), ellipses
    counted by replace-length arithmetic (no regex), bullets matched on
    the trimmed first character — every rule evaluates identically in
    Spark and the DuckDB oracle.  All per-row JVM expressions: zero
    shuffle, zero Python.

    Execution shape: the token and line ARRAYS materialize once in a
    first projection and the per-doc scalars in a second — higher-order
    functions are interpreted (no codegen), and Spark's CollapseProject
    deliberately keeps multiply-referenced non-cheap aliases staged, so
    this layering evaluates each split/filter exactly once instead of
    re-tokenizing per rule (measured 324 s → map-stage-normal at sf10's
    500 k docs before/after staging).  Stopword presence is ONE
    ``array_intersect`` pass, not a per-stopword scan.

    Output: per-doc metrics, one boolean per rule, and ``keep`` (the
    conjunction).  Thresholds parameterize so corpora with different
    length profiles (or a test fixture) can move the cut lines.

    Factored (r14 — verdict r13 #3) into :func:`gopher_metrics` (the
    expensive text pass, THRESHOLD-INDEPENDENT integer counters) +
    :func:`gopher_rules_from_metrics` (ratios/flags, cheap scalar
    arithmetic) so the metrics can be persisted at rest (q114_mv) and
    thresholds re-tuned over the O(docs) metrics table without
    re-reading the corpus.
    """
    return gopher_rules_from_metrics(
        gopher_metrics(df, id_col=id_col, text_col=text_col),
        id_col=id_col,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        max_bullet_line_frac=max_bullet_line_frac,
        max_ellipsis_line_frac=max_ellipsis_line_frac,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stopwords=min_stopwords,
    )


def gopher_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The expensive half of :func:`gopher_rules`: one pass over the
    raw text producing the per-doc INTEGER counters every rule derives
    from — ``(id, n_words, sum_word_len, n_symbols, n_lines,
    n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stopwords)``.
    Threshold-independent and exact, so it is the natural at-rest
    materialization unit (q114_mv persists it under the corpus content
    fingerprint): re-tuning cut lines re-reads this docs-sized table,
    never the corpus text."""
    c = F.col(text_col)
    # repartition the raw text by id before the rule battery (the q136
    # r13 lesson): a compact parquet corpus can have fewer row groups
    # than cores, and this pure map stage otherwise runs at row-group
    # parallelism (sf100: 10 splits on 32 cores — measured 30.7 ->
    # 17.1 s with the exchange)
    staged = df.select(F.col(id_col), c).repartition(F.col(id_col))
    # stage 1: the expensive arrays, built exactly once per row
    s1 = staged.select(
        F.col(id_col),
        c.alias("_text"),
        F.filter(F.split(c, "[ \\t\\n\\r\\f]+"), lambda w: w != "").alias(
            "_toks"
        ),
        F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "").alias("_lines"),
    )
    toks, lines, text = F.col("_toks"), F.col("_lines"), F.col("_text")
    # stage 2: per-doc scalars, each referencing the arrays by column
    n_sym = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
        + F.floor(
            (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit(""))))
            / F.lit(3)
        )
    )
    s2 = s1.select(
        F.col(id_col),
        F.size(toks).alias("_nw"),
        F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w)).alias("_swl"),
        n_sym.alias("_nsym"),
        F.size(lines).alias("_nl"),
        F.size(
            F.filter(
                lines,
                lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
            )
        ).alias("_nbullet"),
        F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("..."))).alias(
            "_nellipsis"
        ),
        F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))).alias("_nalpha"),
        F.size(
            F.array_intersect(
                F.transform(toks, F.lower),
                F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS]),
            )
        ).alias("_sw"),
    )
    return s2


def gopher_rules_from_metrics(
    metrics: DataFrame,
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """The cheap half of :func:`gopher_rules`: ratios + rule flags +
    ``keep`` from the integer counters — identical expressions whether
    the metrics come fresh from :func:`gopher_metrics` or from the
    persisted q114_mv table, so both paths hash-match the same
    oracle."""
    # stage 3: ratios + flags from cheap scalar references
    n_words = F.col("_nw")
    mean_wlen = F.when(n_words > 0, F.col("_swl").cast("double") / n_words)
    sym_ratio = F.when(n_words > 0, F.col("_nsym").cast("double") / n_words)
    bullet_frac = F.when(
        F.col("_nl") > 0, F.col("_nbullet").cast("double") / F.col("_nl")
    )
    ellipsis_frac = F.when(
        F.col("_nl") > 0, F.col("_nellipsis").cast("double") / F.col("_nl")
    )
    alpha_frac = F.when(n_words > 0, F.col("_nalpha").cast("double") / n_words)
    sw_hits = F.col("_sw")
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (mean_wlen >= min_mean_word_len)
        & (mean_wlen <= max_mean_word_len),
        "r_symbol_ratio": sym_ratio <= max_symbol_ratio,
        "r_bullet_lines": F.coalesce(
            bullet_frac <= max_bullet_line_frac, F.lit(True)
        ),
        "r_ellipsis_lines": F.coalesce(
            ellipsis_frac <= max_ellipsis_line_frac, F.lit(True)
        ),
        "r_alpha_words": alpha_frac >= min_alpha_word_frac,
        "r_stopwords": sw_hits >= min_stopwords,
    }
    keep = None
    for flag in rules.values():
        keep = flag if keep is None else keep & flag
    return metrics.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        sw_hits.cast("int").alias("n_stopwords_present"),
        *[F.coalesce(v, F.lit(False)).alias(k) for k, v in rules.items()],
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 4096,
    weights: list[float] | None = None,
    bias: float = 0.0,
    salt: str = "qscore",
    hash: str = "xxhash64",
) -> DataFrame:
    """fastText-style quality-classifier INFERENCE as one JVM pipeline:
    hashing-trick bag-of-words features (token → ``md5`` 60-bit prefix
    mod ``dim`` — the engine-portable hash convention shared with
    split/stratified/weighted sampling, so an oracle reproduces every
    index) through a linear model + sigmoid.  The model-based quality
    rung above :func:`gopher_rules` (CCNet/fastText's
    ``__label__hq`` filter): swap ``weights`` for a trained vector; the
    plumbing — broadcast weight row, per-token gather, per-doc sum —
    is exactly what a real exported linear model needs.

    Defaults derive deterministic pseudo-weights (``(i*2654435761 mod
    1000)/999 - 0.5``, Knuth multiplicative) so the operator is fully
    specified without a model artifact.  Scale shape: weights ship as
    ONE broadcast row (an array column — never ``dim`` plan literals);
    scoring is a map stage: stage tokens, gather ``element_at(w,
    idx+1)``, fold, one sigmoid (``exp`` ulp absorbed by round-6, the
    BM25 ``ln`` device).  Zero shuffle.

    ``hash``: ``"xxhash64"`` (default) is the production path — a cheap
    JVM hash, fine because the weight vector is trained against the
    same hash.  ``"md5"`` is the cross-engine-verifiable mode (the
    sampling family's portable 60-bit prefix; a DuckDB oracle can
    reproduce every index) at ~6x the hashing cost — the oracle-gated
    q123 pins it; a real deployment doesn't need it.
    """
    import math as _math

    if weights is None:
        weights = [((i * 2654435761) % 1000) / 999.0 - 0.5 for i in range(dim)]
    if len(weights) != dim:
        raise ValueError(f"weights must have length dim={dim}")
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        [([float(x) for x in weights],)], "_hls_w array<double>"
    )
    staged = df.join(F.broadcast(w_df)).select(
        F.col(id_col),
        F.col("_hls_w"),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
            lambda t: t != "",
        ).alias("_hls_toks"),
    )
    if hash not in ("xxhash64", "md5"):
        raise ValueError(f"hash must be 'xxhash64' or 'md5', got {hash!r}")

    def _idx(tok):
        if hash == "xxhash64":
            return F.pmod(F.xxhash64(tok, F.lit(salt)), F.lit(dim)).cast("int")
        # 60-bit md5 prefix mod dim: identical in any engine with md5
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(tok, F.lit(salt))), 1, 15), 16, 10
            ).cast("bigint"),
            F.lit(dim),
        ).cast("int")

    # fold from 0.0 and add bias AFTER: the oracle computes
    # bias + list_sum(...), so the float add order must match exactly
    s = F.lit(float(bias)) + F.aggregate(
        F.col("_hls_toks"),
        F.lit(0.0),
        lambda acc, t: acc + F.element_at(F.col("_hls_w"), _idx(t) + 1),
    )
    n_toks = F.size(F.col("_hls_toks"))
    # mean-pooled logit: sum/n keeps long docs from saturating sigmoid
    logit = F.when(n_toks > 0, s / n_toks).otherwise(F.lit(float(bias)))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return staged.select(
        F.col(id_col),
        n_toks.cast("int").alias("n_tokens"),
        F.round(logit, 6).alias("logit"),
        F.round(prob, 6).alias("quality_prob"),
    )


def lexical_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Per-group lexical profile: token count, vocabulary size, hapax
    count (tokens occurring exactly once), type-token ratio, and the
    share of the single most frequent token — the Zipf-shape corpus
    diagnostics a data card reports next to q125's byte-level stats
    (a collapsed TTR or an inflated top-token share flags boilerplate /
    template corpora before they reach training).

    Exactness: every statistic is an INTEGER aggregate (counts, a max,
    a conditional count) with exactly two final divisions rounded to 6
    — nothing order-dependent crosses an exchange.

    100 TB shape: two hash aggregates — (group, token) counts with
    map-side partial combine (the token explosion never crosses a
    shuffle un-reduced), then the per-group rollup whose input is
    already vocabulary-sized.  No windows, no driver state.

    ``counts_df`` — a pre-counted table carrying ``(group_col, w, c)``
    (e.g. the per-doc :func:`doc_token_counts` output, which includes
    the group column) — skips the tokenize pass: the (group, token)
    aggregate sums the stored multiplicities instead of counting
    exploded rows; identical integers, same oracle.
    """
    if counts_df is not None:
        per_word = counts_df.groupBy(group_col, "w").agg(
            F.sum("c").alias("_c")
        )
    else:
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
            lambda w: w != "",
        )
        # round-robin repartition before the tokenize (the q136 r13
        # lesson: row-group-bound scan parallelism starves the map
        # work on compact corpora; measured 19.8 -> 12.9 s at sf100).
        # Round-robin, not group hash: group_col has ~20 values — a
        # group-keyed exchange would skew onto 20 reducers
        n_part = shuffle_partitions(df.sparkSession)
        tok = (
            df.select(F.col(group_col), F.col(text_col))
            .repartition(n_part)
            .select(F.col(group_col), F.explode(toks).alias("_w"))
        )
        per_word = tok.groupBy(group_col, "_w").agg(
            F.count(F.lit(1)).alias("_c")
        )
    return (
        per_word.groupBy(group_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("hapax"),
            F.max("_c").alias("_top"),
        )
        .select(
            group_col,
            "n_tokens",
            "vocab",
            "hapax",
            F.round(F.col("vocab").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("_top").cast("double") / F.col("n_tokens"), 6).alias("top_share"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 15,
    unit: int = 1_000_000,
    tf_df: DataFrame | None = None,
    n_groups: int | None = None,
) -> DataFrame:
    """Top-``k`` characteristic terms per group by TF-IDF, with groups as
    the "documents": score(g, w) = tf(g, w) * ln(N_groups / groups(w))
    — the keyword/topic fingerprint of each corpus slice (what
    distinguishes a source's vocabulary from the others', the first
    stop when a mixture's composition looks wrong).

    Exactness: the IDF of each DISTINCT term is fixed-pointed ONCE to
    integer ``round(ln(N/gdf) * unit)`` (the q104 discipline), so every
    score is an integer product ``tf * idf_li`` — ranking and ties are
    bit-stable across engines; the tiebreak is (score DESC, term ASC).

    100 TB shape: one (group, term) hash aggregate with partial
    combine; a term-keyed aggregate over THAT (vocabulary-sized input);
    one vocabulary-sized equi-join on the term; then the per-group
    top-k.  The ``row_number() <= k`` filter plans as a Partial+Final
    ``WindowGroupLimit`` (verified in the executed plan): every map
    task keeps only its local top-k per group BEFORE the exchange, so
    the few-groups-huge-vocabulary case ships O(tasks x k) rows, not
    the vocabulary — the low-cardinality window trap (SCALE.md §5g)
    does not bite rank-limit windows on this engine (SCALE.md §5j).
    The group-count scalar is one driver int (bounded by definition).
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
        lambda w: w != "",
    )
    if tf_df is not None:
        # pre-aggregated (group, term, tf) table — the at-rest path
        # (q129_mv): every pass after the counts is vocabulary-sized,
        # so a materialized token-count table turns repeated lexical
        # queries into sub-second reads.  N: prefer the caller's
        # explicit n_groups (count it from the DOCUMENT table when
        # materializing — a group whose documents all tokenize to empty
        # has no row here, and deriving N from the counts table would
        # silently shift every IDF vs the primary path); fall back to
        # the counts table only when neither df nor n_groups is given.
        tf = tf_df
        if n_groups is None:
            src = df if df is not None else tf
            n_groups = src.select(group_col).distinct().count()
    else:
        # round-robin repartition before the tokenize (the q136 r13
        # lesson, the one raw text path the r13 sweep missed):
        # row-group-bound scan parallelism starves the tokenize+explode
        # +partial-agg map work on compact corpora — measured 13.6 s ->
        # 2.0 s at sf10 (500 k docs, ONE parquet row group).  Round-
        # robin, not group hash: group_col has few values (the
        # lexical_stats rationale) and the term key only exists after
        # the explode.
        n_part = shuffle_partitions(df.sparkSession)
        tok = (
            df.select(F.col(group_col), F.col(text_col))
            .repartition(n_part)
            .select(F.col(group_col), F.explode(toks).alias("term"))
        )
        tf = tok.groupBy(group_col, "term").agg(
            F.count(F.lit(1)).alias("tf")
        )
        if n_groups is None:
            n_groups = df.select(group_col).distinct().count()  # one driver int
    # r15: gdf as a WINDOW over tf, not a separate aggregate+join — the
    # join form referenced the tf subtree twice, and because the gdf
    # side prunes the count function off its (group, term) aggregate
    # the two subtrees canonicalize differently, so ReuseExchange never
    # fired and the corpus was scanned + tokenized TWICE (two Generate
    # subtrees in the executed plan; count("tf") doesn't help — the
    # optimizer rewrites count(non-nullable) back to count(1) and
    # prunes again).  count(*) over (partition by term) evaluates tf
    # ONCE by construction: one corpus pass, the vocabulary-sized
    # term exchange replaces both the gdf aggregate exchange and the
    # broadcast build.  term cardinality is the window key, so the
    # low-cardinality window trap (§5g) does not apply.  gdf values —
    # and therefore every fixed-pointed idf and score — are unchanged.
    from pyspark.sql import Window as _W

    scored = (
        tf.withColumn("gdf", F.count(F.lit(1)).over(_W.partitionBy("term")))
        .withColumn(
            "_idf_li",
            F.round(
                F.log(F.lit(float(n_groups)) / F.col("gdf").cast("double"))
                * F.lit(unit)
            ).cast("bigint"),
        )
        .withColumn("score_units", F.col("tf") * F.col("_idf_li"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("score_units"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            "rank",
            "term",
            "tf",
            "gdf",
            F.round(F.col("score_units").cast("double") / F.lit(unit), 6).alias("tfidf"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 200,
    oov_lp: float = -15.0,
    unit: int = 1_000_000,
    lm_df: DataFrame | None = None,
    score_alias: str = "lp2_tok",
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean BIGRAM conditional log-probability — the next
    rung of q104's unigram perplexity proxy: ``lp(w2|w1) =
    ln(c(w1 w2) / c(w1 ·))`` where ``c(w1 ·)`` counts bigrams starting
    with ``w1``, so the model conditions on the previous token (word
    salad that passes a unigram filter fails here; a KenLM-grade model
    slots in by the same shape one order up).

    Exactness: q104's discipline verbatim — each of the top
    ``vocab_size`` bigrams (by count DESC, bigram ASC) gets ONE
    fixed-point integer score ``round(ln(cb/cp)*unit)``; per-document
    sums are integer folds (order/partition-independent), OOV bigrams
    take the fixed floor, one final division.  Documents with fewer
    than 2 tokens produce no row (no bigrams to score).

    100 TB shape: bigram ROWS are constructed codegen-side — posexplode
    the token array with position, ``lead(token)`` over (doc, pos) —
    instead of an interpreted ``zip_with(slice, slice)`` array HOF
    (Spark's array higher-order functions never enter whole-stage
    codegen; the HOF form cost ~19 s/pass at sf10 and ran TWICE, once
    for the LM-count pass and once for scoring).  The constructed rows
    are persisted and shared by both passes, and the window's
    (doc)-hash exchange is REUSED by the scoring aggregate's
    groupBy(doc) — measured 45.2 s → 19.3 s at sf10 (A/B, r10; the
    unpersisted lead form is 46 s, so the persist is what converts the
    window exchange from a cost into an amortized asset).  The count
    aggregates partial-combine; the scored vocabulary is
    driver-bounded by ``vocab_size`` and broadcast (the literal-map
    fold alternative linear-scans |vocab| entries per bigram —
    measured ~200 s at sf10; the q104 r9 cutoff lesson).

    ``counts_df`` — a pre-counted ``(id_col, b, c)`` table from
    :func:`doc_bigram_counts`, usually materialized at rest — skips
    BOTH the tokenize pass and the window: the LM re-aggregates the
    stored counts and the scoring fold weights each distinct bigram by
    ``c``.  Identical integers to the raw path (every statistic is a
    sum over bigram multiplicities), same oracle.
    """
    if counts_df is not None:
        bgx = counts_df.select(
            F.col(id_col), F.col("b").alias("_b"), F.col("c").alias("_c")
        )
        if lm_df is not None:
            return _score_bigrams(bgx, id_col, lm_df, oov_lp, unit,
                                  score_alias, count_col="_c")
        cnt = bgx.groupBy("_b").agg(F.sum("_c").alias("_cb"))
    else:
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
            lambda w: w != "",
        )
        # codegen'd bigram rows, DOC-LOCAL (r13): adjacent pairs come
        # straight from the token ARRAY — zip_with over the two
        # off-by-one slices ("w1 w2" strings), the same multiset as
        # the old posexplode + lead()-window form but with ZERO
        # exchange: the window partitioned by doc shuffled every token
        # row (3.1 GB at sf100, the build's dominant stage).  Because
        # bigrams never leave their scan task, the downstream per-doc
        # aggregate partial-combines to ~one row per doc map-side and
        # its exchange carries |docs| rows, not token rows.  The token
        # array is BOUND ONCE per row behind a projection boundary
        # (multi-referenced non-cheap expression — CollapseProject
        # keeps it); an element_at-per-index lambda over the raw split
        # expression re-ran the split per ELEMENT, O(tokens^2) per doc.
        # Docs with <2 tokens contribute no bigram rows (and no
        # output row).  The RAW TEXT repartitions by id before the
        # tokenize (one ~|corpus-bytes| exchange — 750 MB at sf100,
        # 4x less than the old 3.1 GB token-row window exchange): a
        # compact parquet corpus can have fewer row groups than cores
        # (sf100: 10 splits on 32 cores — the heavy map work ran
        # 3x under-packed), and the id partitioning is then consumed
        # by BOTH downstream aggregates (per-doc scoring map-combines
        # on the same key; no further exchange).
        tok_df = (
            df.select(F.col(id_col), F.col(text_col))
            .repartition(F.col(id_col))
            .select(F.col(id_col), toks.alias("_toks"))
        )
        n_t = F.size(F.col("_toks"))
        bg_arr = F.when(
            n_t >= 2,
            F.zip_with(
                F.slice(F.col("_toks"), 1, n_t - 1),
                F.slice(F.col("_toks"), 2, n_t - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        bgx = tok_df.select(F.col(id_col), F.explode(bg_arr).alias("_b"))
        if lm_df is not None:
            # pre-built model (a KenLM-grade table, or this function's
            # own build from another corpus slice): skip the build
            # aggregates — the production build-once-score-many split,
            # same as q104's.  Single pass, so no persist.
            return _score_bigrams(bgx, id_col, lm_df, oov_lp, unit,
                                  score_alias)
        # two passes (LM build + scoring) share the constructed rows;
        # the ContextCleaner unpersists when the returned plan is GC'd,
        # and a cache-evicted partition recomputes from lineage, so
        # lazy callers stay correct either way.  (The counts path skips
        # the persist: its two passes are at-rest parquet scans.)
        bgx = bgx.persist(StorageLevel.MEMORY_AND_DISK)
        cnt = bgx.groupBy("_b").agg(F.count(F.lit(1)).alias("_cb")).persist()
    try:
        # prefix totals: bigrams sharing the first token
        pref = (
            cnt.withColumn("_w1", F.split("_b", " ")[0])
            .groupBy("_w1")
            .agg(F.sum("_cb").alias("_cp"))
        )
        top = (
            cnt.withColumn("_w1", F.split("_b", " ")[0])
            .join(pref, "_w1")
            .orderBy(F.desc("_cb"), "_b")
            .limit(vocab_size)
            .select(
                "_b",
                F.round(
                    F.log(F.col("_cb").cast("double") / F.col("_cp"))
                    * F.lit(unit)
                ).cast("bigint").alias("_li"),
            )
            .collect()  # <= vocab_size rows, driver-bounded by design
        )
    finally:
        cnt.unpersist()
    lm_df = (df if df is not None else counts_df).sparkSession \
        .createDataFrame(
            [(r["_b"], r["_li"]) for r in top] or [], "_b string, _li bigint"
        )
    return _score_bigrams(
        bgx, id_col, lm_df, oov_lp, unit, score_alias,
        count_col="_c" if counts_df is not None else None,
    )


def _score_bigrams(
    bgx: DataFrame,
    id_col: str,
    lm_df: DataFrame,
    oov_lp: float,
    unit: int,
    score_alias: str,
    count_col: str | None = None,
) -> DataFrame:
    """Broadcast-join scoring over (id, bigram) ROWS (the q104 r9
    lesson: a literal-map fold linear-scans |map| entries PER BIGRAM —
    ~200 s at 200 entries x 26.6M bigrams at sf10; bigram rows are
    doc-local since r13, so the doc_id shuffle partial-combines to
    ~one row per doc map-side and carries |docs| rows).
    With ``count_col`` the rows are (id, bigram, multiplicity) from the
    at-rest counts table and the fold weights by it — same integers."""
    oov_li = int(round(oov_lp * unit))
    li = F.coalesce(F.col("_li"), F.lit(oov_li))
    n_bg = F.sum(count_col) if count_col else F.count(F.lit(1))
    s_llu = F.sum(F.col(count_col) * li) if count_col else F.sum(li)
    return (
        bgx.join(F.broadcast(lm_df), "_b", "left")
        .groupBy(id_col)
        .agg(
            n_bg.alias("n_bigrams"),
            s_llu.alias("sum_llu"),
        )
        .withColumn(
            score_alias,
            F.round(
                F.col("sum_llu").cast("double") / F.col("n_bigrams")
                / F.lit(unit), 6,
            ),
        )
    )


def source_vocab_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise lexical overlap between corpus slices: for every group
    pair (a < b), the shared-vocabulary count and Jaccard similarity of
    their token SETS — the corpus-level near-duplicate signal (two
    "different" sources scraping the same site show up here long before
    doc-level dedup runs), the slice-granular complement of q132's
    per-source profile.

    100 TB shape: collapse to distinct (group, term) rows (one
    partial-combining aggregate, vocabulary-sized output), then a
    term-keyed self-join whose per-term expansion is bounded by the
    GROUP alphabet (≤ |groups| rows per term, never corpus rows) into a
    |groups|²-sized aggregate; set sizes broadcast back.  All counts
    integer; one rounded division.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f]+"),
        lambda w: w != "",
    )
    pv = df.select(
        F.col(group_col).alias("_g"), F.explode(toks).alias("_t")
    ).distinct()
    sizes = pv.groupBy("_g").agg(F.count(F.lit(1)).alias("_v"))
    a, b = pv.alias("a"), pv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._g") < F.col("b._g")),
        )
        .groupBy(F.col("a._g").alias("src_a"), F.col("b._g").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared_terms"))
    )
    sa = sizes.select(F.col("_g").alias("src_a"), F.col("_v").alias("vocab_a"))
    sb = sizes.select(F.col("_g").alias("src_b"), F.col("_v").alias("vocab_b"))
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_terms",
            "vocab_a",
            "vocab_b",
            F.round(
                F.col("shared_terms").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("shared_terms")),
                6,
            ).alias("jaccard"),
        )
    )
