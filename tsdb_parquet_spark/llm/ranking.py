"""Lexical relevance ranking (BM25) over a document corpus.

The retrieval complement to ``llm/similarity.py``'s embedding ANN: a
production RAG pipeline retrieves hybrid — BM25 posting lists for exact
lexical recall, ANN for semantic recall — so the engine needs both
halves.  Not in the reference (which stops at TSDB scans); this is part
of the SURVEY.md §2.2 LLM-data extension surface.

100 TB shape: the only per-document work is tokenize + explode, and the
exploded stream is filtered to the query's terms BEFORE any shuffle —
what reaches the (doc, term) aggregate is the postings of |Q| terms, not
the corpus.  Corpus stats (N, total token count) are a one-row
aggregate; per-term document frequencies are a |Q|-row broadcast.  The
final ranking is top-k (TakeOrderedAndProject), never a full sort.  For
repeated querying at rest, materialize the (doc_id, term, tf, dl)
postings table once (:func:`bm25_index_layouts`) and skip the tokenize
pass entirely — this function computes it inline so a single call is
self-contained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import Layout

# Explicit whitespace class, not \s: Java's \s includes vertical tab
# while RE2's (the DuckDB oracle's engine) does not (see
# llm/text.bpe_ish_tokens) — the explicit class tokenizes identically
# in both engines.
_WS = "[ \\t\\n\\r\\f]+"


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_k`` documents by BM25 score against ``query_terms``.

    Okapi BM25 with the standard smoothed idf
    ``ln((N - df + 0.5)/(df + 0.5) + 1)`` (Robertson/Sparck Jones; the
    +1 keeps idf positive for terms in >half the corpus, as in Lucene).

    Determinism (the oracle hash-compares doubles): the per-document sum
    over query terms is assembled as one fixed-order expression
    ``c0 + c1 + ...`` — each ``ci`` is a conditional aggregate over at
    most one row, so no float addition depends on partitioning or row
    order; ``avgdl`` is an exact integer sum divided once; the only
    libm call is ``ln`` (engines may differ in the last ulp, absorbed by
    ``round(score, 6)``).  Ties broken by ``doc_id``.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    d = _tokenized(docs, doc_id, text_col)
    # one-row corpus stats; exact integer sum, one division
    stats = _corpus_stats(d)
    # postings restricted to the query terms before the shuffle
    tf = _postings(d, doc_id).filter(
        F.col("term").isin(list(query_terms))
    )
    return _score_topk(tf, stats, query_terms, k1, b, top_k, doc_id)


def _tokenized(docs: DataFrame, doc_id: str, text_col: str) -> DataFrame:
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), _WS), lambda w: w != ""
    )
    # r16: repartition the raw text by id before the tokenize (the q136
    # r13 lesson): row-group-bound scan parallelism ran the tokenize +
    # postings explode on ONE task over compact corpora — q91 raw at
    # sf10 measured 14-20 s -> 8.3 s, digests identical.  Repartition
    # of the TEXT, not the token arrays: the toks-level variant moves
    # bigger rows and re-serializes the arrays (measured 13.8-15.6 s —
    # worse than either), and ReuseExchange cannot serve the two
    # consumers (stats/postings) either way because their pruned
    # projections canonicalize differently.
    return (
        docs.select(F.col(doc_id), F.col(text_col))
        .repartition(F.col(doc_id))
        .select(F.col(doc_id), toks.alias("toks"))
        .select(doc_id, F.size("toks").alias("dl"), "toks")
    )


def _corpus_stats(d: DataFrame) -> DataFrame:
    return d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )


def _postings(d: DataFrame, doc_id: str) -> DataFrame:
    return (
        d.select(doc_id, "dl", F.explode("toks").alias("term"))
        .groupBy(doc_id, "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )


def _score_topk(
    tf: DataFrame,
    stats: DataFrame,
    query_terms: list[str],
    k1: float,
    b: float,
    top_k: int,
    doc_id: str,
) -> DataFrame:
    """Shared scoring tail: per-term document frequencies from the (already
    query-term-restricted) postings, smoothed-idf contributions, fixed-order
    per-document assembly, top-k."""
    # |Q|-row document frequencies, broadcast back onto the postings
    dft = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("dfreq")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
        + 1.0
    )
    contrib = idf * (
        (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(F.broadcast(stats))
        .withColumn("contrib", contrib)
    )
    # fixed-order assembly: one conditional aggregate per query term,
    # then a literal left-to-right sum — float order is plan-determined,
    # not data-determined
    per_term = [
        F.sum(F.when(F.col("term") == t, F.col("contrib"))).alias(f"c{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = scored.groupBy(doc_id).agg(*per_term)
    score = F.coalesce(F.col("c0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        score = score + F.coalesce(F.col(f"c{i}"), F.lit(0.0))
    return (
        per_doc.select(doc_id, F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), doc_id)
        .limit(top_k)
    )


def bm25_index_layouts(
    name: str,
    build_docs,
    num_buckets: int = 16,
    doc_id: str = "doc_id",
    text_col: str = "text",
    source_paths: str | list[str] | None = None,
) -> tuple[Layout, Layout]:
    """The PERSISTED inverted index behind :func:`bm25_rank_indexed` —
    the at-rest rung of the lexical-ranking ladder, exactly q09_mv's
    pattern applied to retrieval: the corpus tokenized ONCE into a
    (doc_id, dl, term, tf) postings table bucketed+sorted by ``term``
    (``name``), with the one-row corpus stats stored alongside
    (``{name}_stats``), both fingerprint-named (:class:`sources.Layout`
    — cheap no-op when current).  Returns the ``(postings, stats)``
    layouts; ``ensure`` builds them, ``peek`` probes them read-only."""
    post = Layout(
        name,
        lambda: _postings(_tokenized(build_docs(), doc_id, text_col), doc_id),
        source_paths,
        bucket_col="term", num_buckets=num_buckets, sort_col="term",
    )
    stats = Layout(
        f"{name}_stats",
        lambda: _corpus_stats(_tokenized(build_docs(), doc_id, text_col)),
        source_paths,
    )
    return post, stats


def bm25_rank_indexed(
    postings: DataFrame,
    stats: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    doc_id: str = "doc_id",
) -> DataFrame:
    """:func:`bm25_rank` served from the tables of
    :func:`bm25_index_layouts`: every query reads only the postings
    buckets holding its terms (bucket pruning: ``SelectedBucketsCount``
    in the scan, plan-asserted in tests) — at 100 TB the per-query cost
    is O(postings of |Q| terms), independent of corpus size, and no
    tokenization happens at query time.  Identical arithmetic to
    :func:`bm25_rank` (same oracle)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    tf = postings.filter(F.col("term").isin(list(query_terms)))
    return _score_topk(tf, stats, query_terms, k1, b, top_k, doc_id)


def rrf_fuse(
    ranked_lists: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009): merge N
    ranked candidate lists — canonically BM25 lexical + ANN semantic,
    the hybrid-retrieval join — by ``score = Σ 1/(k + rank_i)``, with
    items absent from a list simply contributing nothing.  RRF needs no
    score calibration between retrievers (ranks only), which is exactly
    why it is the default hybrid fuser in production search stacks.

    Determinism: the fused sum is assembled left-to-right over the
    input lists via a full outer join cascade (fixed float order —
    never a groupBy over unioned rows, whose partial-agg order is
    partitioning-dependent); 1/(k+rank) in float64; ties broken by id.

    Scale shape: candidate lists are top-k-sized (thousands of rows at
    most), so every join here is broadcast-sized; the heavy lifting
    stayed in the retrievers.  Output: (id, fused score, per-list
    ranks), top ``top_k`` by score.
    """
    if not ranked_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused = None
    for i, rl in enumerate(ranked_lists):
        part = rl.select(
            F.col(id_col).alias("_id"),
            F.col(rank_col).cast("long").alias(f"rank_{i}"),
        )
        fused = part if fused is None else fused.join(
            part, "_id", "full_outer"
        )
    score = None
    for i in range(len(ranked_lists)):
        c = F.when(
            F.col(f"rank_{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"rank_{i}")),
        ).otherwise(F.lit(0.0))
        score = c if score is None else score + c
    return (
        fused.select(
            F.col("_id").alias(id_col),
            F.round(score, 9).alias("rrf_score"),
            *[F.col(f"rank_{i}") for i in range(len(ranked_lists))],
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col))
        .limit(top_k)
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "doc_id",
    emb_col: str = "embedding",
    rel_col: str = "rel",
    group_col: str | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell/Goldstein 1998)
    — the diversity pass between retrieval and a RAG context window:
    greedily pick the candidate maximizing
    ``lam*rel(d) - (1-lam)*max_cosine(d, already_selected)``, so
    near-duplicate hits don't crowd out coverage.

    The select-next recurrence depends on everything chosen so far —
    the designated ``applyInPandas`` custom-op family (LTTB/
    holt_winters precedent): ONE Arrow batch per query group (candidate
    lists are retriever-top-N-sized by construction), numpy cosines
    inside, groups parallel across executors.  Output: the k selected
    rows as (group?, id, mmr_rank, rel, mmr_score).

    100 TB shape: candidates per query are bounded (top-N from BM25/
    ANN), so per-group work is O(k·N·dim); the heavy corpus work stayed
    in the retrievers.  Pinned by a pure-Python reference test AND
    (since r11) a recursive-CTE oracle that replays the greedy
    recurrence over precomputed pairwise sims (q124); rows sort by id
    on entry so the tie-break is engine-independent.
    """
    import numpy as np
    import pandas as pd

    gcols = [group_col] if group_col else []
    d = candidates.select(*gcols, id_col, emb_col, rel_col)
    out_fields = (
        ([f"{group_col} string"] if group_col else [])
        + [f"{id_col} long", "mmr_rank int", "rel double", "mmr_score double"]
    )
    schema = ", ".join(out_fields)

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic input order: Spark hands the group's rows in
        # arbitrary (shuffle) order, and the argmax tie-break is
        # first-index — sort by id so ties resolve to the lowest id on
        # every run/engine (the repo's D1 determinism rule)
        pdf = pdf.sort_values(id_col)
        embs = np.array(pdf[emb_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(embs, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        unit = embs / norms
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        n = len(pdf)
        chosen: list[int] = []
        max_sim = np.zeros(n)
        scores = []
        avail = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            mmr = lam * rel - (1.0 - lam) * max_sim
            mmr[~avail] = -np.inf
            i = int(np.argmax(mmr))  # ties -> lowest index (input order)
            chosen.append(i)
            scores.append(float(mmr[i]))
            avail[i] = False
            max_sim = np.maximum(max_sim, unit @ unit[i])
        out = {
            id_col: pdf[id_col].iloc[chosen].to_numpy(),
            "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int32"),
            "rel": rel[chosen],
            "mmr_score": np.array(scores),
        }
        if group_col:
            out[group_col] = pdf[group_col].iloc[chosen].to_numpy()
        return pd.DataFrame(out)[
            ([group_col] if group_col else [])
            + [id_col, "mmr_rank", "rel", "mmr_score"]
        ]

    if group_col:
        return d.groupBy(group_col).applyInPandas(_mmr, schema)
    # single query: one synthetic group (one Arrow batch, bounded input)
    return d.groupBy(F.lit(1).alias("_g")).applyInPandas(_mmr, schema)
