"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language ID, and document fingerprinting.

All four are single-pass, shuffle-free per-document projections (narrow
transformations): at 100 TB they scale linearly with input splits and
never repartition.  Everything is built-in Column expressions — no Python
UDFs — so the whole stage stays inside WholeStageCodegen/JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .core import (
    STOPWORDS, bounded_rank, char_fold_hash, cosine, token_hashes, tokens,
)

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
# the shape of a byte-level BPE split (without the merges table).
BPE_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# tiny per-language marker lexicons for the n-gram/stopword language ID
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is", "to"),
    "fr": ("le", "la", "les", "et", "une", "est"),
    "es": ("el", "los", "una", "y", "que", "es"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
}


def _signal_cols() -> dict[str, F.Column]:
    """Every per-document text signal as an UNALIASED Column expression
    over (text, lang).  The public operators below — and the one-pass
    ``text_profile`` — select (and alias) subsets of this dict, so each
    signal is defined exactly once."""
    toks = tokens(F.col("text"))
    pieces = F.regexp_extract_all(F.lower(F.col("text")),
                                  F.lit(BPE_REGEX), 0)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_punct = F.length(
        F.regexp_replace(F.lower(F.col("text")), r"[a-z0-9\s]", "")
    )
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1)).cast("double")
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1)).cast("double")
    mean_word_len = n_chars / F.greatest(n_tok, F.lit(1)).cast("double")
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.3
        + F.when((stop_ratio >= 0.03) & (stop_ratio <= 0.6),
                 F.lit(1.0)).otherwise(F.lit(0.5)) * 0.2
        + F.least(mean_word_len / F.lit(8.0), F.lit(1.0)) * 0.2
    )
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, lambda t: t.isin(*marks)))
                .cast("long").alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, marks in LANG_MARKERS.items()
        ]
    )
    best = F.array_max(scored)
    return {
        "n_tokens": n_tok,
        "n_bpe_pieces": F.size(pieces).cast("long"),
        "n_chars": n_chars,
        "stopword_ratio": F.round(stop_ratio, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "mean_word_len": F.round(mean_word_len, 6),
        "quality_score": F.round(score, 6),
        "labeled_lang": F.col("lang"),
        "predicted_lang": F.when(best["score"] > 0,
                                 best["lang"]).otherwise("und"),
        "marker_hits": best["score"],
        "fingerprint": char_fold_hash(F.col("text")),
        "min_token_hash": F.array_min(token_hashes(toks)),
    }


def _select(docs: DataFrame, names: list[str]) -> DataFrame:
    c = _signal_cols()
    return docs.select("doc_id", *[c[n].alias(n) for n in names])


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish piece count + char count."""
    return _select(docs, ["n_tokens", "n_bpe_pieces", "n_chars"])


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword heuristics -> quality in [0, 1].

    The score blends four signals a pretraining filter would use:
    enough tokens, low punctuation density, a natural stopword rate,
    and plausible mean word length.
    """
    return _select(docs, ["n_tokens", "stopword_ratio", "punct_ratio",
                          "mean_word_len", "quality_score"])


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-lexicon language ID: hits per language, argmax with a
    deterministic (score, lang)-max tiebreak; zero hits -> 'und'."""
    return _select(docs, ["labeled_lang", "predicted_lang", "marker_hits"])


def fingerprints(docs: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint + cheap content signature
    (min token hash) for fast prefilter joins."""
    return _select(docs, ["fingerprint", "min_token_hash", "n_tokens"])


def text_profile(docs: DataFrame) -> DataFrame:
    """ALL per-document text signals in ONE narrow pass: token/piece/char
    counts, quality heuristics, language ID, and fingerprints.

    This is how a real pretraining-filter stage runs them — one scan, one
    projection, no joins — and it is the driver-checked query that covers
    the whole text family (each signal is also exposed individually
    above for composition)."""
    return _select(docs, ["n_tokens", "n_bpe_pieces", "n_chars",
                          "stopword_ratio", "punct_ratio", "mean_word_len",
                          "quality_score", "labeled_lang", "predicted_lang",
                          "marker_hits", "fingerprint", "min_token_hash"])


def vocabulary(docs: DataFrame, top_k: int | None = None,
               min_count: int = 1,
               tokenizer: str = "whitespace") -> DataFrame:
    """Corpus token-frequency table — the input a tokenizer-training or
    stopword-induction step consumes.

    Scale notes: explode -> ONE hash aggregation on the token key with
    map-side combine (the per-partition partials bound the shuffle to
    distinct-tokens-per-partition, not corpus tokens); ``top_k`` plans as
    TakeOrderedAndProject, so no global sort materializes even when the
    vocabulary is huge.  Zipf skew on hot tokens is absorbed by the
    partial aggregation — the hot key reaches the shuffle once per
    partition.
    """
    from .core import tokens_for

    vocab = (
        docs.select(
            F.explode(tokens_for(F.col("text"), tokenizer)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
    )
    return vocab.limit(top_k) if top_k is not None else vocab


def tfidf_keywords(docs: DataFrame, top_k: int = 5) -> DataFrame:
    """Per-document top-``top_k`` keywords by TF-IDF — the keyword /
    topic-tag extraction step of a corpus-indexing pipeline.

    Returns (doc_id, kw_rank, token, tf, df, score) where ``score`` is a
    BM25-shaped idf weight

        score = tf * (n_docs - df + 0.5) / (df + 0.5)

    chosen over ``tf * ln(n_docs/df)`` deliberately: it ranks identically
    (monotone-decreasing in df) but uses ONLY +,-,*,/ — each exactly
    rounded under IEEE 754 — so two independent engines produce
    bit-identical doubles and the differential oracle can hash-compare
    values (libm ``ln`` carries no cross-engine ulp guarantee).

    Scale shape: explode -> map-side-combined (doc, token) TF aggregation
    -> token DF aggregation over the (already distinct-per-doc) TF table
    -> one shuffle join back on ``token`` -> per-doc top-k window.  The
    corpus-size scalar attaches to the vocab-sized DF table as a 1-row
    broadcast; Catalyst constant-folds the synthetic equi-key away and
    plans it as a 1-row BroadcastNestedLoopJoin — Spark's own
    scalar-subquery shape (cost: one broadcast of one row; NOT a
    cartesian hazard, the build side is a single-row aggregate by
    construction).
    Zipf-hot tokens skew the token join; AQE's skew-join split absorbs
    it (each TF row matches exactly one DF row, so salting is never
    semantically needed).
    """
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfc = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = (
        docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("_k", F.lit(1))
    )
    dfn = (
        dfc.withColumn("_k", F.lit(1))
        .join(F.broadcast(n), "_k")
        .drop("_k")
    )
    score = (
        F.col("tf").cast("double")
        * ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("token"))
    return (
        tf.join(dfn, "token")
        .withColumn("score", score)
        .withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= top_k)
        .select("doc_id", "kw_rank", "token", "tf", "df", "score")
    )


def search_bm25(docs: DataFrame, query_terms: list[str],
                k1: float = 1.2, b: float = 0.75,
                top_k: int = 20) -> DataFrame:
    """BM25-shaped full-text search: rank documents against a bag of
    query terms.  Returns (doc_id, n_terms_hit, score_micro) top-k by
    (score_micro DESC, doc_id ASC).

    Scoring = sum over matched terms of

        idf_ratio(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    with ``idf_ratio = (N - df + 0.5)/(df + 0.5)`` — the pre-log BM25
    idf, kept log-free so every step is an exactly-rounded IEEE op (see
    ``tfidf_keywords``).  Each per-term score is then quantized to
    integer MICROS (floor(score * 1e6)) before the per-doc sum: double
    addition is not associative and Spark sums partitions in a
    nondeterministic order, so summing doubles would break the
    differential hash — summing int64 micros is exact and
    order-independent.

    Scale shape: the ``token IN query`` filter lands directly on the
    exploded token stream (pre-shuffle), so the per-term TF table holds
    only matching docs; term df comes from that same filtered table
    (count of docs per matched term — no corpus-wide vocabulary pass);
    the (N, avgdl) corpus scalars are ONE 1-row aggregate attached as a
    1-row-broadcast nested-loop join (the scalar-subquery plan shape —
    see ``tfidf_keywords``); the final per-doc sum + top-k plans as a
    map-side-combined aggregation + TakeOrderedAndProject.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens(F.col("text"))
    base = docs.select(
        "doc_id", F.size(toks).cast("long").alias("dl"), toks.alias("_t"))
    term_rows = (
        base.select("doc_id", "dl", F.explode("_t").alias("token"))
        .filter(F.col("token").isin(*[str(t).lower() for t in query_terms]))
    )
    tf = (
        term_rows.groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # df as a COUNT window over the TF table instead of a separate
    # aggregate joined back: the df-subtree variant re-evaluated the
    # whole corpus tokenization pass for the join's build side (two
    # identical Generate subtrees in the plan), while the window reuses
    # the one TF table with a single tiny exchange on the matched-term
    # key (guide §2.4).  Interleaved r14 A/B at sf0.1: window 0.90 s vs
    # join-back 1.13 s vs persist(tf) 1.47 s.  df values are identical —
    # both count TF rows per token.
    from pyspark.sql import Window as _W

    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(_W.partitionBy("token")).cast("long"))
    stats = (
        docs.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(tokens(F.col("text"))).cast("long"))
            .cast("long").alias("total_len"),
        )
        .withColumn("_k", F.lit(1))
    )
    scored = (
        with_df
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(stats), "_k")
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    idf = (
        ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (
        F.lit(1.0) - F.lit(b)
        + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    term_score = idf * (tfd * F.lit(k1 + 1.0)) / denom
    return (
        scored
        .withColumn(
            "score_micro",
            F.floor(term_score * F.lit(1000000.0)).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("score_micro").cast("long").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(top_k)
    )


def hybrid_search(docs: DataFrame, emb: DataFrame,
                  query_terms: list[str], query_vec_id: int = 0,
                  k: int = 20, pool: int = 50,
                  rrf_k: int = 60) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with dense-cosine
    ranking by Reciprocal Rank Fusion — the standard two-tower serving
    composition (keyword recall + semantic recall, neither alone
    suffices).  ``emb.vec_id`` must share ``docs.doc_id``'s key space;
    the dense query is the stored embedding of ``query_vec_id``.

    Each ranker contributes its top-``pool`` list; a doc's fused score
    is ``sum(1_000_000 div (rrf_k + rank))`` over the lists it appears
    in (integer micros — exact, order-independent, so the result
    hash-compares across engines; docs missing from a list contribute 0
    from it).  Returns top-``k`` by (rrf_micro DESC, doc_id ASC):
    ``(doc_id, bm25_rank, dense_rank, rrf_micro)`` with NULL ranks for
    single-list hits.

    Scale shape: each ranked pool is a TakeOrdered top-``pool`` (the
    rank windows then run over <= pool rows — bounded, not a global
    sort of the corpus); the fusion is one full-outer join of two
    pool-sized lists.  The dense side here is the brute-force cosine
    pass over ``emb`` (one narrow projection); swap in the IVF/LSH
    variants from pipeline/similarity.py for corpus-scale serving —
    fusion is agnostic to how each list was produced.
    """
    bm = search_bm25(docs, query_terms, top_k=pool)
    # rank the <=pool-row list via bounded_rank (sorted-array posexplode)
    # instead of a partition-less Window — same total order, no
    # single-partition WindowExec WARN in every run's output
    bm_ranked = bounded_rank(
        bm, [-F.col("score_micro"), F.col("doc_id")], "bm25_rank"
    ).select("doc_id", "bm25_rank")

    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe"))
    if not q.head(1):
        raise ValueError(
            f"hybrid_search: query_vec_id {query_vec_id!r} not in emb — "
            f"a silent BM25-only result would masquerade as hybrid")
    scored = (
        emb.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"),
                F.round(cosine(F.col("embedding"), F.col("qe")), 6)
                .alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(pool)
    )
    # cos_sim is 6dp-quantized, so -round(cos_sim*1e6) is an EXACT
    # integer key reproducing (cos_sim DESC) with no double-negation
    # edge cases; doc_id totalizes the order
    dense_ranked = bounded_rank(
        scored,
        [(-F.round(F.col("cos_sim") * F.lit(1000000.0), 0)).cast("long"),
         F.col("doc_id")],
        "dense_rank",
    ).select("doc_id", "dense_rank")

    return _rrf_fuse(bm_ranked, dense_ranked, k, rrf_k)


def _rrf_fuse(bm_ranked: DataFrame, dense_ranked: DataFrame, k: int,
              rrf_k: int) -> DataFrame:
    """Reciprocal Rank Fusion of two bounded ranked lists (integer
    micros — exact and order-independent): one full-outer join of two
    pool-sized lists, top-``k`` by (rrf_micro DESC, doc_id ASC).
    Shared by the in-flight and the stored-index hybrid retrievals."""
    rrf = (
        F.coalesce(
            F.expr(f"1000000 div ({int(rrf_k)} + bm25_rank)"), F.lit(0))
        + F.coalesce(
            F.expr(f"1000000 div ({int(rrf_k)} + dense_rank)"), F.lit(0))
    ).cast("long")
    return (
        bm_ranked.join(dense_ranked, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "dense_rank",
                rrf.alias("rrf_micro"))
        .orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
        .limit(k)
    )


def _where_doc_ids(spark, index_path: str, where: str) -> DataFrame:
    """The BM25 arm's twin of the dense arm's attrs pushdown: the
    stored index's attribute columns ARE the hybrid filter surface, so
    the lexical pool semi-joins the ``vec_id``s whose attrs satisfy
    ``where`` — read from the committed CODES table (bytes + attrs;
    the primary vectors are never touched).  Refuses an attr-less
    index up front: ``.filter(where)`` over a frame without the column
    would raise an opaque AnalysisException deep in the plan, and a
    silently-dropped predicate would serve unfiltered (cross-tenant!)
    rows — the CLI's ``_refuse_where_without_attrs`` contract, at the
    library boundary.  ``where`` is caller-trusted SQL (the
    :func:`~..similarity.index_topk` trust-boundary note)."""
    from .similarity import _index_manifest, _manifest_codes

    m = _index_manifest(spark, index_path)
    if not m.get("attrs"):
        raise ValueError(
            f"hybrid where=: vector index {index_path} (kind "
            f"{m.get('kind', 'sq8')}) stores no attribute columns — "
            f"the predicate has nothing to push down to; rebuild with "
            f"attrs= or filter via an allowed= id-list")
    return (_manifest_codes(spark, index_path, m)
            .filter(where).select("vec_id"))


def hybrid_index_search(spark, docs: DataFrame, index_path: str,
                        vectors: DataFrame, query_terms: list[str],
                        query_vec: list[float], k: int = 20,
                        pool: int = 50, rrf_k: int = 60,
                        nprobe: int | None = None,
                        allowed: DataFrame | None = None,
                        where: str | None = None) -> DataFrame:
    """Hybrid retrieval with the dense arm served from a STORED vector
    index — the corpus-scale form of :func:`hybrid_search`: BM25 ranks
    its top-``pool`` lexically, the index's kind-dispatched serving
    path (any of the six layouts, resolved from the manifest) ranks
    its top-``pool`` semantically with the exact-rerank contract, and
    the two bounded lists fuse by the same integer RRF.  ``allowed``
    restricts BOTH arms (semi-join on the BM25 side, the filtered
    serving path with adaptive probe widening on the dense side) — the
    tenant-scoped RAG shape.  ``where`` is the attrs-pushdown form of
    the same scope: the dense arm pushes it into the codes scan, the
    BM25 arm semi-joins the attr-matching ids (:func:`_where_doc_ids`;
    requires an attrs-bearing index).  ``vectors.vec_id`` must share
    ``docs.doc_id``'s key space.

    Scale: the BM25 arm is corpus-scan + TakeOrdered; the dense arm
    reads nprobe partitions of byte codes (IVF kinds) or the flat code
    column.  The fusion never touches the corpus again."""
    from .similarity import index_topk

    bm = search_bm25(docs, query_terms, top_k=pool)
    if allowed is not None:
        bm = bm.join(allowed.select(F.col("vec_id").alias("doc_id")),
                     "doc_id", "left_semi")
    if where is not None:
        # same placement as allowed=: the predicate filters the
        # already-cut pool, then ranks recompute densely
        bm = bm.join(_where_doc_ids(spark, index_path, where)
                     .select(F.col("vec_id").alias("doc_id")),
                     "doc_id", "left_semi")
    bm_ranked = bounded_rank(
        bm, [-F.col("score_micro"), F.col("doc_id")], "bm25_rank"
    ).select("doc_id", "bm25_rank")
    dense_ranked = index_topk(
        spark, index_path, query_vec, vectors, k=pool, nprobe=nprobe,
        allowed=allowed, where=where).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("dense_rank"))
    return _rrf_fuse(bm_ranked, dense_ranked, k, rrf_k)


def hybrid_index_search_batch(spark, docs: DataFrame, index_path: str,
                              vectors: DataFrame, queries: DataFrame,
                              k: int = 20, pool: int = 50,
                              rrf_k: int = 60,
                              nprobe: int | None = None,
                              allowed: DataFrame | None = None,
                              where: str | None = None
                              ) -> DataFrame:
    """BATCH hybrid retrieval — the RAG serving shape: ``queries`` is a
    ``(query_id, terms array<string>, embedding array<double>)``
    DataFrame and the whole batch runs as ONE distributed plan
    (``(query_id, doc_id, bm25_rank, dense_rank, rrf_micro)`` out,
    top-``k`` per query), per-query identical to
    :func:`hybrid_index_search` — never a driver loop over single
    calls.

    The BM25 arm batches by construction: the doc token stream is
    exploded ONCE, pruned by a broadcast join against the UNION of all
    queries' terms (the batch twin of the single path's pre-shuffle
    ``token IN (...)`` literal filter), per-(doc, token) tf and
    per-token df aggregate once for the whole batch (both are
    query-independent, so the batch computes exactly the single path's
    numbers), and only then does the bounded (query_id, token) table
    fan scores out to the queries that asked — per-query top-``pool``
    via bounded windows.  The dense arm is the index's kind-dispatched
    :func:`~.similarity.index_topk_batch` (any of the six layouts, one
    probe resolution for the batch); fusion is the per-query integer
    RRF.

    ``allowed`` restricts BOTH arms, as in the single path: the BM25
    pool semi-joins it AFTER the top-``pool`` cut (single-path parity
    — ranks recompute densely over the survivors), the dense arm gets
    it with per-query adaptive probe widening on the IVF kinds.
    ``where`` (an attrs predicate over the index's stored attribute
    columns) restricts both arms the same way — pushed into the dense
    codes scan, semi-joined into the BM25 pool via
    :func:`_where_doc_ids`; requires an attrs-bearing index."""
    from .similarity import index_topk_batch

    n_bad = queries.filter(
        F.col("terms").isNull() | (F.size("terms") == 0)).count()
    if n_bad:
        raise ValueError(
            f"hybrid_index_search_batch: {n_bad} queries have "
            f"NULL/empty terms — a silent dense-only result would "
            f"masquerade as hybrid (the single-path contract)")
    # (query_id, token): lowercased, DEDUPED per query — the single
    # path's isin() is a set test, so duplicate terms must not
    # double-count
    qt = (
        queries.select("query_id", F.explode("terms").alias("t"))
        .select("query_id",
                F.lower(F.col("t").cast("string")).alias("token"))
        .distinct()
        .localCheckpoint(eager=True)       # bounded; reused 2x below
    )
    tok_union = qt.select("token").distinct()
    toks = tokens(F.col("text"))
    base = docs.select(
        "doc_id", F.size(toks).cast("long").alias("dl"),
        toks.alias("_t"))
    term_rows = (
        base.select("doc_id", "dl", F.explode("_t").alias("token"))
        .join(F.broadcast(tok_union), "token")
    )
    # tf and df are QUERY-INDEPENDENT — aggregate once over the pruned
    # stream, before any per-query fan-out
    tf = (
        term_rows.groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # df via a COUNT window over the TF table — same change (and same
    # measured win) as search_bm25: the join-back form re-evaluated the
    # corpus tokenization for the df build side; identical df values
    from pyspark.sql import Window as _W

    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(_W.partitionBy("token")).cast("long"))
    stats = (
        docs.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(tokens(F.col("text"))).cast("long"))
            .cast("long").alias("total_len"),
        )
        .withColumn("_k", F.lit(1))
    )
    scored = (
        with_df
        .join(F.broadcast(qt), "token")    # fan out to asking queries
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(stats), "_k")
    )
    # identical scoring expressions to search_bm25 (k1/b defaults) —
    # per-term micros, exact order-independent int64 sums
    k1, b = 1.2, 0.75
    avgdl = (F.col("total_len").cast("double")
             / F.col("n_docs").cast("double"))
    idf = (
        ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (
        F.lit(1.0) - F.lit(b)
        + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    term_score = idf * (tfd * F.lit(k1 + 1.0)) / denom
    per_q = (
        scored
        .withColumn(
            "score_micro",
            F.floor(term_score * F.lit(1000000.0)).cast("long"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_micro").cast("long").alias("score_micro"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id"))
    pool_rows = (
        per_q.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= pool).drop("rn")
    )
    if allowed is not None:
        # single-path parity: the allow-list filters the already-cut
        # pool (fewer than `pool` may survive), then ranks recompute
        # densely over the survivors
        pool_rows = pool_rows.join(
            allowed.select(F.col("vec_id").alias("doc_id")),
            "doc_id", "left_semi")
    if where is not None:
        pool_rows = pool_rows.join(
            _where_doc_ids(spark, index_path, where)
            .select(F.col("vec_id").alias("doc_id")),
            "doc_id", "left_semi")
    bm_ranked = (
        pool_rows.withColumn("bm25_rank", F.row_number().over(wq))
        .select("query_id", "doc_id", "bm25_rank")
    )
    dense_ranked = index_topk_batch(
        spark, index_path, queries.select("query_id", "embedding"),
        vectors, k=pool, nprobe=nprobe, allowed=allowed,
        where=where).select(
        "query_id", F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("dense_rank"))
    rrf = (
        F.coalesce(
            F.expr(f"1000000 div ({int(rrf_k)} + bm25_rank)"), F.lit(0))
        + F.coalesce(
            F.expr(f"1000000 div ({int(rrf_k)} + dense_rank)"),
            F.lit(0))
    ).cast("long")
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        bm_ranked.join(dense_ranked, ["query_id", "doc_id"],
                       "full_outer")
        .select("query_id", "doc_id", "bm25_rank", "dense_rank",
                rrf.alias("rrf_micro"))
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= k).drop("rn")
    )


def lm_transition_scores(docs: DataFrame) -> DataFrame:
    """Bigram language-model fluency scoring — the perplexity-style
    quality signal corpus filters run beside the heuristic
    ``quality_scores`` (fluent prose has typical word-to-word
    transitions; keyboard mash, shuffled text, and tag soup do not).

    Self-supervised on the corpus itself: unigram and bigram counts
    come from ONE pass over the documents, then every adjacent pair
    (w1, w2) in a doc scores the integer micro transition mass

        micro = (count(w1,w2) * 1_000_000) DIV (count(w1) + V)

    (add-V smoothing denominator, V = distinct unigrams) and a doc's
    score is the integer mean over its transitions.  Deliberately
    log-free: transcendentals are not bit-identical across engines, and
    the DIV chain hash-compares exactly (same discipline as the BM25
    idf).  Returns ``(doc_id, n_transitions, lm_score_micro)`` for
    EVERY doc — under-2-token docs carry 0 transitions and a NULL score
    (no evidence), never a fake 0.

    Scale shape: transitions are a per-doc projection behind one
    Generate; the count tables are map-side-combined aggregates; the
    scoring joins are hash equi-joins on (w1, w2)/(w1) against
    distinct-key-sized tables, plus a one-row broadcast for V (the
    bounded-broadcast BNLJ class the plan lint whitelists).  Hot
    bigrams skew the probe side only as much as they skew the corpus —
    AQE's skew split applies.
    """
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    trans = (
        base.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("toks"), i).alias("w1"),
                            F.element_at(F.col("toks"), i + 1)
                            .alias("w2")),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("t"),
        )
        .select("doc_id", "t.w1", "t.w2")
    )
    uni = (
        base.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    big = (
        trans.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cbig"))
    )
    vocab_n = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    scored = (
        trans.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .join(F.broadcast(vocab_n))
        .select(
            "doc_id",
            F.expr("cbig * 1000000 DIV (c1 + v)").cast("long")
            .alias("micro"))
    )
    agg = (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"),
             F.expr("sum(micro) DIV count(1)").cast("long")
             .alias("lm_score_micro"))
    )
    return (
        base.select("doc_id").join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_transitions"), F.lit(0)).cast("long")
            .alias("n_transitions"),
            F.col("lm_score_micro"),
        )
    )


def hash_embeddings(docs: DataFrame, dim: int = 64) -> DataFrame:
    """``(vec_id, embedding)``: deterministic feature-hashing text
    embeddings (the classic hashing trick) — every token lands in
    bucket ``md5_hash64('he/'||token) % dim`` with a ±1 sign from an
    independently-salted hash (the sign hash unbiases collision sums),
    bucket counts accumulate, and the vector L2-normalizes (all-zero →
    zero vector, no NaN).

    This is the bridge from a raw text corpus to the whole vector
    family (ANN, semantic dedup, the SQ8/IVF/PQ serving indexes) when
    no model embeddings ship with the data — cheap, reproducible, and
    good enough for lexical-similarity retrieval.  Shape: shuffle-free
    narrow projections (no explode, no groupBy), so at 100 TB the
    stage scales with input splits exactly like every other text
    operator here.  Cost is O(dim x tokens) per row; keep dim modest
    (the default 64 matches the fixture embeddings).
    """
    from .core import md5_hash64

    # NULL text folds to the zero vector (like empty), never a NULL
    # embedding a downstream cosine would silently null-propagate
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))

    # Hash each token ONCE into (bucket, sign): higher-order functions
    # evaluate interpreted, so an md5 left inside a per-position lambda
    # is recomputed dim times per token (the original fold shape —
    # measured 277 s at sf0.01).  With the hash array shared via
    # subexpression elimination, the bucket sums are counts of ±1
    # (exact integers, order-independent), so the loop inverts: one
    # cheap filter-count pass per OUTPUT position instead of a new
    # dim-wide array per TOKEN (no per-token allocation; measured
    # 277 s -> 11 s at sf0.01, same bit-exact output).
    hashed = F.transform(
        toks,
        lambda t: F.struct(
            F.pmod(md5_hash64(F.concat(F.lit("he/"), t)),
                   F.lit(dim)).alias("b"),
            F.when(
                F.pmod(md5_hash64(F.concat(F.lit("hs/"), t)), F.lit(2))
                == 1, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("s")))

    def _count(i, positive):
        pred = (lambda p: (p["b"] == i.cast("long"))
                & ((p["s"] > F.lit(0.0)) if positive
                   else (p["s"] < F.lit(0.0))))
        return F.size(F.filter(hashed, pred))

    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (_count(i, True) - _count(i, False)).cast("double"))
    # Materialize raw and norm through SEPARATE projections: nested-
    # lambda expressions defeat interpreted subexpression elimination,
    # so inlining `raw` into both norm and the per-element division
    # re-evaluates the whole counting pass per output position (65x).
    # A multi-referenced non-cheap alias blocks CollapseProject, so
    # each level evaluates exactly once.
    staged = docs.select(F.col("doc_id").alias("vec_id"),
                         raw.alias("_raw"))
    staged = staged.select(
        "vec_id", "_raw",
        F.sqrt(F.aggregate(F.col("_raw"), F.lit(0.0),
                           lambda a, x: a + x * x)).alias("_nrm"))
    emb = F.transform(
        F.col("_raw"),
        lambda x: (x / F.when(F.col("_nrm") == F.lit(0.0), F.lit(1.0))
                   .otherwise(F.col("_nrm"))).cast("float"))
    return staged.select("vec_id", emb.alias("embedding"))
