"""DuckDB-SQL mirrors of the pipeline operators (differential oracles).

Each fragment transcribes the corresponding Spark expression from
pipeline/core.py 1:1 (same fold order, same integer arithmetic mod P,
explicit BIGINT/DOUBLE casts so DuckDB's int32 defaults can't overflow
where Spark used longs).  The driver runs these against the same parquet
and hash-compares values, per the CORRECTNESS gate.
"""

from __future__ import annotations

from .core import NGRAM_MAX_DF, NGRAM_MAX_SET, P
from .cleaning import (
    EMAIL_RE,
    EMAIL_TOKEN,
    IPV4_RE,
    IPV4_TOKEN,
    PHONE_RE,
    PHONE_TOKEN,
)
from .curation import (
    CAP_MARGIN_ABS,
    CAP_MARGIN_PCT,
    CAP_POSITIONS,
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    DEFAULT_CAP,
    MIN_QUALITY,
    SPLIT_BUCKETS,
    SPLIT_SALT,
    VAL_PERMILLE,
)
from .mixing import DEFAULT_N_SHARDS, MIX_RES, MIX_SALT, SHARD_SALT
from .multimodal import FRAME_LEN, FRAME_STRIDE, RESIZE_OUT_LEN
from .similarity import NUM_HYPERPLANES
from .profile import KMV_K, KMV_SPACE
from .source import DOCS_AUG_SQL, DOCS_WEB_CTE, EMB_AUG_DUCK_CTE
from .web import BLOCKED_DOMAINS, WEB_CAP
from .text import BPE_REGEX, LANG_MARKERS, STOPWORDS

# --- shared fragments -----------------------------------------------------

TOKS = (
    "CASE WHEN lower(trim(text)) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(lower(trim(text)), '\\s+') END"
)


def md5h(s: str) -> str:
    """DuckDB twin of pipeline/core.py md5_hash64 (top-60-bit md5 mod P)."""
    return f"(CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT) % {P})"


def char_hash(s: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({s}, ''), c -> CAST(unicode(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {P})"
    )


# shingle set: word 3-grams (or the whole doc if < 3 tokens), hashed with
# the md5-based 60-bit hash reduced mod P (pipeline/core.py md5_hash64),
# distinct
SHINGLE_HASHES = f"""list_distinct(list_transform(
  CASE WHEN len(toks) >= 3 THEN
    list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
  ELSE [list_reduce(list_prepend('', toks),
                    (a, t) -> CASE WHEN a = '' THEN t ELSE a || ' ' || t END)]
  END,
  s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {P}))"""

MINHASHES = f"""list_transform(range(0, 16),
  j -> list_min(list_transform(hs,
       s -> ((2 * CAST(j AS BIGINT) + 3) * s + 5 * j + 7) % {P})))"""

BAND_SIGS = f"""list_transform(range(0, 4),
  b -> struct_pack(band := CAST(b AS INT),
       sig := list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, 5), r -> mh[b * 4 + r])),
         (acc, m) -> (acc * 31 + m) % {P})))"""


# positional 8-gram shingles -> corpus occurrence marking -> per-doc
# consecutive-run grouping (repeated_spans k=8; REPEAT_SPAN_K in dedup.py)
_REPEAT_RUNS_CTE = f"""t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
sh AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         {md5h("array_to_string(toks[u.i:u.i+7], ' ')")} AS h
  FROM t, unnest(CASE WHEN len(toks) >= 8
                      THEN range(1, len(toks) - 6)
                      ELSE CAST([] AS BIGINT[]) END) AS u(i)
),
occ AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
m AS (SELECT doc_id, pos FROM sh JOIN occ USING (h)),
r AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                = 1 THEN 0 ELSE 1 END AS new_run
  FROM m
),
g AS (
  SELECT doc_id, pos,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM r
)"""


def dot_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def cos_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"{dot_sql(a, b, dim)} / sqrt({dot_sql(a, a, dim)})"
        f" / sqrt({dot_sql(b, b, dim)})"
    )


def hyperplane_sql(j: int, dim: int = 64) -> str:
    return (
        f"list_transform(range(0, {dim}), "
        f"d -> CAST((({j} * 37 + d * 61) % 17) - 8 AS DOUBLE))"
    )


def _emb_band_union_sql() -> str:
    """Banded sign-bucket tagging for dedup_embedding_cosine — the exact
    mirror of pipeline/dedup.embedding_near_dup's (label, band, bval)
    blocking: band b's bucket bit i comes from hyperplane j = b*4+i."""
    from .dedup import EMB_BAND_PLANES, EMB_BANDS

    parts = []
    for b in range(EMB_BANDS):
        bits = " + ".join(
            f"(CASE WHEN {dot_sql('embedding', hyperplane_sql(b * EMB_BAND_PLANES + i))}"
            f" >= 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(EMB_BAND_PLANES)
        )
        parts.append(
            f"  SELECT vec_id, label, embedding, {b} AS band,\n"
            f"         {bits} AS bval\n"
            f"  FROM emb_aug"
        )
    return "\n  UNION ALL\n".join(parts)


def kmeans_ctes(src: str, k: int | None = None, dim: int = 64,
                prefix: str = "") -> str:
    """CTE chain mirroring pipeline/similarity.py embedding_kmeans over
    the table ``src`` (n_iter=2 unrolled; final assignment in
    ``{prefix}a2``): hash seeding, round-6 argmax with (cos DESC,
    cid ASC) tie-break, integer milli-quantized centroid sums.
    ``k``/``dim`` default to the corpus operator's constants;
    ``prefix`` namespaces the CTEs so several chains (e.g. the PQ
    oracle's per-subspace instances) coexist in one statement."""
    from .similarity import KMEANS_K, KMEANS_SALT

    kk = KMEANS_K if k is None else k
    p = prefix
    return f"""{p}s AS (
  SELECT vec_id, embedding,
         {md5h(f"'{KMEANS_SALT}' || CAST(vec_id AS VARCHAR)")} AS h
  FROM {src}
  ORDER BY h, vec_id LIMIT {kk}
),
{p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid,
         embedding AS centroid
  FROM {p}s
),
{p}a1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cos_sql('e.embedding', 'c.centroid', dim)}, 6)
               DESC, c.cid) AS rn
    FROM {src} e, {p}c0 c
  ) WHERE rn = 1
),
{p}comp1 AS (
  SELECT cid, u.pos AS pos, CAST(SUM(u.q) AS BIGINT) AS s
  FROM (
    SELECT cid, UNNEST(list_transform(range(1, {dim + 1}),
         i -> struct_pack(pos := i,
              q := CAST(round(embedding[i] * 1000) AS BIGINT)))) AS u
    FROM {p}a1
  )
  GROUP BY 1, 2
),
{p}c1 AS (
  SELECT cid, list(CAST(s AS DOUBLE) ORDER BY pos) AS centroid
  FROM {p}comp1 GROUP BY cid
),
{p}a2 AS (
  SELECT vec_id, cid, cos_sim FROM (
    SELECT e.vec_id, c.cid,
           round({cos_sql('e.embedding', 'c.centroid', dim)}, 6) AS cos_sim,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cos_sql('e.embedding', 'c.centroid', dim)}, 6)
               DESC, c.cid) AS rn
    FROM {src} e, {p}c1 c
  ) WHERE rn = 1
)"""


def correlations_sql(table: str, cols: list[str],
                     scale: int = 100) -> str:
    """Oracle for pipeline/profile.numeric_correlations: HUGEINT
    integer-moment sums (exact, like Spark's decimal(38,0)), the same
    complete-case filter, and the same fixed final double op order."""
    cs = sorted(cols)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cs)
    qcols = ", ".join(
        f"CAST(round(CAST({c} AS DOUBLE) * {scale}) AS HUGEINT) AS q_{c}"
        for c in cs)
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for c in cs:
        sums.append(f"SUM(q_{c}) AS s_{c}")
        sums.append(f"SUM(q_{c} * q_{c}) AS ss_{c}")
    pairs = []
    for i, cx in enumerate(cs):
        for cy in cs[i + 1:]:
            sums.append(f"SUM(q_{cx} * q_{cy}) AS sp_{cx}__{cy}")
            pairs.append(f"""SELECT '{cx}' AS col_x, '{cy}' AS col_y,
  n AS n_rows,
  CASE WHEN (n * ss_{cx} - s_{cx} * s_{cx}) > 0
        AND (n * ss_{cy} - s_{cy} * s_{cy}) > 0
       THEN round(
         CAST(n * sp_{cx}__{cy} - s_{cx} * s_{cy} AS DOUBLE)
         / sqrt(CAST(n * ss_{cx} - s_{cx} * s_{cx} AS DOUBLE))
         / sqrt(CAST(n * ss_{cy} - s_{cy} * s_{cy} AS DOUBLE)), 6)
  END AS corr FROM s""")
    return f"""
WITH base AS (SELECT {qcols} FROM {table} WHERE {notnull}),
s AS (SELECT {', '.join(sums)} FROM base)
{' UNION ALL '.join(pairs)}
"""


def _pq_hat_ctes(src: str, m: int, ksub: int, dim: int) -> str:
    """The PQ training + reconstruction CTE fragment shared by the
    pq_topk and ivf_pq_topk oracles: ``m`` unrolled k-means chains
    (one per contiguous array slice), unit-normalized codewords (exact
    left-fold norm, same op order as core.dot), and ``hat`` =
    subspace-ordered codeword concatenation per vector — the mirror of
    pipeline/similarity._pq_train + _pq_reconstructions."""
    sub = dim // m
    chains, books, asgs = [], [], []
    for j in range(m):
        chains.append(
            f"sub{j} AS (SELECT vec_id, "
            f"embedding[{j * sub + 1}:{(j + 1) * sub}] AS embedding "
            f"FROM {src})")
        chains.append(kmeans_ctes(f"sub{j}", k=ksub, dim=sub,
                                  prefix=f"p{j}_"))
        # codewords are the centroids of the FINAL assignment (c2 — one
        # update step fresher than the a2-producing c1, matching
        # _pq_train's _quantized_centroids(assigned))
        chains.append(
            f"""p{j}_comp2 AS (
  SELECT cid, u.pos AS pos, CAST(SUM(u.q) AS BIGINT) AS s
  FROM (
    SELECT a.cid, UNNEST(list_transform(range(1, {sub + 1}),
         i -> struct_pack(pos := i,
              q := CAST(round(e.embedding[i] * 1000) AS BIGINT)))) AS u
    FROM p{j}_a2 a JOIN sub{j} e USING (vec_id)
  )
  GROUP BY 1, 2
)""")
        chains.append(
            f"p{j}_c2 AS (SELECT cid, list(CAST(s AS DOUBLE) "
            f"ORDER BY pos) AS centroid FROM p{j}_comp2 GROUP BY cid)")
        books.append(
            f"SELECT {j} AS subspace, cid AS code, "
            f"list_transform(centroid, x -> x / nullif(sqrt("
            f"{dot_sql('centroid', 'centroid', sub)}), 0)) AS centroid "
            f"FROM p{j}_c2")
        asgs.append(
            f"SELECT vec_id, {j} AS subspace, cid FROM p{j}_a2")
    return f"""{','.join(chains)},
books AS ({' UNION ALL '.join(books)}),
asg AS ({' UNION ALL '.join(asgs)}),
hat AS (
  SELECT a.vec_id,
         flatten(list(b.centroid ORDER BY a.subspace)) AS hat
  FROM asg a JOIN books b
    ON a.subspace = b.subspace AND a.cid = b.code
  GROUP BY a.vec_id
)"""


def pq_topk_sql(src: str = "embeddings", num_queries: int = 8,
                k: int = 10, m: int = 8, ksub: int = 16,
                dim: int = 64, rerank_mult: int = 8) -> str:
    """Generated oracle for pipeline/similarity.pq_topk: the shared
    PQ hat chain (``_pq_hat_ctes``), asymmetric cosine shortlist of
    ``k * rerank_mult``, exact re-rank — the same doubles in the same
    order as the Spark plan."""
    return f"""
WITH {_pq_hat_ctes(src, m, ksub, dim)},
q AS (SELECT vec_id AS query_id, embedding AS qe FROM {src}
      WHERE vec_id < {num_queries}),
approx AS (
  SELECT q.query_id, h.vec_id AS neighbor_id,
         {cos_sql('q.qe', 'h.hat', dim)} AS approx_sim
  FROM hat h, q WHERE q.query_id != h.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY approx_sim DESC, neighbor_id) AS rn
    FROM approx
  ) WHERE rn <= {k * rerank_mult}
),
pairs AS (
  SELECT s.query_id, s.neighbor_id,
         round({cos_sql('q.qe', 'n.ne', dim)}, 6) AS cos_sim
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN (SELECT vec_id AS neighbor_id, embedding AS ne FROM {src}) n
    ON n.neighbor_id = s.neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def ivf_pq_topk_sql(src: str = "embeddings", num_queries: int = 8,
                    k: int = 10, nprobe: int = 2, kc: int | None = None,
                    m: int = 8, ksub: int = 16, dim: int = 64,
                    rerank_mult: int = 8) -> str:
    """Generated oracle for pipeline/similarity.ivf_pq_topk — the
    composition of the ann_ivf and ann_pq mirrors: the coarse k-means
    chain (``kmeans_ctes``, prefix ``g_``) plus its FINAL-assignment
    centroids (``g_c2`` — one update step fresher, exactly
    ``_quantized_centroids(assigned)``), per-query top-``nprobe``
    cluster probing by round-6 centroid cosine, the shared PQ hat
    chain, reconstruction scoring restricted to probed clusters with
    the self-hit excluded, ``k * rerank_mult`` shortlist, exact
    re-rank."""
    from .similarity import KMEANS_K

    kcc = KMEANS_K if kc is None else kc
    return f"""
WITH {kmeans_ctes(src, k=kcc, dim=dim, prefix="g_")},
g_comp2 AS (
  SELECT cid, u.pos AS pos, CAST(SUM(u.q) AS BIGINT) AS s
  FROM (
    SELECT a.cid, UNNEST(list_transform(range(1, {dim + 1}),
         i -> struct_pack(pos := i,
              q := CAST(round(e.embedding[i] * 1000) AS BIGINT)))) AS u
    FROM g_a2 a JOIN {src} e USING (vec_id)
  )
  GROUP BY 1, 2
),
g_c2 AS (
  SELECT cid, list(CAST(s AS DOUBLE) ORDER BY pos) AS centroid
  FROM g_comp2 GROUP BY cid
),
{_pq_hat_ctes(src, m, ksub, dim)},
q AS (SELECT vec_id AS query_id, embedding AS qe FROM {src}
      WHERE vec_id < {num_queries}),
probe AS (
  SELECT query_id, cid, qe FROM (
    SELECT q.query_id, c.cid, q.qe,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round({cos_sql('q.qe', 'c.centroid', dim)}, 6)
               DESC, c.cid) AS rn
    FROM q, g_c2 c
  ) WHERE rn <= {nprobe}
),
approx AS (
  SELECT p.query_id, h.vec_id AS neighbor_id,
         {cos_sql('p.qe', 'h.hat', dim)} AS approx_sim
  FROM hat h
  JOIN g_a2 a ON a.vec_id = h.vec_id
  JOIN probe p ON p.cid = a.cid AND p.query_id != h.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY approx_sim DESC, neighbor_id) AS rn
    FROM approx
  ) WHERE rn <= {k * rerank_mult}
),
pairs AS (
  SELECT s.query_id, s.neighbor_id,
         round({cos_sql('q.qe', 'n.ne', dim)}, 6) AS cos_sim
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN (SELECT vec_id AS neighbor_id, embedding AS ne FROM {src}) n
    ON n.neighbor_id = s.neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def bq_topk_sql(src: str = "embeddings", num_queries: int = 8,
                k: int = 10, rerank_mult: int = 8) -> str:
    """Generated oracle for pipeline/similarity.bq_topk: sign-bit
    packing as an exact sum of distinct powers of two into two 32-bit
    halves (SUM == OR when bits are distinct), Hamming ranking via
    xor + bit_count — all INTEGER until the exact round-6 re-rank, so
    every stage is engine-identical by construction."""
    half = (
        "list_reduce(list_transform(range(0, 32), i -> CASE WHEN "
        "embedding[{off} + i + 1] > 0 THEN (1::BIGINT << i) "
        "ELSE 0::BIGINT END), (a, x) -> a + x)")
    return f"""
WITH bits AS (
  SELECT vec_id,
         {half.format(off=0)} AS lo,
         {half.format(off=32)} AS hi
  FROM {src}
),
q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qe, b.lo AS qlo,
         b.hi AS qhi
  FROM {src} e JOIN bits b USING (vec_id)
  WHERE e.vec_id < {num_queries}
),
approx AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         bit_count(xor(b.lo, q.qlo)) + bit_count(xor(b.hi, q.qhi))
           AS ham
  FROM bits b, q WHERE q.query_id != b.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY ham, neighbor_id) AS rn
    FROM approx
  ) WHERE rn <= {k * rerank_mult}
),
pairs AS (
  SELECT s.query_id, s.neighbor_id,
         round({cos_sql('q.qe', 'n.ne')}, 6) AS cos_sim
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN (SELECT vec_id AS neighbor_id, embedding AS ne FROM {src}) n
    ON n.neighbor_id = s.neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def bm25_ctes(terms_sql: str) -> str:
    """The BM25 scoring CTE chain (pipeline/text.py search_bm25) up to
    ``bm`` = (doc_id, n_terms_hit, score_micro) — shared by the
    text_search_bm25 oracle and the hybrid-search fusion oracle so the
    two cannot drift.  ``terms_sql`` is the SQL IN-list of query terms.
    Expects ``docs_aug`` in scope."""
    return f"""t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
tr AS (
  SELECT doc_id, dl, token FROM (
    SELECT doc_id, dl, unnest(toks) AS token FROM base
  ) WHERE token IN {terms_sql}
),
tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
       FROM tr GROUP BY 1, 2, 3),
dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(len({TOKS}) AS BIGINT)) AS BIGINT) AS total_len
  FROM docs_aug
),
j AS (
  SELECT tf.doc_id, tf.dl, tf.tf, dfc.df, s.n_docs, s.total_len
  FROM tf JOIN dfc USING (token), stats s
),
sc AS (
  SELECT doc_id,
         CAST(floor(
           ((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           * (CAST(tf AS DOUBLE) * CAST({1.2 + 1.0!r} AS DOUBLE))
           / (CAST(tf AS DOUBLE) + CAST({1.2!r} AS DOUBLE)
              * ((CAST(1.0 AS DOUBLE) - CAST({0.75!r} AS DOUBLE))
                 + CAST({0.75!r} AS DOUBLE)
                   * (CAST(dl AS DOUBLE)
                      / (CAST(total_len AS DOUBLE)
                         / CAST(n_docs AS DOUBLE)))))
           * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS score_micro
  FROM j
),
bm AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(score_micro) AS BIGINT) AS score_micro
  FROM sc GROUP BY 1
)"""


DOCS = f"docs_aug AS ({DOCS_AUG_SQL})"
_IN_STOP = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

# quality-score CTE chain (pipeline/text.py quality_scores), shared by the
# text_quality_scores oracle and the curated-corpus composition
QUALITY_CTES = f"""qt AS (
  SELECT doc_id,
         CAST(len({TOKS}) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter({TOKS}, t -> t IN {_IN_STOP})) AS BIGINT)
           AS n_stop,
         CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
              AS BIGINT) AS n_punct
  FROM docs_aug
),
qr AS (
  SELECT doc_id, n_tok,
         n_stop / CAST(greatest(n_tok, 1) AS DOUBLE) AS stop_ratio,
         n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio,
         n_chars / CAST(greatest(n_tok, 1) AS DOUBLE) AS mean_word_len
  FROM qt
),
qscore AS (
  SELECT doc_id, n_tok, stop_ratio, punct_ratio, mean_word_len,
         round(
           least(n_tok / 100.0, 1.0) * 0.3
           + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
           + (CASE WHEN stop_ratio >= 0.03 AND stop_ratio <= 0.6
                   THEN 1.0 ELSE 0.5 END) * 0.2
           + least(mean_word_len / 8.0, 1.0) * 0.2, 6) AS quality_score
  FROM qr
)"""

# shared by the multimodal oracles: the fake decode is the utf-8 byte
# sequence, recovered in DuckDB by hex-pair parsing of encode(text) (works
# for any codepoint, not just ASCII) — mirrors pipeline/multimodal.py
# media_table + decode_payload(fake=True)
MM_BYTES = f"""mm_b AS (
  SELECT doc_id AS media_id,
         (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         source,
         hex(encode(text)) AS h,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM docs_aug
),
mm_bytes AS (
  SELECT media_id, kind, source, n,
         lower(substr(h, 1, 16)) AS head16,
         list_transform(range(0, CAST(n AS INT)),
           i -> CAST(('0x' || substr(h, 2 * i + 1, 2)) AS BIGINT)) AS bs
  FROM mm_b
)"""

# minhash-LSH pairs -> symmetric edge list -> recursive reachability, shared
# by the dedup_clusters and dedup_keep_one oracles (requires WITH RECURSIVE)
CLUSTER_CTES = f"""{DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
sig AS (
  SELECT doc_id, hs, {MINHASHES} AS mh
  FROM (SELECT doc_id, {SHINGLE_HASHES} AS hs FROM t)
),
banded AS (
  SELECT doc_id, bs.band AS band, bs.sig AS sig
  FROM (SELECT doc_id, unnest({BAND_SIGS}) AS bs FROM sig)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sig sa ON doc_a = sa.doc_id
  JOIN sig sb ON doc_b = sb.doc_id
  WHERE round(len(list_intersect(sa.hs, sb.hs))
              / CAST(len(sa.hs) + len(sb.hs)
                     - len(list_intersect(sa.hs, sb.hs)) AS DOUBLE), 6) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a AS src, b AS dst FROM edges
  UNION
  SELECT reach.src, e.b FROM reach JOIN edges e ON reach.dst = e.a
)"""

# full docs -> kept-training-chunks chain (pipeline/curation.py
# training_chunks), terminating in CTE ``tc`` — shared by the
# pipeline_training_chunks oracle and the packed-sequences composition
# so a mismatch localizes to the stage that differs.  Use with
# ``WITH RECURSIVE`` (CLUSTER_CTES's reach is recursive).
TRAINING_CHUNKS_CTES = f"""{CLUSTER_CTES},
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
  FROM reach GROUP BY src
),
{QUALITY_CTES},
curated AS (
  SELECT d.doc_id
  FROM docs_aug d
  LEFT JOIN clusters c ON d.doc_id = c.doc_id
  JOIN qscore q ON d.doc_id = q.doc_id
  WHERE (c.canonical_id IS NULL OR c.canonical_id = d.doc_id)
    AND q.quality_score >= {MIN_QUALITY}
    AND {md5h(f"'{SPLIT_SALT}' || CAST(d.doc_id AS VARCHAR)")}
          % {SPLIT_BUCKETS} >= {VAL_PERMILLE}
),
sh_t AS (
  SELECT DISTINCT doc_id, unnest({SHINGLE_HASHES}) AS shingle_hash
  FROM t WHERE doc_id % 11 <> 0
),
sh_e AS (
  SELECT DISTINCT unnest({SHINGLE_HASHES}) AS shingle_hash
  FROM t WHERE doc_id % 11 = 0
),
contam AS (
  SELECT doc_id FROM sh_t JOIN sh_e USING (shingle_hash)
  GROUP BY doc_id HAVING count(*) >= 3
),
kept AS (
  SELECT doc_id FROM curated
  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
f AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(0, (len(toks) + {CHUNK_SIZE - CHUNK_OVERLAP - 1})
           // {CHUNK_SIZE - CHUNK_OVERLAP})) AS k
  FROM t
  WHERE len(toks) > 0 AND doc_id IN (SELECT doc_id FROM kept)
),
ch AS (
  SELECT doc_id, k AS chunk_idx,
       CAST(least(k * {CHUNK_SIZE - CHUNK_OVERLAP} + {CHUNK_SIZE}, n)
            - k * {CHUNK_SIZE - CHUNK_OVERLAP} AS BIGINT)
         AS n_chunk_tokens,
       {md5h(
           f"array_to_string(toks[CAST(k * {CHUNK_SIZE - CHUNK_OVERLAP} + 1 AS INT)"
           f" : CAST(least(k * {CHUNK_SIZE - CHUNK_OVERLAP} + {CHUNK_SIZE}, n) AS INT)], ' ')"
       )} AS chunk_hash
  FROM f
),
boiler AS (
  SELECT chunk_hash, min(doc_id) AS canonical_doc_id
  FROM ch GROUP BY 1 HAVING count(*) > 1
),
canon_first AS (
  SELECT ch.chunk_hash, min(ch.chunk_idx) AS canon_idx
  FROM ch JOIN boiler b USING (chunk_hash)
  WHERE ch.doc_id = b.canonical_doc_id
  GROUP BY ch.chunk_hash
),
tc AS (
  SELECT ch.chunk_hash, ch.doc_id, ch.chunk_idx, ch.n_chunk_tokens
  FROM ch
  LEFT JOIN boiler b USING (chunk_hash)
  LEFT JOIN canon_first cf USING (chunk_hash)
  WHERE b.canonical_doc_id IS NULL
     OR (ch.doc_id = b.canonical_doc_id AND ch.chunk_idx = cf.canon_idx)
)"""


def profile_union_sql(cols: tuple[str, ...] = (
        "doc_id", "text", "lang", "source", "n_chars")) -> str:
    """DuckDB twin of pipeline/profile.py table_profile over docs_aug:
    one UNION ALL branch per column, min/max through VARCHAR casts
    (binary string ordering in both engines)."""
    parts = []
    for c in cols:
        parts.append(
            f"  SELECT '{c}' AS \"column\",\n"
            f"         CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
            f"         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_nulls,\n"
            f"         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"         MIN(CAST({c} AS VARCHAR)) AS min_value,\n"
            f"         MAX(CAST({c} AS VARCHAR)) AS max_value\n"
            f"  FROM docs_aug")
    return "\n  UNION ALL\n".join(parts)


# the driver's deterministic PII injection (__spark_entry__._pii_injected)
_PII_TEXT = (
    "CASE WHEN doc_id % 13 = 0 THEN text || ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@example.com or +4179' || "
    "CAST(doc_id + 1000000 AS VARCHAR) || ' from 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE text END"
)


# --- web-curation fragments (pipeline/web.py twins) -------------------------
# the same three anchored regexes the Spark columns evaluate
_WEB_HOST = "regexp_extract(url, '^https?://([^/?#:]+)', 1)"
_WEB_DOMAIN = f"regexp_extract({_WEB_HOST}, '([^.]+\\.[^.]+)$', 1)"
_WEB_CANON = """CASE WHEN len(list_filter(
         string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
         p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0
    THEN regexp_extract(url, '^([^?#]*)', 1) || '?' ||
         array_to_string(list_filter(
           string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
           p -> p <> '' AND NOT starts_with(p, 'utm_')), '&')
    ELSE regexp_extract(url, '^([^?#]*)', 1) END"""


# separator for the BPE-trainer oracle's string-encoded symbol arrays:
# a control char the BPE pre-tokenizer can only emit if it appears in the
# raw text (the synthetic corpus is printable ASCII; see _learn_merges_sql)
_BPE_SEP = chr(31)


def _learn_merges_sql(n_merges: int) -> str:
    """Generated per-round unroll of pipeline/bpe.py learn_merges — the
    stop_pagerank oracle technique applied to the BPE trainer, closing
    the driver's last rows-only gap.

    The trick that makes the symbol-array rewrite SQL-expressible: each
    piece's symbols are kept as ONE string with every token wrapped in a
    separator (``<sep>t1<sep><sep>t2<sep>...``), so applying merge
    (a, b) is a plain ``replace(s, <sep>a<sep><sep>b<sep>,
    <sep>ab<sep>)`` — SQL replace scans left-to-right and never rematches
    inside a replacement, which is EXACTLY the one-greedy-pass fold
    `_apply_merges` implements (the per-token wrapping keeps boundary
    tokens from sharing a separator, so back-to-back occurrences all
    merge, and a pattern can never match a token's substring).  Every
    round is: split the strings back to arrays, count adjacent pairs
    weighted by piece frequency, take the (cnt DESC, a, b) argmax, and
    replace.  CTEs are MATERIALIZED — p{{i}} is referenced twice per
    round, and DuckDB's default inlining re-expands the whole chain
    exponentially (measured: 16 inlined rounds never finished; 16
    materialized rounds run in under a second).

    Caveat (documented contract, asserted by the pytest differential):
    the separator is U+001F, which the ``[^a-z0-9\\s]`` pre-token class
    would match if present in the raw text — the synthetic corpus is
    printable ASCII, so it cannot appear.  The unroll also assumes every
    round finds at least one pair (true for any non-trivial corpus);
    the Spark trainer's early-exit only fires when NO pair exists.
    """
    sep = _BPE_SEP
    ctes = [f"""p0 AS MATERIALIZED (
  SELECT '{sep}' || array_to_string(regexp_extract_all(piece, '.'),
                                    '{sep}{sep}') || '{sep}' AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{BPE_REGEX}'))
          AS piece FROM docs_aug)
  GROUP BY 1
)"""]
    sels = []
    for i in range(1, n_merges + 1):
        ctes.append(f"""pairs{i} AS MATERIALIZED (
  SELECT u.p['a'] AS a, u.p['b'] AS b, CAST(sum(n) AS BIGINT) AS cnt
  FROM (SELECT string_split(trim(s, '{sep}'), '{sep}{sep}') AS y, n
        FROM p{i - 1}) sy,
       UNNEST(list_transform(range(1, len(y)),
                             j -> struct_pack(a := y[j], b := y[j + 1])))
         AS u(p)
  GROUP BY 1, 2
),
best{i} AS MATERIALIZED (
  SELECT a, b, cnt FROM pairs{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
p{i} AS MATERIALIZED (
  SELECT replace(p.s, '{sep}' || b.a || '{sep}{sep}' || b.b || '{sep}',
                      '{sep}' || b.a || b.b || '{sep}') AS s, p.n
  FROM p{i - 1} p CROSS JOIN best{i} b
)""")
        sels.append(
            f'SELECT CAST({i - 1} AS BIGINT) AS rank, a AS "left", '
            f'b AS "right", a || b AS merged, cnt AS pair_count '
            f'FROM best{i}')
    return (f"WITH {DOCS},\n" + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(sels))


# --- per-operator oracles -------------------------------------------------

def pipeline_oracles() -> dict[str, str]:
    lang_arms = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id, lang AS labeled_lang, '{lang}' AS cand,
         CAST(len(list_filter({TOKS}, t -> t IN
         ({", ".join(f"'{w}'" for w in marks)}))) AS BIGINT) AS score
  FROM docs_aug"""
        for lang, marks in LANG_MARKERS.items()
    )

    return {
        # mirrors pipeline/profile.py kmv_distinct over docs_aug: the
        # same md5-hash k-minimum-values arithmetic per column
        "profile_distinct_kmv": f"WITH {DOCS}\n" + "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_sketch,
       CAST(max(h) AS BIGINT) AS kth_hash,
       CAST(CASE WHEN count(*) < {KMV_K} THEN count(*)
            ELSE {(KMV_K - 1) * KMV_SPACE} // greatest(max(h), 1)
            END AS BIGINT) AS est_distinct
FROM (SELECT h FROM (
        SELECT DISTINCT {md5h(f"CAST({c} AS VARCHAR)")} AS h
        FROM docs_aug WHERE {c} IS NOT NULL)
      ORDER BY h LIMIT {KMV_K})"""
            for c in ("doc_id", "text", "lang", "source", "n_chars")),
        # mirrors pipeline/profile.py kmv_overlap on the planted split
        # (a = doc_id % 3 != 0, b = doc_id % 2 = 0 — overlapping by
        # construction): exact KMV set algebra, every output an integer
        "profile_overlap_kmv": f"""
WITH {DOCS},
sa AS (SELECT h FROM (
         SELECT DISTINCT {md5h("CAST(text AS VARCHAR)")} AS h
         FROM docs_aug WHERE doc_id % 3 != 0 AND text IS NOT NULL)
       ORDER BY h LIMIT {KMV_K}),
sb AS (SELECT h FROM (
         SELECT DISTINCT {md5h("CAST(text AS VARCHAR)")} AS h
         FROM docs_aug WHERE doc_id % 2 = 0 AND text IS NOT NULL)
       ORDER BY h LIMIT {KMV_K}),
ea AS (SELECT CAST(CASE WHEN count(*) < {KMV_K} THEN count(*)
            ELSE {(KMV_K - 1) * KMV_SPACE} // greatest(max(h), 1)
            END AS BIGINT) AS est_distinct_a FROM sa),
eb AS (SELECT CAST(CASE WHEN count(*) < {KMV_K} THEN count(*)
            ELSE {(KMV_K - 1) * KMV_SPACE} // greatest(max(h), 1)
            END AS BIGINT) AS est_distinct_b FROM sb),
m AS (SELECT h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT h, 1 AS in_a, 0 AS in_b FROM sa
        UNION ALL SELECT h, 0, 1 FROM sb)
      GROUP BY h ORDER BY h LIMIT {KMV_K}),
base AS (SELECT CAST(count(*) AS BIGINT) AS n_union_sketch,
                CAST(max(h) AS BIGINT) AS kth_hash,
                CAST(sum(in_a * in_b) AS BIGINT) AS match_k
         FROM m),
u AS (SELECT *, CAST(CASE WHEN n_union_sketch < {KMV_K}
            THEN n_union_sketch
            ELSE {(KMV_K - 1) * KMV_SPACE} // greatest(kth_hash, 1)
            END AS BIGINT) AS est_union
      FROM base, ea, eb)
SELECT 'text' AS "column", n_union_sketch, kth_hash, match_k,
       est_distinct_a, est_distinct_b, est_union,
       CAST(CASE WHEN n_union_sketch > 0
            THEN match_k * 1000 // n_union_sketch ELSE 0 END AS BIGINT)
         AS est_jaccard_permille,
       CAST(CASE WHEN n_union_sketch > 0
            THEN match_k * est_union // n_union_sketch ELSE 0 END
            AS BIGINT) AS est_intersection
FROM u
""",
        # mirrors pipeline/web.py url_dedup: keep-one per canonical URL
        # (tracking params stripped, identifying params kept)
        "web_url_dedup": f"""
WITH {DOCS},
{DOCS_WEB_CTE},
c AS (SELECT doc_id, {_WEB_CANON} AS canonical_url FROM docs_web)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, canonical_url,
       CAST(count(*) AS BIGINT) AS n_copies
FROM c GROUP BY canonical_url
""",
        # mirrors pipeline/web.py domain_stats: per-registrable-domain
        # doc/host/url counts + integer-permille corpus share
        "web_domain_stats": f"""
WITH {DOCS},
{DOCS_WEB_CTE},
t AS (
  SELECT {_WEB_DOMAIN} AS domain, {_WEB_HOST} AS host,
         {_WEB_CANON} AS canon
  FROM docs_web
),
d AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         CAST(count(DISTINCT canon) AS BIGINT) AS n_urls
  FROM t GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
SELECT domain, n_docs, n_hosts, n_urls,
       CAST(n_docs * 1000 // n_total AS BIGINT) AS share_pm
FROM d CROSS JOIN tot
""",
        # mirrors pipeline/web.py domain_cap (= curation.stratified_cap
        # with the registrable domain as the stratum, cap WEB_CAP)
        "web_domain_cap": f"""
WITH {DOCS},
{DOCS_WEB_CTE},
t AS (
  SELECT doc_id, {_WEB_DOMAIN} AS grp,
         {md5h("CAST(doc_id AS VARCHAR)")} % {CAP_POSITIONS} AS pos
  FROM docs_web
),
c AS (SELECT grp, count(*) AS cnt FROM t GROUP BY 1),
th AS (
  SELECT grp,
         CASE WHEN cnt <= {WEB_CAP} THEN {CAP_POSITIONS}
              ELSE least({CAP_POSITIONS},
                   {CAP_POSITIONS
                    * (WEB_CAP * CAP_MARGIN_PCT + CAP_MARGIN_ABS * 100)}
                     // (cnt * 100))
         END AS thresh
  FROM c
),
s AS (SELECT t.* FROM t JOIN th USING (grp) WHERE pos < thresh),
r AS (
  SELECT doc_id, grp AS domain, pos,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY pos, doc_id)
              AS BIGINT) AS sample_rank
  FROM s
)
SELECT doc_id, domain, pos, sample_rank
FROM r WHERE sample_rank <= {WEB_CAP}
""",
        # mirrors pipeline/web.py blocklist_filter: dot-suffix blocking
        # via per-host suffix explosion (host labels sliced i..n) joined
        # against the blocked set; anti-join survivors
        "web_blocklist": f"""
WITH {DOCS},
{DOCS_WEB_CTE},
t AS (SELECT doc_id, url, {_WEB_HOST} AS host FROM docs_web),
m AS (
  SELECT DISTINCT doc_id
  FROM t, UNNEST(list_transform(
         range(1, len(string_split(host, '.')) + 1),
         i -> array_to_string(
                list_slice(string_split(host, '.'), i,
                           len(string_split(host, '.'))), '.')))
         AS u(sfx)
  WHERE sfx IN ({", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)})
)
SELECT doc_id, url, host FROM t
WHERE doc_id NOT IN (SELECT doc_id FROM m)
""",
        # mirrors pipeline/bpe.py learn_merges (n_merges=16, batch=1):
        # the generated per-round argmax-and-rewrite unroll — see
        # _learn_merges_sql for the string-encoded greedy-pass trick
        "text_learn_merges": _learn_merges_sql(16),
        # ONE oracle for the whole text family (token counts, quality,
        # language ID, fingerprints) — the Spark side computes them in a
        # single narrow pass (pipeline/text.py text_profile), the oracle
        # as CTEs joined on doc_id (DuckDB dedups the shared scans).
        # mirrors pipeline/text.py vocabulary (top_k=100): total
        # (count DESC, token ASC) order makes the limit boundary stable
        "text_vocabulary": f"""
WITH {DOCS},
t AS (SELECT unnest({TOKS}) AS token FROM docs_aug)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM t GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 100
""",
        # mirrors pipeline/profile.py table_profile (exact variant; the
        # HLL approx_profile twin is pytest error-bounded instead)
        "table_profile": f"""
WITH {DOCS}
{profile_union_sql()}
""",
        # mirrors pipeline/cleaning.py collapse_token_runs (1-based list
        # indexing twin of the Spark sequence/transform/filter chain)
        "text_collapse_runs": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
k AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
         list_filter(list_transform(range(1, len(toks) + 1),
           i -> CASE WHEN i = 1 OR toks[i - 1] <> toks[i]
                THEN toks[i] END), x -> x IS NOT NULL) AS kept
  FROM t
)
SELECT doc_id, n_before, CAST(len(kept) AS BIGINT) AS n_after,
       array_to_string(kept, ' ') AS clean_text
FROM k
""",
        # mirrors pipeline/cleaning.py scrub_pii over the shared
        # injection expression; STAGED counts — each pattern counted on
        # the text as the email -> IP -> phone chain sees it (a phone-
        # shaped digit run inside an email must not count: the chain
        # never redacts it)
        "text_scrub_pii": f"""
WITH {DOCS},
p AS (SELECT doc_id, {_PII_TEXT} AS text FROM docs_aug),
st AS (
  SELECT doc_id, text,
         regexp_replace(text, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g')
           AS after_email
  FROM p
),
st2 AS (
  SELECT *, regexp_replace(after_email, '{IPV4_RE}', '{IPV4_TOKEN}', 'g')
              AS after_ip
  FROM st
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(after_email, '{IPV4_RE}')) AS BIGINT)
         AS n_ips,
       CAST(len(regexp_extract_all(after_ip, '{PHONE_RE}')) AS BIGINT)
         AS n_phones,
       regexp_replace(after_ip, '{PHONE_RE}', '{PHONE_TOKEN}', 'g')
         AS clean_text
FROM st2
""",
        "text_profile": f"""
WITH {DOCS},
{QUALITY_CTES},
scores AS (
{lang_arms}
),
best AS (
  SELECT doc_id, labeled_lang, cand, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand DESC) AS rn
  FROM scores
),
tc AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '{BPE_REGEX}')) AS BIGINT)
           AS n_bpe_pieces,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM docs_aug
),
fp AS (
  SELECT doc_id, text, {TOKS} AS toks FROM docs_aug
)
SELECT q.doc_id, q.n_tok AS n_tokens, tc.n_bpe_pieces, tc.n_chars,
       round(q.stop_ratio, 6) AS stopword_ratio,
       round(q.punct_ratio, 6) AS punct_ratio,
       round(q.mean_word_len, 6) AS mean_word_len,
       q.quality_score,
       b.labeled_lang,
       CASE WHEN b.score > 0 THEN b.cand ELSE 'und' END AS predicted_lang,
       b.score AS marker_hits,
       {char_hash('fp.text')} AS fingerprint,
       list_min(list_transform(fp.toks, tk -> {char_hash('tk')}))
         AS min_token_hash
FROM qscore q
JOIN best b ON b.doc_id = q.doc_id AND b.rn = 1
JOIN tc ON tc.doc_id = q.doc_id
JOIN fp ON fp.doc_id = q.doc_id
""",
        "dedup_exact": f"""
WITH {DOCS},
h AS (SELECT doc_id, md5(text) AS text_md5 FROM docs_aug),
g AS (SELECT text_md5, min(doc_id) AS canonical_doc_id,
             count(*) AS dup_group_size
      FROM h GROUP BY 1)
SELECT h.doc_id, h.text_md5, g.canonical_doc_id, g.dup_group_size,
       h.doc_id <> g.canonical_doc_id AS is_duplicate
FROM h JOIN g USING (text_md5)
""",
        # mirrors pipeline/profile.py column_quantiles over lineitem:
        # quantile_cont's (n-1)*p interpolation is bit-identical to
        # Spark's exact percentile (measured; both the standard rule)
        "profile_quantiles": "\nUNION ALL\n".join(
            f'SELECT \'{c}\' AS "column", CAST({p} AS DOUBLE) AS p, '
            f"CAST(quantile_cont({c}, {p}) AS DOUBLE) AS value "
            f"FROM lineitem"
            for c in ("l_quantity", "l_extendedprice",
                      "l_discount", "l_tax")
            for p in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99)
        ),
        # mirrors pipeline/profile.py numeric_correlations over the
        # lineitem numerics (exact HUGEINT integer moments; generated)
        "profile_correlations": correlations_sql(
            "lineitem",
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
        # mirrors pipeline/profile.py corpus_report: per-(source, lang)
        # curation dashboard — integer micro quality quantized BEFORE the
        # group sum, so means are order-independent DIV arithmetic
        "pipeline_corpus_report": f"""
WITH {DOCS},
cq AS (
  SELECT source, lang,
         CAST(len({TOKS}) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter({TOKS}, t -> t IN {_IN_STOP})) AS BIGINT)
           AS n_stop,
         CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
              AS BIGINT) AS n_punct,
         CASE WHEN trim(text) = '' THEN 1 ELSE 0 END AS is_empty,
         md5(text) AS text_md5
  FROM docs_aug
),
cr AS (
  SELECT source, lang, n_tok, n_chars, is_empty, text_md5,
         n_stop / CAST(greatest(n_tok, 1) AS DOUBLE) AS stop_ratio,
         n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio,
         n_chars / CAST(greatest(n_tok, 1) AS DOUBLE) AS mean_word_len
  FROM cq
),
cs AS (
  SELECT source, lang, n_tok, n_chars, is_empty, text_md5,
         CAST(round(round(
           least(n_tok / 100.0, 1.0) * 0.3
           + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
           + (CASE WHEN stop_ratio >= 0.03 AND stop_ratio <= 0.6
                   THEN 1.0 ELSE 0.5 END) * 0.2
           + least(mean_word_len / 8.0, 1.0) * 0.2, 6)
           * 1000000.0, 0) AS BIGINT) AS q_micro
  FROM cr
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_empty) AS BIGINT) AS n_empty,
       CAST(count(*) - count(DISTINCT text_md5) AS BIGINT) AS n_dup_texts,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(sum(n_tok) // count(*) AS BIGINT) AS mean_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(q_micro) // count(*) AS BIGINT) AS mean_quality_micro
FROM cs GROUP BY source, lang
""",
        # mirrors pipeline/text.py lm_transition_scores: self-supervised
        # bigram LM fluency — integer micro transition mass, add-V
        # smoothing, per-doc integer mean; under-2-token docs keep a
        # NULL score (0 transitions)
        # mirrors pipeline/mixing.py epoch_balance (cap 4000 pm): uniform
        # source balancing by repetition — count/max rate table, stable
        # md5 fractional-copy test, range() fan-out (empty when 0)
        "pipeline_epoch_balance": f"""
WITH {DOCS},
c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src
  FROM docs_aug GROUP BY source
),
m AS (SELECT CAST(max(n_src) AS BIGINT) AS n_max FROM c),
e AS (
  SELECT source,
         least(n_max * 1000 // n_src, 4000) AS epochs_pm
  FROM c CROSS JOIN m
),
d AS (
  SELECT doc_id, docs_aug.source, epochs_pm,
         epochs_pm // 1000
         + CASE WHEN {md5h("'epoch-v1' || CAST(doc_id AS VARCHAR)")}
                     % 1000 < epochs_pm % 1000
                THEN 1 ELSE 0 END AS n_copies
  FROM docs_aug JOIN e USING (source)
)
SELECT doc_id, source, CAST(epochs_pm AS BIGINT) AS epochs_pm,
       CAST(u.i AS BIGINT) AS copy_idx
FROM d, unnest(range(0, n_copies)) AS u(i)
""",
        # mirrors pipeline/classifier.py classifier_scores trained on the
        # hash-split train docs labeled lang='en': add-one NB likelihoods
        # quantized to integer micros before subtraction/summation (the
        # log-free discipline), integer-mean doc score, NULL for empty
        # docs; // and DIV agree (both truncate toward zero)
        "pipeline_quality_classifier": f"""
WITH {DOCS},
lab AS (
  SELECT doc_id, text, lang,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         CASE WHEN {md5h(f"'{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")}
                   % {SPLIT_BUCKETS} < {VAL_PERMILLE}
              THEN 'val' ELSE 'train' END AS split
  FROM docs_aug
),
ttok AS (
  SELECT label, unnest({TOKS}) AS token FROM lab WHERE split = 'train'
),
counts AS (
  SELECT token,
         CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c_pos,
         CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS c_neg
  FROM ttok GROUP BY token
),
tot AS (
  SELECT CAST(sum(c_pos) AS BIGINT) AS t_pos,
         CAST(sum(c_neg) AS BIGINT) AS t_neg,
         CAST(count(*) AS BIGINT) AS v
  FROM counts
),
w AS (
  SELECT token,
         CAST((c_pos + 1) * 1000000 // (t_pos + v)
              - (c_neg + 1) * 1000000 // (t_neg + v) AS BIGINT)
           AS weight_micro
  FROM counts CROSS JOIN tot
),
dtok AS (SELECT doc_id, unnest({TOKS}) AS token FROM docs_aug),
agg AS (
  SELECT d.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(w.weight_micro) AS BIGINT) AS n_vocab_hits,
         CAST(CAST(sum(coalesce(w.weight_micro, 0)) AS BIGINT)
              // count(*) AS BIGINT) AS clf_score_micro
  FROM dtok d LEFT JOIN w USING (token)
  GROUP BY d.doc_id
)
SELECT lab.doc_id, lab.lang, lab.split,
       CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(agg.n_vocab_hits, 0) AS BIGINT) AS n_vocab_hits,
       agg.clf_score_micro,
       CASE WHEN agg.clf_score_micro > 0 THEN CAST(1 AS BIGINT)
            WHEN agg.clf_score_micro IS NOT NULL THEN CAST(0 AS BIGINT)
            END AS predicted
FROM lab LEFT JOIN agg USING (doc_id)
""",
        "text_lm_score": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
tr AS (
  SELECT doc_id, toks[u.i] AS w1, toks[u.i + 1] AS w2
  FROM t, unnest(CASE WHEN len(toks) >= 2
                      THEN range(1, len(toks))
                      ELSE CAST([] AS BIGINT[]) END) AS u(i)
),
uni AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1
),
big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbig
  FROM tr GROUP BY w1, w2
),
v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
sc AS (
  SELECT tr.doc_id,
         CAST((big.cbig * 1000000) // (uni.c1 + v.v) AS BIGINT) AS micro
  FROM tr
  JOIN big USING (w1, w2)
  JOIN uni USING (w1)
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         CAST(sum(micro) // count(*) AS BIGINT) AS lm_score_micro
  FROM sc GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(agg.n_transitions, 0) AS BIGINT) AS n_transitions,
       agg.lm_score_micro
FROM t LEFT JOIN agg USING (doc_id)
""",
        # mirrors pipeline/dedup.py repeated_spans (k=8): positional
        # 8-gram occurrence marking + consecutive-run merge via windows
        # (lag/sum over doc_id partitions — the same two-window shape)
        "dedup_repeated_spans": f"""
WITH {DOCS},
{_REPEAT_RUNS_CTE}
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_len
FROM g GROUP BY doc_id, run_id
""",
        # mirrors pipeline/dedup.py drop_repeated_spans: cut every span,
        # re-join survivors with single spaces (1-based list_filter index
        # twin of the Spark transform/filter chain)
        "dedup_drop_repeated_spans": f"""
WITH {DOCS},
{_REPEAT_RUNS_CTE},
spans AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
         CAST(max(pos) + 7 AS BIGINT) AS e
  FROM g GROUP BY doc_id, run_id
),
per_doc AS (
  SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
  FROM spans GROUP BY doc_id
),
joined AS (
  SELECT t.doc_id, t.toks,
         coalesce(p.sp, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS sp
  FROM t LEFT JOIN per_doc p USING (doc_id)
),
kf AS (
  SELECT doc_id, toks,
         list_filter(toks, (tok, i) ->
           len(list_filter(sp, q -> i >= q.s AND i <= q.e)) = 0) AS kept
  FROM joined
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens_before,
       CAST(len(kept) AS BIGINT) AS n_tokens_after,
       coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM kf
""",
        # mirrors pipeline/dedup.py decontaminate_report: train docs
        # sharing >= 3 distinct shingles with the eval corpus' shingle set
        "pipeline_decontaminate": f"""
WITH {DOCS},
tr AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug WHERE doc_id % 11 <> 0),
ev AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug WHERE doc_id % 11 = 0),
sh_t AS (SELECT DISTINCT doc_id, unnest({SHINGLE_HASHES}) AS shingle_hash
         FROM tr),
sh_e AS (SELECT DISTINCT unnest({SHINGLE_HASHES}) AS shingle_hash FROM ev),
totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_doc
           FROM sh_t GROUP BY doc_id),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_common
  FROM sh_t JOIN sh_e USING (shingle_hash)
  GROUP BY doc_id HAVING count(*) >= 3
)
SELECT doc_id, n_common, n_doc,
       round(n_common / n_doc, 6) AS overlap_ratio
FROM hits JOIN totals USING (doc_id)
""",
        # mirrors BOTH scale guards in pipeline/dedup.py ngram_jaccard_pairs:
        # candidates only from shingles with df <= NGRAM_MAX_DF, scoring on
        # per-doc sets capped to the NGRAM_MAX_SET smallest hashes — so the
        # two shapes agree at any corpus scale, not just where the caps
        # never fire.
        "dedup_ngram_jaccard": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
sh AS (SELECT doc_id, unnest({SHINGLE_HASHES}) AS shingle_hash FROM t),
rare AS (
  SELECT shingle_hash FROM sh
  GROUP BY 1 HAVING count(*) <= {NGRAM_MAX_DF}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT sh.* FROM sh JOIN rare USING (shingle_hash)) a
  JOIN (SELECT sh.* FROM sh JOIN rare USING (shingle_hash)) b
    ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
),
hs AS (
  SELECT doc_id,
         (list_sort(list(DISTINCT shingle_hash)))[1:{NGRAM_MAX_SET}] AS hs
  FROM sh GROUP BY 1
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS n_common,
       round(len(list_intersect(ha.hs, hb.hs))
             / CAST(len(ha.hs) + len(hb.hs)
                    - len(list_intersect(ha.hs, hb.hs)) AS DOUBLE), 6)
         AS jaccard
FROM cand
JOIN hs ha ON doc_a = ha.doc_id
JOIN hs hb ON doc_b = hb.doc_id
WHERE round(len(list_intersect(ha.hs, hb.hs))
            / CAST(len(ha.hs) + len(hb.hs)
                   - len(list_intersect(ha.hs, hb.hs)) AS DOUBLE), 6) >= 0.5
""",
        "dedup_minhash_lsh": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
sig AS (
  SELECT doc_id, hs, {MINHASHES} AS mh
  FROM (SELECT doc_id, {SHINGLE_HASHES} AS hs FROM t)
),
banded AS (
  SELECT doc_id, bs.band AS band, bs.sig AS sig
  FROM (SELECT doc_id, unnest({BAND_SIGS}) AS bs FROM sig)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(len(list_filter(range(1, 17),
                 i -> sa.mh[i] = sb.mh[i])) / 16.0, 6) AS est_jaccard,
       round(len(list_intersect(sa.hs, sb.hs))
             / CAST(len(sa.hs) + len(sb.hs)
                    - len(list_intersect(sa.hs, sb.hs)) AS DOUBLE), 6)
         AS jaccard
FROM cand
JOIN sig sa ON doc_a = sa.doc_id
JOIN sig sb ON doc_b = sb.doc_id
WHERE round(len(list_intersect(sa.hs, sb.hs))
            / CAST(len(sa.hs) + len(sb.hs)
                   - len(list_intersect(sa.hs, sb.hs)) AS DOUBLE), 6) >= 0.5
""",
        # connected components over the minhash-LSH pairs: the Spark side is
        # an iterative min-label fixpoint (pipeline/dedup.py dedup_clusters);
        # DuckDB can express the same answer as a recursive transitive
        # closure — canonical = min member reachable from each doc.
        "dedup_clusters": f"""
WITH RECURSIVE {CLUSTER_CTES}
SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
FROM reach GROUP BY src
""",
        # end-to-end curation composition: quality gate AND dedup
        # keep-one AND train-split membership (pipeline/curation.py
        # curated_corpus) — the cluster, quality, and split fragments are
        # the same ones the individual oracles use
        "pipeline_curated_corpus": f"""
WITH RECURSIVE {CLUSTER_CTES},
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
  FROM reach GROUP BY src
),
{QUALITY_CTES}
SELECT d.doc_id, d.lang
FROM docs_aug d
LEFT JOIN clusters c ON d.doc_id = c.doc_id
JOIN qscore q ON d.doc_id = q.doc_id
WHERE (c.canonical_id IS NULL OR c.canonical_id = d.doc_id)
  AND q.quality_score >= {MIN_QUALITY}
  AND {md5h(f"'{SPLIT_SALT}' || CAST(d.doc_id AS VARCHAR)")}
        % {SPLIT_BUCKETS} >= {VAL_PERMILLE}
""",
        # keep-one: corpus minus every non-canonical cluster member
        "dedup_keep_one": f"""
WITH RECURSIVE {CLUSTER_CTES},
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS canonical_id
  FROM reach GROUP BY src
)
SELECT d.doc_id
FROM docs_aug d LEFT JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.canonical_id IS NULL OR c.canonical_id = d.doc_id
""",
        "dedup_simhash": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
sh AS (SELECT doc_id, unnest({SHINGLE_HASHES}) AS shingle_hash FROM t),
votes AS (
  SELECT doc_id, bits.range AS bit,
         sum(((shingle_hash >> bits.range) & 1) * 2 - 1) AS vote
  FROM sh, range(0, 32) bits
  GROUP BY 1, 2
),
sims AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote >= 0
                       THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY 1
),
chunked AS (
  SELECT doc_id, simhash, c.range AS chunk,
         (simhash >> (c.range * 8)) & 255 AS val
  FROM sims, range(0, 4) c
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                  b.doc_id AS doc_b, b.simhash AS sim_b
  FROM chunked a JOIN chunked b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
        "dedup_embedding_cosine": f"""
WITH {EMB_AUG_DUCK_CTE},
tagged AS (
{_emb_band_union_sql()}
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(a.label AS BIGINT) AS label,
         round({cos_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
  FROM tagged a JOIN tagged b
    ON a.label = b.label AND a.band = b.band AND a.bval = b.bval
   AND a.vec_id < b.vec_id
  WHERE round({cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.98
)
SELECT vec_a, vec_b, label, cos_sim FROM pairs
""",
        # mirrors pipeline/similarity.py sq8_topk: corpus-trained scalar
        # quantization (per-dim min/max), reconstruction-scored
        # shortlist of k*rerank_mult, exact cosine re-rank — every
        # stage the same double op sequence as the Spark columns
        "ann_sq8_topk": f"""
WITH s AS (
  SELECT u.d AS d, min(CAST(embedding[u.d] AS DOUBLE)) AS mn,
         max(CAST(embedding[u.d] AS DOUBLE)) AS mx
  FROM embeddings, UNNEST(range(1, 65)) AS u(d)
  GROUP BY 1
),
e AS (
  SELECT vec_id, u.d AS d, CAST(embedding[u.d] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, 65)) AS u(d)
),
hat AS (
  SELECT vec_id,
         list(mn + (coalesce(least(255, greatest(0,
                floor((x - mn) * 255.0 / nullif(mx - mn, 0.0)))), 0)
              + 0.5) * (mx - mn) / 256.0 ORDER BY d) AS hat
  FROM e JOIN s USING (d) GROUP BY vec_id
),
ap AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos_sql("q.hat", "c.hat")} AS approx_sim
  FROM hat q JOIN hat c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 8
),
sl AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY approx_sim DESC, neighbor_id) AS rn
    FROM ap)
  WHERE rn <= 40
),
px AS (
  SELECT sl.query_id, sl.neighbor_id,
         round({cos_sql("q.embedding", "c.embedding")}, 6) AS cos_sim
  FROM sl JOIN embeddings q ON q.vec_id = sl.query_id
          JOIN embeddings c ON c.vec_id = sl.neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM px
)
SELECT query_id, rank, neighbor_id, cos_sim FROM r WHERE rank <= 10
""",
        # m unrolled per-slice kmeans chains + normalized codeword
        # reconstruction + asymmetric shortlist + exact rerank
        # (pipeline/similarity.pq_topk; generated by pq_topk_sql)
        "ann_pq_topk": pq_topk_sql(),
        # coarse kmeans chain (+ fresher g_c2 probing centroids) x the
        # shared PQ hat chain (pipeline/similarity.ivf_pq_topk;
        # generated by ivf_pq_topk_sql)
        "ann_ivf_pq_topk": ivf_pq_topk_sql(),
        # sign-bit halves + integer Hamming ranking + exact rerank
        # (pipeline/similarity.bq_topk; generated by bq_topk_sql)
        "ann_bq_topk": bq_topk_sql(),
        "ann_bruteforce_topk": f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 8
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= 10
""",
        "ann_lsh_topk": f"""
WITH tagged AS (
  SELECT vec_id, embedding,
         {" + ".join(
             f"(CASE WHEN {dot_sql('embedding', hyperplane_sql(j))} >= 0 "
             f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
             for j in range(NUM_HYPERPLANES)
         )} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos_sql('q.embedding', 'c.embedding')}, 6) AS cos_sim
  FROM tagged q JOIN tagged c
    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 8
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= 10
""",
        # mirrors pipeline/similarity.py embedding_kmeans (k=8, n_iter=2,
        # loop unrolled): hash-seeded init, round-6-cosine argmax with
        # (cos DESC, cid ASC) tie-break, integer milli-quantized centroid
        # sums — every step exact across engines
        "embedding_kmeans": f"""
WITH {kmeans_ctes('embeddings')}
SELECT vec_id, cid AS cluster_id, cos_sim FROM a2
""",
        # mirrors pipeline/similarity.py semantic_dedup: k-means blocking
        # (over the augmented corpus, whose planted near-dups give real
        # positives) + within-cluster keep-first
        "semantic_dedup": f"""
WITH {EMB_AUG_DUCK_CTE},
{kmeans_ctes('emb_aug')},
t AS (
  SELECT e.vec_id, e.embedding, a2.cid
  FROM emb_aug e JOIN a2 USING (vec_id)
),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM t a JOIN t b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round({cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.98
)
SELECT t.vec_id, t.cid AS cluster_id,
       (d.vec_id IS NULL) AS kept
FROM t LEFT JOIN drops d ON t.vec_id = d.vec_id
""",
        "ann_ivf_topk": f"""
WITH comp AS (
  SELECT label, u.pos AS pos, CAST(SUM(u.q) AS BIGINT) AS s
  FROM (
    SELECT label, UNNEST(list_transform(range(1, 65),
         i -> struct_pack(pos := i,
              q := CAST(round(embedding[i] * 1000) AS BIGINT)))) AS u
    FROM embeddings
  )
  GROUP BY 1, 2
),
cents AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS centroid
  FROM comp GROUP BY label
),
probe AS (
  SELECT query_id, label, qe FROM (
    SELECT q.vec_id AS query_id, c.label, q.embedding AS qe,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cos_sql('q.embedding', 'c.centroid')}, 6)
               DESC, c.label) AS rn
    FROM embeddings q, cents c
    WHERE q.vec_id < 8
  ) WHERE rn <= 2
),
pairs AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         round({cos_sql('p.qe', 'e.embedding')}, 6) AS cos_sim
  FROM probe p JOIN embeddings e
    ON e.label = p.label AND e.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= 10
""",
        # mirrors pipeline/multimodal.py _feature_batches: per-bucket byte
        # mass accumulates as EXACT integers, so the only float ops are
        # the final /255.0/n chain, bit-identical across engines; both
        # sides then quantize through DECIMAL round-6 (__spark_entry__._r2).
        # ``source`` is the metadata-passthrough column (the old
        # multimodal_ingest oracle's meta check folded in), and
        # ingest_byte_len / ingest_head_hex pin media_table's meta struct
        # and raw payload bytes at ingest time (VERDICT r4 item 3).
        "multimodal_features": f"""
WITH {DOCS},
{MM_BYTES}
SELECT media_id, kind, source, n AS byte_len,
       list_reduce(list_prepend(CAST(0 AS BIGINT), bs),
                   (a, x) -> a + x) % 1000000007 AS checksum,
       n AS ingest_byte_len,
       head16 AS ingest_head_hex,
       {", ".join(
           f"CAST(ROUND(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
           f"list_filter(bs, x -> x % 8 = {k})), (a, x) -> a + x) "
           f"/ 255.0 / greatest(n, 1) AS DECIMAL(28,12)), 6) AS DOUBLE) "
           f"AS f{k}"
           for k in range(8)
       )}
FROM mm_bytes
""",
        # mirrors pipeline/multimodal.py resize_payloads: nearest-neighbor
        # resample resized[i] = bs[(i*n)//out_len] — pure integer index
        # arithmetic, so both engines pick identical bytes
        "multimodal_resize": f"""
WITH {DOCS},
{MM_BYTES},
rz AS (
  SELECT media_id, kind, n,
         CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
              ELSE list_transform(range(0, {RESIZE_OUT_LEN}),
                     i -> bs[CAST((i * n) // {RESIZE_OUT_LEN} AS INT) + 1])
         END AS rs
  FROM mm_bytes
)
SELECT media_id, kind,
       CAST(len(rs) AS BIGINT) AS out_len,
       list_reduce(list_prepend(CAST(0 AS BIGINT), rs),
                   (a, x) -> a + x) % 1000000007 AS checksum,
       list_reduce(list_prepend('',
           list_transform(rs[1:8], x -> printf('%02x', x))),
           (a, b) -> a || b) AS head_hex
FROM rz
""",
        # mirrors pipeline/curation.py pack_sequences: exclusive
        # prefix-sum of chunk tokens per doc, integer-DIV'd by the
        # budget — window SQL twin of the Spark window
        "pipeline_pack_sequences": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
f AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(0, (len(toks) + {CHUNK_SIZE - CHUNK_OVERLAP - 1})
           // {CHUNK_SIZE - CHUNK_OVERLAP})) AS k
  FROM t WHERE len(toks) > 0
),
ch AS (
  SELECT doc_id, k AS chunk_idx,
         CAST(least(k * {CHUNK_SIZE - CHUNK_OVERLAP} + {CHUNK_SIZE}, n)
              - k * {CHUNK_SIZE - CHUNK_OVERLAP} AS BIGINT)
           AS n_chunk_tokens
  FROM f
),
cum AS (
  SELECT doc_id, chunk_idx, n_chunk_tokens,
         COALESCE(SUM(n_chunk_tokens) OVER (PARTITION BY doc_id
             ORDER BY chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS c
  FROM ch
)
SELECT doc_id, CAST(c // 160 AS BIGINT) AS seq_idx,
       count(*) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS seq_tokens,
       min(chunk_idx) AS first_chunk_idx,
       max(chunk_idx) AS last_chunk_idx
FROM cum GROUP BY 1, 2
""",
        # resize summary LEFT JOIN sampled frames — the merged driver
        # row pinning both transforms (see __spark_entry__)
        "multimodal_transforms": f"""
WITH {DOCS},
{MM_BYTES},
rz AS (
  SELECT media_id, kind, n,
         CASE WHEN n = 0 THEN CAST([] AS BIGINT[])
              ELSE list_transform(range(0, {RESIZE_OUT_LEN}),
                     i -> bs[CAST((i * n) // {RESIZE_OUT_LEN} AS INT) + 1])
         END AS rs
  FROM mm_bytes
),
rzs AS (
  SELECT media_id, kind,
         CAST(len(rs) AS BIGINT) AS out_len,
         list_reduce(list_prepend(CAST(0 AS BIGINT), rs),
                     (a, x) -> a + x) % 1000000007 AS resize_checksum,
         list_reduce(list_prepend('',
             list_transform(rs[1:8], x -> printf('%02x', x))),
             (a, b) -> a || b) AS head_hex
  FROM rz
),
frall AS (
  SELECT media_id, n, bs,
         unnest(range(0, (n + {FRAME_LEN - 1}) // {FRAME_LEN}))
           AS frame_idx
  FROM mm_bytes
),
frs AS (
  SELECT media_id, frame_idx,
         least(n, (frame_idx + 1) * {FRAME_LEN})
           - frame_idx * {FRAME_LEN} AS frame_len,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             bs[CAST(frame_idx * {FRAME_LEN} + 1 AS INT)
                : CAST(least(n, (frame_idx + 1) * {FRAME_LEN}) AS INT)]),
             (a, x) -> a + x) % 1000000007 AS frame_checksum
  FROM frall
  WHERE frame_idx % {FRAME_STRIDE} = 0
)
SELECT r.media_id, r.kind, r.out_len, r.resize_checksum, r.head_hex,
       f.frame_idx, f.frame_len, f.frame_checksum
FROM rzs r LEFT JOIN frs f USING (media_id)
""",
        # mirrors pipeline/mixing.py curation_assignments — split
        # (curation.py split_assign), temperature source mixing
        # (integer acceptance test h^2*n_src < M^2*n_min) and shard
        # numbering in one statement, so the driver hash pins all
        # three memberships every round
        "curation_split": f"""
WITH {DOCS},
c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
  FROM docs_aug GROUP BY source
),
cm AS (SELECT source, n_src, MIN(n_src) OVER () AS n_min FROM c),
b AS (
  SELECT doc_id, source,
         {md5h(f"'{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)")}
           % {SPLIT_BUCKETS} AS bucket,
         {md5h(f"'{MIX_SALT}' || CAST(doc_id AS VARCHAR)")}
           % {MIX_RES} AS hmix,
         {md5h(f"'{SHARD_SALT}' || CAST(doc_id AS VARCHAR)")} AS hshard
  FROM docs_aug
)
SELECT b.doc_id, b.source, b.bucket,
       CASE WHEN b.bucket < {VAL_PERMILLE} THEN 'val' ELSE 'train' END
         AS split,
       cm.n_src,
       (b.hmix * b.hmix * cm.n_src
          < {MIX_RES * MIX_RES} * cm.n_min) AS mix_kept,
       b.hshard % {DEFAULT_N_SHARDS} AS shard_idx,
       CAST(ROW_NUMBER() OVER (PARTITION BY b.hshard % {DEFAULT_N_SHARDS}
                               ORDER BY b.hshard, b.doc_id) - 1
            AS BIGINT) AS shard_pos,
       CAST((ROW_NUMBER() OVER (PARTITION BY b.hshard % {DEFAULT_N_SHARDS}
                                ORDER BY b.hshard, b.doc_id) - 1)
            * {DEFAULT_N_SHARDS} + b.hshard % {DEFAULT_N_SHARDS}
            AS BIGINT) AS order_idx
FROM b JOIN cm USING (source)
""",
        # mirrors pipeline/curation.py stratified_cap: the SAME two
        # stages (count -> integer-division threshold -> hash-position
        # prefilter -> per-group row_number), so parity holds even where
        # the prefilter changes which rows the window sees
        "curation_stratified_cap": f"""
WITH {DOCS},
t AS (
  SELECT doc_id, lang AS grp,
         {md5h("CAST(doc_id AS VARCHAR)")} % {CAP_POSITIONS} AS pos
  FROM docs_aug
),
c AS (SELECT grp, count(*) AS cnt FROM t GROUP BY 1),
th AS (
  SELECT grp,
         CASE WHEN cnt <= {DEFAULT_CAP} THEN {CAP_POSITIONS}
              ELSE least({CAP_POSITIONS},
                   {CAP_POSITIONS
                    * (DEFAULT_CAP * CAP_MARGIN_PCT + CAP_MARGIN_ABS * 100)}
                     // (cnt * 100))
         END AS thresh
  FROM c
),
s AS (SELECT t.* FROM t JOIN th USING (grp) WHERE pos < thresh),
r AS (
  SELECT doc_id, grp AS lang, pos,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY pos, doc_id)
              AS BIGINT) AS sample_rank
  FROM s
)
SELECT doc_id, lang, pos, sample_rank
FROM r WHERE sample_rank <= {DEFAULT_CAP}
""",
        # mirrors pipeline/curation.py chunk_tokens: chunk k covers
        # tokens [k*step, k*step + size); hash over the space-joined
        # chunk text
        # chunk rows LEFT JOINed to the corpus-wide dup aggregate for
        # their hash — one driver row pins chunking AND chunk dedup
        "text_chunks": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
f AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(0, (len(toks) + {CHUNK_SIZE - CHUNK_OVERLAP - 1})
           // {CHUNK_SIZE - CHUNK_OVERLAP})) AS k
  FROM t WHERE len(toks) > 0
),
ch AS (
  SELECT doc_id, k AS chunk_idx,
       CAST(least(k * {CHUNK_SIZE - CHUNK_OVERLAP} + {CHUNK_SIZE}, n)
            - k * {CHUNK_SIZE - CHUNK_OVERLAP} AS BIGINT)
         AS n_chunk_tokens,
       {md5h(
           f"array_to_string(toks[CAST(k * {CHUNK_SIZE - CHUNK_OVERLAP} + 1 AS INT)"
           f" : CAST(least(k * {CHUNK_SIZE - CHUNK_OVERLAP} + {CHUNK_SIZE}, n) AS INT)], ' ')"
       )} AS chunk_hash
  FROM f
),
dup AS (
  SELECT chunk_hash,
         count(*) AS dup_occurrences,
         count(DISTINCT doc_id) AS dup_docs,
         min(doc_id) AS dup_canonical_doc_id
  FROM ch GROUP BY 1 HAVING count(*) > 1
)
SELECT ch.chunk_hash, ch.doc_id, ch.chunk_idx, ch.n_chunk_tokens,
       d.dup_occurrences, d.dup_docs, d.dup_canonical_doc_id
FROM ch LEFT JOIN dup d USING (chunk_hash)
""",
        # mirrors pipeline/curation.py chunk_dedup over the text_chunks
        # derivation: repeated 64-token windows across the corpus
        "text_chunk_dedup": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
f AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(0, (len(toks) + {CHUNK_SIZE - CHUNK_OVERLAP - 1})
           // {CHUNK_SIZE - CHUNK_OVERLAP})) AS k
  FROM t WHERE len(toks) > 0
),
ch AS (
  SELECT doc_id,
         {md5h(
             f"array_to_string(toks[CAST(k * {CHUNK_SIZE - CHUNK_OVERLAP} + 1 AS INT)"
             f" : CAST(least(k * {CHUNK_SIZE - CHUNK_OVERLAP} + {CHUNK_SIZE}, n) AS INT)], ' ')"
         )} AS chunk_hash
  FROM f
)
SELECT chunk_hash,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS canonical_doc_id
FROM ch
GROUP BY 1 HAVING count(*) > 1
""",
        # mirrors pipeline/curation.py training_chunks — the COMPLETE
        # docs -> training-sequences composition: curated_corpus's
        # quality/keep-one/split gate, minus decontaminated docs
        # (>= 3 shingles shared with the %11 eval set), chunked, minus
        # repeated windows except the canonical owner's first copy.
        # Every fragment is the same one the individual oracles use, so
        # a mismatch here localizes to the COMPOSITION, not a stage.
        "pipeline_training_chunks": f"""
WITH RECURSIVE {TRAINING_CHUNKS_CTES}
SELECT chunk_hash, doc_id, chunk_idx, n_chunk_tokens FROM tc
""",
        # the END-TO-END flagship: the same kept-chunk chain packed into
        # token-budget sequences (pipeline/curation.py pack_sequences
        # over training_chunks output) — budget 160, same window SQL as
        # the pipeline_pack_sequences oracle but over tc
        "pipeline_training_sequences": f"""
WITH RECURSIVE {TRAINING_CHUNKS_CTES},
cum AS (
  SELECT doc_id, chunk_idx, n_chunk_tokens,
         COALESCE(SUM(n_chunk_tokens) OVER (PARTITION BY doc_id
             ORDER BY chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS c
  FROM tc
)
SELECT doc_id, CAST(c // 160 AS BIGINT) AS seq_idx,
       count(*) AS n_chunks,
       CAST(sum(n_chunk_tokens) AS BIGINT) AS seq_tokens,
       min(chunk_idx) AS first_chunk_idx,
       max(chunk_idx) AS last_chunk_idx
FROM cum GROUP BY 1, 2
""",
        # mirrors pipeline/multimodal.py sample_frames: ceil(n/L) frames,
        # every STRIDE-th kept, per-frame length + checksum
        "multimodal_frames": f"""
WITH {DOCS},
{MM_BYTES},
fr AS (
  SELECT media_id, kind, n, bs,
         unnest(range(0, (n + {FRAME_LEN - 1}) // {FRAME_LEN}))
           AS frame_idx
  FROM mm_bytes
)
SELECT media_id, kind, frame_idx,
       least(n, (frame_idx + 1) * {FRAME_LEN})
         - frame_idx * {FRAME_LEN} AS frame_len,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
           bs[CAST(frame_idx * {FRAME_LEN} + 1 AS INT)
              : CAST(least(n, (frame_idx + 1) * {FRAME_LEN}) AS INT)]),
           (a, x) -> a + x) % 1000000007 AS frame_checksum
FROM fr
WHERE frame_idx % {FRAME_STRIDE} = 0
""",
        # mirrors pipeline/text.py tfidf_keywords: per-doc top-5 by the
        # BM25-shaped idf weight tf * (N - df + 0.5) / (df + 0.5) — the
        # arithmetic uses only exactly-rounded IEEE ops (no ln), so the
        # doubles are bit-identical across engines (see the operator's
        # docstring); ties broken (score DESC, token ASC)
        "text_tfidf_keywords": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs_aug),
j AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
         CAST(tf.tf AS DOUBLE)
           * (CAST(n.n_docs - dfc.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
           / (CAST(dfc.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS score
  FROM tf JOIN dfc USING (token), n
),
r AS (
  SELECT doc_id, token, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token ASC) AS kw_rank
  FROM j
)
SELECT doc_id, CAST(kw_rank AS BIGINT) AS kw_rank, token, tf, df, score
FROM r WHERE kw_rank <= 5
""",
        # mirrors pipeline/cleaning.py drop_boilerplate_lines over the
        # __spark_entry__ boilerplate injection (every 3rd doc gets a
        # corpus-wide newsletter line + a unique ref line): lines in
        # >= 3 distinct docs are dropped, survivors rejoin in order
        "text_line_dedup": f"""
WITH {DOCS},
b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || chr(10) || 'subscribe to the transit newsletter'
                || chr(10) || 'ref ' || CAST(doc_id AS VARCHAR)
         ELSE text END AS text
  FROM docs_aug
),
l AS (
  SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM b)
),
lh AS (
  SELECT doc_id, i - 1 AS idx, ls[i] AS line,
         {md5h("ls[i]")} AS line_hash
  FROM l
),
hot AS (
  SELECT line_hash
  FROM (SELECT DISTINCT line_hash, doc_id FROM lh)
  GROUP BY 1 HAVING count(*) >= 3
)
SELECT lh.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN h.line_hash IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN h.line_hash IS NULL THEN lh.line END,
                           chr(10) ORDER BY lh.idx), '') AS clean_text
FROM lh LEFT JOIN hot h ON lh.line_hash = h.line_hash
GROUP BY 1
""",
        # mirrors pipeline/text.py search_bm25(['spark','window','merge'],
        # k1=1.2, b=0.75, top_k=20).  Float constants are interpolated
        # via Python repr so both engines parse the IDENTICAL double
        # (incl. k1+1.0, computed in Python on the Spark side too);
        # per-term scores are floor-quantized to int64 micros before the
        # per-doc sum, so the aggregation is order-independent and the
        # hash compare is exact
        "text_search_bm25": f"""
WITH {DOCS},
{bm25_ctes("('spark', 'window', 'merge')")}
SELECT doc_id, n_terms_hit, score_micro
FROM bm
ORDER BY score_micro DESC, doc_id ASC
LIMIT 20
""",
        # pipeline/text.py hybrid_search: BM25 top-50 + dense-cosine
        # top-50 (query = stored embedding of vec 0), fused by integer
        # Reciprocal Rank Fusion micros
        "text_hybrid_search": f"""
WITH {DOCS},
{bm25_ctes("('spark', 'window', 'merge')")},
bmtop AS (
  SELECT doc_id, score_micro FROM bm
  ORDER BY score_micro DESC, doc_id ASC LIMIT 50
),
bmr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
              AS BIGINT) AS bm25_rank
  FROM bmtop
),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
dsc AS (
  SELECT e.vec_id AS doc_id,
         round({cos_sql('e.embedding', 'q.qe')}, 6) AS cos_sim
  FROM embeddings e, qv q
  WHERE e.vec_id <> 0
  ORDER BY cos_sim DESC, doc_id ASC LIMIT 50
),
dr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
              AS BIGINT) AS dense_rank
  FROM dsc
),
f AS (
  SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
         b.bm25_rank, d.dense_rank
  FROM bmr b FULL OUTER JOIN dr d ON b.doc_id = d.doc_id
)
SELECT doc_id, bm25_rank, dense_rank,
       CAST(COALESCE(1000000 // (60 + bm25_rank), 0)
            + COALESCE(1000000 // (60 + dense_rank), 0) AS BIGINT)
         AS rrf_micro
FROM f
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT 20
""",
        # mirrors pipeline/incremental.py corpus_diff over the driver's
        # deterministic snapshot pair (old = raw documents; new =
        # docs_aug minus every 13th, every 11th text edited)
        "pipeline_corpus_diff": f"""
WITH {DOCS},
old AS (SELECT doc_id, text FROM documents),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
  FROM docs_aug WHERE doc_id % 13 != 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN md5(o.text) IS NOT DISTINCT FROM md5(n.text)
              THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
""",
        # mirrors pipeline/similarity.py knn_join_lsh(queries = vec_id %
        # 5 = 0, corpus = all, k=5): multi-probe (home + Hamming-1)
        # bucket join, exact cosine re-rank, per-query top-5
        "ann_knn_join": f"""
WITH tagged AS (
  SELECT vec_id, embedding,
         {" + ".join(
             f"(CASE WHEN {dot_sql('embedding', hyperplane_sql(j))} >= 0 "
             f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
             for j in range(NUM_HYPERPLANES)
         )} AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qe, pb
  FROM tagged,
       unnest([bucket{"".join(
           f", xor(bucket, CAST({1 << j} AS BIGINT))"
           for j in range(NUM_HYPERPLANES))}]) AS u(pb)
  WHERE vec_id % 5 = 0
),
pairs AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round({cos_sql('p.qe', 'c.embedding')}, 6) AS cos_sim
  FROM probes p JOIN tagged c
    ON p.pb = c.bucket AND p.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM pairs
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= 5
""",
        # mirrors pipeline/text.py hash_embeddings: feature-hashing text
        # vectors — per-token bucket/sign from the md5 hash, exact-integer
        # double sums, IEEE sqrt/divide, then the float32 cast (DuckDB
        # REAL) bit-matches Spark's array<float>; first 8 dims projected
        # (lists are unhashable in the driver compare, like multimodal)
        "text_hash_embeddings": f"""
WITH {DOCS},
t AS (SELECT doc_id, {TOKS} AS toks FROM docs_aug),
h AS (SELECT doc_id, list_transform(toks, tk -> struct_pack(
        b := {md5h("'he/' || tk")} % 64,
        s := CASE WHEN {md5h("'hs/' || tk")} % 2 = 1
             THEN -1.0 ELSE 1.0 END)) AS hs
      FROM t),
v AS (SELECT doc_id, list_transform(range(0, 64), i ->
        coalesce(list_sum(list_transform(hs, p ->
          CASE WHEN p.b = i THEN p.s ELSE 0.0 END)), 0.0)) AS raw
      FROM h),
n AS (SELECT doc_id, raw,
             sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
      FROM v)
SELECT doc_id AS vec_id,
       {", ".join(
           f"CAST(raw[{i + 1}] / (CASE WHEN nrm = 0 THEN 1.0 "
           f"ELSE nrm END) AS REAL) AS f{i}" for i in range(8))}
FROM n
""",
    }
