"""Approximate-nearest-neighbor search over an embedding column.

IN-FLIGHT operators, one contract (query_id, rank, neighbor_id, cos_sim),
each DuckDB-oracle-checked: ``brute_force_topk`` (exact baseline: the
bounded query set broadcast against every vector), ``lsh_topk`` /
``knn_join_lsh`` (random-hyperplane sign buckets), ``ivf_topk``,
``sq8_topk``, ``pq_topk``, ``ivf_pq_topk`` and ``bq_topk``.  Hyperplane
components and k-means updates are deterministic integer arithmetic and
dot/cosine are left-fold doubles, so the oracle reproduces every bit
(pipeline/core.py).  They are built from the pieces the stored core
uses: one query side (``_query_side``), one per-query probe step
(``_probe``), the IVF writers' coarse trainer (``_ivf_train``), the one
PQ trainer (``_pq_train``) and the one shortlist-and-rerank
tail (``_shortlist_rerank``) the stored batch server ends in too.

STORED indexes — manifest-committed serving layouts — are one core over
two axes (the end of this module):

- a CODEC turns a vector into scannable code and scores a candidate's
  code against a query: ``sq8`` (a byte per dimension against a trained
  [min, max] quantizer), ``pq`` (a byte per subspace against trained
  codebooks, ADC-scored), ``bq`` (a sign bit per dimension,
  Hamming-scored, nothing trained) or the identity codec (the
  full-precision vector, scored by exact cosine, nothing trained);
- a PARTITION LAYER is flat (the codes table is scanned whole) or IVF
  (codes hive-partitioned by k-means cluster; a query ranks the centroid
  table and reads only its ``nprobe`` best cluster directories).

``INDEX_KINDS`` registers seven kinds (``sq8``, ``ivf_sq8``, ``pq``,
``ivf_pq``, ``bq``, ``ivf_bq`` and the full-precision ``ivf``).
``write_index``, ``index_topk``, ``index_topk_batch``, ``index_upsert``
and ``maintain_index`` serve every kind, reading it from the manifest
(except on write; ``kind=`` refuses any other kind).  Every stored read
shortlists ``k * rerank_mult`` rows on code scores and exact-cosine
re-ranks them against the caller's full-precision primary store.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .core import bounded_rank, cosine, dot

NUM_HYPERPLANES = 8


def _ranked(joined: DataFrame, k: int) -> DataFrame:
    """Each query's top ``k`` of ``joined`` (``query_id``, ``qe``,
    ``neighbor_id``, ``ne``) by exact round-6 cosine DESC, neighbor_id
    ASC — the ANN contract ``(query_id, rank, neighbor_id, cos_sim)``."""
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    )
    return (
        joined.select("query_id", "neighbor_id",
                      F.round(cosine(F.col("qe"), F.col("ne")), 6)
                      .alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _query_side(emb: DataFrame, num_queries: int,
                *extra: F.Column) -> DataFrame:
    """The in-flight operators' bounded query set: the ``num_queries``
    lowest vec_ids as ``(query_id, qe, *extra)``."""
    return emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        *extra)


def _shortlist_rerank(scored: DataFrame, score_col: str, desc: bool,
                      depth: int, q: DataFrame, vectors: DataFrame,
                      k: int) -> DataFrame:
    """THE shortlist-and-rerank tail every code-scored path shares (the
    in-flight sq8/pq/ivf_pq/bq operators and the stored batch server):
    keep each query's ``depth`` best rows of ``scored`` (``(query_id,
    neighbor_id, <score_col>)``, nearest-first by ``score_col`` in the
    given direction, neighbor_id ASC tie-break), join the broadcast
    query side ``q`` (``query_id``, ``qe``) and the full-precision
    ``vectors``, and rank by exact round-6 cosine."""
    order = F.desc if desc else F.asc
    w = Window.partitionBy("query_id").orderBy(
        order(score_col), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= depth)
        .select("query_id", "neighbor_id")
    )
    return _ranked(
        shortlist.join(F.broadcast(q), "query_id")
        .join(vectors.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("embedding").alias("ne")),
              "neighbor_id"), k)


def brute_force_topk(emb: DataFrame, num_queries: int = 8,
                     k: int = 10) -> DataFrame:
    """Exact cosine top-k for queries = the ``num_queries`` lowest vec_ids."""
    q = _query_side(emb, num_queries)
    cand = emb.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("ne"))
    return _ranked(cand.join(F.broadcast(q),
                             F.col("query_id") != F.col("neighbor_id")), k)


SQ_LEVELS = 255       # codes 0..255: one byte per dimension
SQ_RERANK_MULT = 4    # shortlist size = k * this, exact-reranked


def _sq8_code(x: F.Column, mn: F.Column, mx: F.Column) -> F.Column:
    """One component's 0..255 code against its [min, max]:
    clamp(floor((x-mn)*255/(mx-mn)), 0, 255); a constant dim (mx = mn)
    codes to 0 via the NULL guard."""
    return F.coalesce(
        F.least(F.lit(SQ_LEVELS), F.greatest(F.lit(0), F.floor(
            (x - mn) * F.lit(float(SQ_LEVELS))
            / F.nullif(mx - mn, F.lit(0.0))))),
        F.lit(0),
    )


def _sq8_dequantized(embedding: F.Column, mns: F.Column,
                     mxs: F.Column, dim: int) -> F.Column:
    """Quantize-then-dequantize each component against the corpus-wide
    per-dim [min, max]: code = clamp(floor((x-mn)*255/(mx-mn)), 0, 255)
    and x_hat = mn + (code+0.5)*(mx-mn)/256 — the reconstruction SQ8
    scoring actually sees.  Pure double arithmetic in a fixed op order,
    so the DuckDB oracle reproduces every bit (a constant dim collapses
    to mn via the NULL guard).

    Kept as ONE per-dimension lambda rather than
    ``_sq8_reconstruct(_sq8_codes(...))`` (bit-identical values):
    without a projection barrier CollapseProject inlines the codes
    transform into the reconstruction's per-dimension lambda, which
    re-derives every code dim times per row."""
    def _hat(d):
        # explicit double casts: the parquet column is float32, and the
        # two engines promote float arithmetic differently — anchoring
        # every operand to double keeps the op sequence identical
        x = F.element_at(embedding, d).cast("double")
        mn = F.element_at(mns, d)
        mx = F.element_at(mxs, d)
        code = _sq8_code(x, mn, mx)
        return mn + (code + F.lit(0.5)) * (mx - mn) / F.lit(256.0)

    return F.transform(F.sequence(F.lit(1), F.lit(dim)), _hat)


def sq8_topk(emb: DataFrame, num_queries: int = 8, k: int = 10,
             dim: int = 64,
             rerank_mult: int = SQ_RERANK_MULT) -> DataFrame:
    """ANN top-k over SCALAR-QUANTIZED vectors with exact re-rank — the
    compression scale path beside the LSH/IVF pruning paths: at 100 TB
    the candidate scan reads 1-byte codes instead of 8-byte doubles
    (8x less IO; store the code column with jobs/layout.py and this is
    the column the scan touches), ranks every candidate by the
    quantizer's reconstruction, and pays full-precision reads ONLY for
    the per-query shortlist of ``k * rerank_mult`` rows re-ranked with
    exact cosine.

    The quantizer is corpus-trained in the same pass: per-dim [min,
    max] is ONE 1-row aggregate broadcast to the scan (the whitelisted
    bounded nested-loop shape).  Everything is deterministic double
    arithmetic — the DuckDB oracle mirrors training, encoding,
    reconstruction, shortlist, and re-rank bit-for-bit.  Output
    contract matches the other ANN paths; pytest pins shortlist recall
    against ``brute_force_topk``.
    """
    # the 1-row quantizer is collected ONCE and re-enters the plan as a
    # local relation: ``hat`` is consumed by BOTH the query side and the
    # candidate side, and a lazy stats subtree is duplicated under each
    # consumer (the r14 plan shows the HashAggregate-over-scan pair
    # TWICE, plans/r14/ann_sq8_topk_*.txt).  Collecting the row, unlike
    # persisting it, leaves no cached block behind in the session.
    stats = _sq8_stats(emb, dim)
    stats = emb.sparkSession.createDataFrame([stats.first()], stats.schema)
    hat = emb.join(F.broadcast(stats)).select(
        "vec_id",
        _sq8_dequantized(F.col("embedding"), F.col("mns"),
                         F.col("mxs"), dim).alias("hat"),
    )
    q = (hat.filter(F.col("vec_id") < num_queries)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("hat").alias("qhat")))
    approx = (
        hat.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("hat").alias("nhat"))
        .join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                cosine(F.col("qhat"), F.col("nhat")).alias("approx_sim"))
    )
    return _shortlist_rerank(approx, "approx_sim", True, k * rerank_mult,
                             _query_side(emb, num_queries), emb, k)


def _sq8_stats(emb: DataFrame, dim: int) -> DataFrame:
    """1-row quantizer: per-dim [min, max] arrays over the corpus."""
    return emb.agg(
        *[f(F.element_at("embedding", d).cast("double"))
          .alias(f"{n}{d}")
          for d in range(1, dim + 1)
          for n, f in (("mn", F.min), ("mx", F.max))]
    ).select(
        F.array(*[F.col(f"mn{d}") for d in range(1, dim + 1)])
        .alias("mns"),
        F.array(*[F.col(f"mx{d}") for d in range(1, dim + 1)])
        .alias("mxs"),
    )


def _sq8_codes(embedding: F.Column, mns: F.Column, mxs: F.Column,
               dim: int) -> F.Column:
    """array of 0..255 integer codes, one per dimension (the logical
    form; ``_sq8_pack`` turns it into the stored one-blob-per-row)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda d: _sq8_code(F.element_at(embedding, d).cast("double"),
                            F.element_at(mns, d),
                            F.element_at(mxs, d)).cast("smallint"))


def _sq8_pack(codes: F.Column) -> F.Column:
    """ONE binary blob per row from the array of 0..255 codes: each
    code becomes a zero-padded hex pair, concatenated and unhex'd —
    all JVM-side string expressions, no UDF.  dim bytes/row on disk
    (vs 4*dim for the float32 vectors and 2*dim for the earlier
    array<smallint> draft): parquet stores it as a single BYTE_ARRAY
    value, so the codes scan carries no per-element repetition
    levels."""
    return F.unhex(F.concat_ws("", F.transform(
        codes, lambda c: F.lpad(F.hex(c), 2, "0"))))


def _sq8_unpack(blob: F.Column, dim: int) -> F.Column:
    """array<int> of 0..255 codes back out of a ``_sq8_pack`` blob:
    hex, split into 2-char chunks, base-16 conv — exact inverse for
    every byte value (pytest round-trips all 256).

    The transform iterates the SPLIT ARRAY itself (sliced to dim —
    dropping the split's trailing empty chunk), not an index sequence
    whose lambda re-derives the split: a HigherOrderFunction evaluates
    its lambda per element, so `element_at(split(hex(blob)), d)` in the
    lambda body would hex + regex-split the whole blob dim times per
    row (measured r12: the dominant cost of every SQ8 scoring scan).
    As the transform's INPUT, the split runs once per row."""
    pairs = F.slice(F.split(F.hex(blob), r"(?<=\G..)"), 1, dim)
    return F.transform(
        pairs, lambda p: F.conv(p, 16, 10).cast("int"))


def _sq8_reconstruct(ucodes: F.Column, dim: int) -> F.Column:
    """x_hat per dimension from unpacked codes + the joined quantizer
    row (``mns``/``mxs`` columns) — the same arithmetic, in the same
    op order, as ``_sq8_dequantized``'s in-flight path."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda d: F.element_at("mns", d)
        + (F.element_at(ucodes, d).cast("double") + F.lit(0.5))
        * (F.element_at("mxs", d) - F.element_at("mns", d))
        / F.lit(256.0),
    )


def _next_index_version(spark, path: str) -> int:
    """Claim the next version number AND its data dir: version is the
    newest committed + 1, so ``data/v<N>`` can pre-exist only as a
    crashed commit's orphan (its manifest never landed; the index is
    single-writer) — reclaim it here so a replayed upsert/maintenance
    batch doesn't wedge on its mode('error') writes."""
    from ..jobs.compact import _fs
    from ..jobs.versioned import list_versions

    versions = list_versions(spark, path)
    version = (versions[-1] + 1) if versions else 0
    fs, _, jvm = _fs(spark, path)
    orphan = jvm.org.apache.hadoop.fs.Path(f"{path}/data/v{version:06d}")
    if fs.exists(orphan):
        fs.delete(orphan, True)
    return version


class IndexCorruptError(RuntimeError):
    """A committed index manifest references data that no longer exists
    (a deleted codes / quantizer / centroids / codebooks dir)."""


def _index_manifest(spark, path: str) -> dict:
    """Resolve the newest COMMITTED snapshot of a manifest-versioned
    index (raises FileNotFoundError for an empty/uncommitted path).

    Every data dir the manifest references is checked to exist — one
    filesystem stat each — so a dangling manifest is a typed
    :class:`IndexCorruptError` naming the missing path at every entry
    point, never a ``PATH_NOT_FOUND`` deep in a plan or (on a probed
    read, which skips absent cluster dirs) silently missing
    candidates."""
    from ..jobs.compact import _fs
    from ..jobs.versioned import _read_manifest, list_versions

    versions = list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(
            f"vector index {path}: no committed version (data dirs "
            f"without a manifest are uncommitted orphans)")
    m = _read_manifest(spark, path, versions[-1])
    fs, _, jvm = _fs(spark, path)
    refs = list(m.get("codes", [])) + [
        m[a] for a in ("quantizer", "centroids", "codebooks") if a in m]
    missing = [r for r in refs if not fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{path}/{r}"))]
    if missing:
        raise IndexCorruptError(
            f"vector index {path} is corrupt: committed version "
            f"{versions[-1]} references missing data {missing} — "
            f"rebuild the index (write_index) from the primary store")
    return m


def _manifest_fingerprint(spark, path: str, version: int,
                          m: dict | None = None) -> tuple:
    """Content fingerprint for driver-side caches keyed on (path,
    version).  Version numbers restart at 0 when an index directory is
    deleted and rebuilt at the same path, so (path, version) alone
    would let a long-lived driver serve the OLD index's cached
    centroids/codebooks against the new index's codes — wrong cluster
    ranking, silent recall collapse, with no invalidation hook.

    Primary key: the per-commit ``build_nonce`` that
    ``_write_manifest`` stamps into every manifest — random per
    commit, so a rebuild can never collide, regardless of filesystem
    timestamp granularity.  Serving paths already hold the freshly
    read manifest dict, so passing ``m`` costs nothing.  Fallback for
    manifests committed before the nonce existed (or callers without
    the dict): ``(mtime, len)`` of the manifest FILE — one filesystem
    stat, no Spark job, but collidable on coarse-mtime filesystems
    when a same-length manifest lands in the same granule."""
    if m is not None and m.get("build_nonce"):
        return ("nonce", m["build_nonce"])
    from ..jobs.compact import _fs
    from ..jobs.versioned import _manifest_path

    fs, _, jvm = _fs(spark, path)
    st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(
        _manifest_path(path, version)))
    return (st.getModificationTime(), st.getLen())


def _manifest_dim(m: dict, dim: int | None, path: str) -> int:
    """The index's true dimensionality is recorded in its manifest; a
    caller-passed dim that disagrees would silently corrupt results
    (element_at past the stored quantizer arrays yields NULL, codes
    coalesce to 0, upserts append blobs of a different byte width) —
    so serving and upsert RESOLVE dim from the manifest and refuse a
    contradicting override (the PQ family's m/dim-from-manifest
    behavior, made uniform across the SQ8 family)."""
    stored = int(m["dim"])
    if dim is not None and int(dim) != stored:
        raise ValueError(
            f"vector index {path} was built with dim={stored}; "
            f"caller passed dim={dim} — drop the argument (the manifest "
            f"is authoritative) or rebuild the index at the new dim")
    return stored


DEFAULT_NPROBE = 2


def _resolve_nprobe(m: dict, nprobe: int | None) -> int:
    """Serving probe depth, resolved like dim: an explicit caller value
    always wins; ``None`` (the default everywhere) reads the manifest's
    ``default_nprobe`` — the operating point :func:`tune_index` or a
    maintainer's bump rung persisted — falling back to
    ``DEFAULT_NPROBE`` on an untuned index.  This is what closes the
    tuning loop: a measured setting committed to the manifest changes
    how EVERY later serving call (single, batch, streaming, CLI)
    probes, with no caller code threading the number around."""
    if nprobe is not None:
        return int(nprobe)
    return int(m.get("default_nprobe", DEFAULT_NPROBE))


def _resolve_rerank(m: dict, rerank_mult: int | None) -> int:
    """Serving exact-rerank depth, resolved exactly like nprobe: an
    explicit caller value wins; ``None`` (the default everywhere)
    reads the manifest's ``default_rerank_mult`` — the operating point
    :func:`tune_index` commits — falling back to the kind's constant.
    Rerank depth is THE quality knob of the flat kinds (a flat scan
    ranks every code; what recall it reaches is decided by how many
    shortlist rows the exact re-rank sees) and the second knob of the
    IVF kinds after probe depth."""
    if rerank_mult is not None:
        return int(rerank_mult)
    if "default_rerank_mult" in m:
        return int(m["default_rerank_mult"])
    return INDEX_KINDS[m.get("kind", "sq8")].codec.rerank_default


def _persist_operating_point(spark, path: str, *,
                             nprobe: int | None = None,
                             rerank_mult: int | None = None) -> int:
    """Commit a manifest-only version bump carrying the serving
    operating point — ``default_nprobe`` and/or ``default_rerank_mult``
    (the :func:`tune_index` commit, shared with the maintenance ladder's
    bump rungs so a bumped setting changes how every later serving call
    runs).  Returns the committed version (the current one when every
    passed setting is already in force).  A setting is skipped only when
    its key is EXPLICITLY present and equal: the point is to pin the
    measured operating point against constant drift."""
    from ..jobs.versioned import _write_manifest

    m = _index_manifest(spark, path)
    patch = {key: int(v) for key, v in (("default_nprobe", nprobe),
                                        ("default_rerank_mult",
                                         rerank_mult))
             if v is not None and not (key in m and int(m[key]) == int(v))}
    if not patch:
        return int(m["version"])
    version = _next_index_version(spark, path)
    _write_manifest(spark, path, version,
                    {**m, "version": version, **patch})
    return version


def vacuum_index(spark, path: str, keep_last: int = 2) -> dict:
    """Collect index garbage: delete (a) data dirs no RETAINED manifest
    references — including the orphans a crashed commit leaves, which
    would otherwise collide with the next version's directory — and
    (b) manifests older than the last ``keep_last``.  The index twin of
    jobs/versioned.vacuum (different manifest schema: codes/quantizer/
    centroids refs instead of a flat dirs list).

    ``keep_last`` must be >= 1: keep_last=0 would compute keep=[] and
    delete every data dir AND every manifest — destroying the index
    with no committed version left (and the CLI exposes --keep-last
    directly, so the guard lives here, not at the edge)."""
    from ..jobs.compact import _fs
    from ..jobs.versioned import _read_manifest, list_versions

    if keep_last < 1:
        raise ValueError(
            f"vacuum_index keep_last must be >= 1 (got {keep_last}): "
            f"retaining zero versions would delete the entire index")
    fs, _, jvm = _fs(spark, path)
    versions = list_versions(spark, path)
    keep = versions[-keep_last:]
    referenced: set[str] = set()
    for v in keep:
        man = _read_manifest(spark, path, v)
        for d in man["codes"]:
            referenced.add(d.split("/")[1])           # data/<vdir>/codes
        for key in ("quantizer", "centroids", "codebooks"):
            if key in man:
                referenced.add(man[key].split("/")[1])
    removed_dirs, removed_manifests = [], []
    data_root = jvm.org.apache.hadoop.fs.Path(f"{path}/data")
    if fs.exists(data_root):
        for st in fs.listStatus(data_root):
            name = st.getPath().getName()
            if name not in referenced:
                fs.delete(st.getPath(), True)
                removed_dirs.append(name)
    for v in versions:
        if v not in keep:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                f"{path}/_versions/v{v:06d}.json"), False)
            removed_manifests.append(v)
    return {"removed_dirs": sorted(removed_dirs),
            "removed_manifests": removed_manifests,
            "kept_versions": keep}


def _read_codes(spark, path: str, dirs: list[str],
                exclude: list[int] | None = None) -> DataFrame:
    """Union-read a manifest's codes dirs ONE ROOT AT A TIME: Spark
    refuses multiple root directories in a single partitioned read
    (partition discovery would be ambiguous), and an upserted ivf_sq8
    manifest legitimately references several cluster-partitioned dirs.
    Per-dir reads keep per-dir partition pruning; the union is a plan
    node, not a materialization.

    ``exclude`` masks RETIRED cluster ids (a ``rebalance_index`` split
    rewrote their rows under new ids into a later dir, but the old
    dirs are immutable) — a static NOT-IN partition filter, so pruning
    survives and the masked partitions are never opened."""
    out = None
    for d in dirs:
        part = spark.read.parquet(f"{path}/{d}")
        out = part if out is None else out.unionByName(part)
    if exclude:
        out = out.filter(
            ~F.col("cluster_id").isin([int(c) for c in exclude]))
    return out


def _manifest_codes(spark, path: str, m: dict) -> DataFrame:
    """THE way to read a manifest's codes table: its dirs, minus the
    clusters a rebalance retired.  Every consumer (serving, upsert
    survivors, stats, compaction, recall probes) must come through
    here — reading the dirs raw would resurrect retired rows."""
    return _read_codes(spark, path, m["codes"],
                       m.get("excluded_clusters"))


def _probed_codes(spark, path: str, m: dict,
                  probed: list[int]) -> DataFrame:
    """Codes read that LISTS only the probed cluster directories: a
    partitioned read of the whole table enumerates EVERY partition dir
    before pruning (141 listings to read 16 at the sf1 geometry; on an
    object store at k ~ sqrt(N) that is thousands of prefix listings
    per serve), while reading the probed subdirectories directly costs
    one existence check + one listing each.  ``basePath`` keeps the
    ``cluster_id`` partition column in the schema, so the result is
    row-identical to ``_manifest_codes(...).filter(isin(probed))``.

    Retired (rebalance-excluded) cluster ids never appear in ``probed``
    — they are absent from the centroid table the ranking reads — but
    the mask is re-applied anyway: correctness here must not depend on
    the caller's probe source."""
    from ..jobs.compact import _fs

    fs, _, jvm = _fs(spark, path)
    excluded = {int(c) for c in m.get("excluded_clusters", [])}
    want = [int(c) for c in probed if int(c) not in excluded]
    out = None
    for d in m["codes"]:
        subs = [f"{path}/{d}/cluster_id={c}" for c in want
                if fs.exists(jvm.org.apache.hadoop.fs.Path(
                    f"{path}/{d}/cluster_id={c}"))]
        if not subs:
            continue
        part = (spark.read.option("basePath", f"{path}/{d}")
                .parquet(*subs))
        out = part if out is None else out.unionByName(part)
    if out is None:                          # nothing probed exists
        return _manifest_codes(spark, path, m).filter(F.lit(False))
    return out


def compact_index(spark, path: str, min_dirs: int = 2) -> dict:
    """Fold an append-fragmented index back to ONE codes dir: every
    appended upsert adds a dir the manifest references, and while each
    stays partition-prunable, an append-heavy feed accumulates dirs
    whose per-dir open/footer overhead eventually taxes every probe
    (the small-files problem, at directory granularity).  Compaction
    union-reads the committed dirs, rewrites them as a single dir
    (cluster-partitioned on the IVF kinds, so pruning survives), and
    commits a manifest identical except for the codes list — same
    crash protocol as every writer (data first, one rename; an
    interrupted compaction leaves the fragmented version readable).
    ``vacuum_index`` then collects the old dirs once they fall out of
    the retention window.

    Returns the decision as data: ``{"decision": "noop"}`` when the
    manifest already references fewer than ``min_dirs`` dirs (nothing
    to fold), else ``{"decision": "compacted", "dirs_before": N}``."""
    from ..jobs.versioned import _write_manifest

    m = _index_manifest(spark, path)
    if len(m["codes"]) < min_dirs:
        return {"decision": "noop", "dirs_before": len(m["codes"])}
    codes = _manifest_codes(spark, path, m)
    version = _next_index_version(spark, path)
    base = f"data/v{version:06d}"
    ivf = _kind_of(m, path).ivf
    cols = [c for c in codes.columns if c != "cluster_id"]
    _write_codes(codes.select(*cols, *(["cluster_id"] if ivf else [])),
                 f"{path}/{base}/codes", ivf)
    new_m = {**m, "version": version, "codes": [f"{base}/codes"]}
    # the fold physically drops rebalance-retired rows (the read above
    # is exclusion-filtered), so the mask has nothing left to mask
    new_m.pop("excluded_clusters", None)
    _write_manifest(spark, path, version, new_m)
    return {"decision": "compacted", "dirs_before": len(m["codes"]),
            "version": version}


def read_index_codes(spark, path: str) -> DataFrame:
    """The codes table of the newest COMMITTED snapshot of a stored
    index — what a maintenance job or audit reads; uncommitted
    (crash-orphaned) data dirs are invisible by construction."""
    m = _index_manifest(spark, path)
    return _manifest_codes(spark, path, m)


def hyperplane(j: int, dim: int = 64) -> F.Column:
    """Deterministic pseudo-random hyperplane j: component d is
    ((j*37 + d*61) % 17) - 8, d = 0..dim-1 (zero-mean ints)."""
    return F.expr(
        f"transform(sequence(0, {dim - 1}), "
        f"d -> cast((({j} * 37 + d * 61) % 17) - 8 AS double))"
    )


def with_lsh_bucket(emb: DataFrame,
                    num_planes: int = NUM_HYPERPLANES) -> DataFrame:
    """Add the sign-bucket column: bit j = (v . h_j >= 0)."""
    bucket = None
    for j in range(num_planes):
        bit = F.when(dot(F.col("embedding"), hyperplane(j)) >= 0,
                     F.lit(1 << j).cast("long")).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn("bucket", bucket)


def lsh_topk(emb: DataFrame, num_queries: int = 8, k: int = 10) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket."""
    tagged = with_lsh_bucket(emb)
    q = _query_side(tagged, num_queries, F.col("bucket").alias("qb"))
    cand = tagged.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("bucket").alias("nb"),
                         F.col("embedding").alias("ne"))
    return _ranked(cand.join(F.broadcast(q),
                             (F.col("qb") == F.col("nb"))
                             & (F.col("query_id") != F.col("neighbor_id"))),
                   k)


def knn_join_lsh(queries: DataFrame, corpus: DataFrame, k: int = 10,
                 num_planes: int = NUM_HYPERPLANES) -> DataFrame:
    """Corpus-scale kNN JOIN: top-k corpus neighbors for EVERY query
    vector with NEITHER side broadcast — the shape for query sets too
    big for ``lsh_topk``'s broadcast regime (corpus-vs-corpus linking,
    train-vs-train near-dup mining).

    Multi-probe LSH blocking: each query probes its own sign-bucket AND
    the ``num_planes`` buckets at Hamming distance 1 (one bit flipped) —
    the standard multi-probe recall boost, and the vector twin of the
    geo grid's 3x3 neighborhood trick.  The query side explodes into
    ``num_planes + 1`` probe rows; the corpus side keeps ONE row per
    vector (its home bucket), so every (query, candidate) pair joins at
    most once — no distinct needed.  The join is a plain shuffle
    equi-join on the bucket key: work scales with bucket collisions,
    never |Q| x |C|.  Exact cosine re-ranks within candidates; recall
    misses only neighbors >= 2 sign-bits away (raise ``num_planes``
    probes or band like dedup's LSH when that matters).

    Returns (query_id, rank, neighbor_id, cos_sim); queries matching
    nothing produce no rows (they had no bucket collisions).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k!r}")
    qt = with_lsh_bucket(
        queries.select("vec_id", "embedding"), num_planes
    ).select(F.col("vec_id").alias("query_id"),
             F.col("embedding").alias("qe"), "bucket")
    probes = qt.select(
        "query_id", "qe",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j).cast("long"))
                  for j in range(num_planes)]
            )
        ).alias("pb"),
    )
    ct = with_lsh_bucket(corpus, num_planes).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("bucket").alias("nb"),
    )
    return _ranked(probes.join(ct, (F.col("pb") == F.col("nb"))
                               & (F.col("query_id") != F.col("neighbor_id"))),
                   k)


def _probe(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """THE in-flight per-query probe step: each query's ``nprobe`` best
    cells of ``cents`` (``(cluster_id, centroid)``, one broadcast k-row
    table) by round-6 centroid cosine DESC, cluster_id ASC — returns
    ``(query_id, qe, cluster_id)``, (queries x nprobe) rows."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("c_sim"), F.asc("cluster_id"))
    return (
        q.join(F.broadcast(cents))
        .select("query_id", "qe", "cluster_id",
                F.round(cosine(F.col("qe"), F.col("centroid")), 6)
                .alias("c_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qe", "cluster_id")
    )


def ivf_topk(emb: DataFrame, num_queries: int = 8, k: int = 10,
             nprobe: int = 2) -> DataFrame:
    """IVF ANN: coarse-quantize -> probe the ``nprobe`` best cells ->
    exact cosine re-rank inside the probed cells.  The coarse cells come
    from the ``label`` column (the upstream cluster assignment = the
    coarse quantizer), their centroids from :func:`_quantized_centroids`.

    Scale path: the probe table is (queries x nprobe) rows — broadcast —
    and the candidate join hits only probed cells' vectors (with cell-
    partitioned storage, partition pruning skips the rest of 100 TB).
    """
    cents = _quantized_centroids(
        emb.select(F.col("label").alias("cid"), "embedding")
    ).select(F.col("cid").alias("cluster_id"), "centroid")
    probe = _probe(_query_side(emb, num_queries), cents, nprobe)
    cand = emb.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("label").alias("cluster_id"),
                      F.col("embedding").alias("ne"))
    return _ranked(cand.join(F.broadcast(probe),
                             (cand["cluster_id"] == probe["cluster_id"])
                             & (F.col("query_id") != F.col("neighbor_id"))),
                   k)


KMEANS_SALT = "km-v1"
KMEANS_K = 8
KMEANS_ITERS = 2
IVF_K_MAX = 4096


def _default_ivf_k(emb: DataFrame) -> int:
    """Corpus-size-derived IVF cluster count: ~sqrt(N), clamped to
    [KMEANS_K, IVF_K_MAX].  A FIXED cluster count does not scale — at
    k=8, nprobe=2 every probe scans 1/4 of the corpus no matter how
    big it grows, and recall is geometry-limited because each list
    covers too wide a region.  sqrt(N) keeps both sides of the trade
    moving with the data (the FAISS/IVF sizing rule): list size ~
    sqrt(N) rows, so a fixed-nprobe probe scans nprobe*sqrt(N) rows —
    a SHRINKING fraction as the corpus grows — while the centroid
    table stays a k-row broadcast.  The IVF writers use this when the
    caller passes ``k=None``; an explicit ``k=`` always wins (tests
    pin small geometries; operators can oversize for a growing
    corpus).  Cost: one count over the input — noise next to the
    k-means training passes."""
    import math

    n = emb.count()
    return max(KMEANS_K, min(IVF_K_MAX, int(round(math.sqrt(n)))))


def _quantized_centroids(assigned: DataFrame) -> DataFrame:
    """(cid, centroid) from an assignment table carrying ``embedding`` —
    ELEMENT-WISE INTEGER SUM of milli-quantized components.  Integer
    sums are associative/commutative exactly, so Spark's partial
    aggregation and DuckDB's row-order scan produce bit-identical
    centroids (a float mean would differ in the last ulp by sum order);
    cosine only needs the direction, so sum ~ mean.  One narrow
    shuffle of (cid, pos, q) with full map-side combine — dim*|cells|
    rows out regardless of corpus size."""
    comp = (
        assigned.select("cid", F.posexplode("embedding").alias("pos", "c"))
        .groupBy("cid", "pos")
        .agg(F.sum(F.expr("cast(round(c * 1000) AS bigint)")).alias("s"))
    )
    return (
        comp.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select(
            "cid",
            F.expr("transform(ps, x -> cast(x.s AS double))")
            .alias("centroid"),
        )
    )


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: vectors x broadcast(k centroids),
    argmax cosine with a (round-6 cos DESC, cid ASC) total tie-break.
    One map-side-combinable groupBy on vec_id — no per-vector window."""
    scored = (
        emb.join(F.broadcast(cents))
        .select(
            "vec_id", "embedding", "cid",
            F.round(cosine(F.col("embedding"), F.col("centroid")), 6)
            .alias("cos_sim"))
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", "cos_sim"),
                F.struct(F.col("cos_sim"), (-F.col("cid")).alias("nc")))
            .alias("best"),
            F.any_value("embedding").alias("embedding"))
        .select("vec_id", "embedding",
                F.col("best.cid").alias("cid"),
                F.col("best.cos_sim").alias("cos_sim"))
    )


def _kmeans_seeds(emb: DataFrame, k: int) -> DataFrame:
    """The k-means seed centroids ``(cid, centroid)``: the ``k`` vectors
    with the smallest ``md5(salt||vec_id)`` (a TakeOrdered top-k, not a
    random init), numbered 0..k-1 in that order."""
    from .core import md5_hash64

    h = md5_hash64(F.concat(F.lit(KMEANS_SALT),
                            F.col("vec_id").cast("string")))
    seeds = (
        emb.select("vec_id", "embedding", h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
    )
    # number the k seed rows via bounded_rank (sorted-array posexplode),
    # not a partition-less Window — same order, no WindowExec WARN
    return (
        bounded_rank(seeds, [F.col("h"), F.col("vec_id")], "cid", start=0)
        .select("cid", F.col("embedding").alias("centroid"))
    )


def embedding_kmeans(emb: DataFrame, k: int = KMEANS_K,
                     n_iter: int = KMEANS_ITERS) -> DataFrame:
    """Deterministic k-means over the embedding column — the corpus
    clustering step behind semantic dedup / topic-balanced sampling
    (cluster first, then dedup or cap within clusters).  Returns
    ``(vec_id, cluster_id, cos_sim)`` — each vector's cluster and its
    round-6 cosine to that cluster's centroid.

    Engine-independent by construction: seeds are the ``k`` vectors
    with the smallest ``md5(salt||vec_id)`` (a TakeOrdered top-k, not a
    random init), centroid updates are exact integer sums of
    milli-quantized components, and every argmax carries a total
    (cos DESC, cid ASC) tie-break — so the DuckDB oracle reproduces the
    clustering bit-for-bit.

    Scale shape per iteration: one broadcast of k centroids, one narrow
    score projection, one map-side-combinable groupBy(vec_id) argmax,
    one (cid, pos) aggregation emitting 64*k rows.  ``n_iter`` is a
    compile-time constant (the loop is unrolled into ONE static plan —
    no checkpointing, no driver round-trips); for the tens-of-iterations
    regime, re-persist assignments per round instead.
    """
    assigned = _assign(emb, _kmeans_seeds(emb, k))
    for _ in range(n_iter - 1):
        cents = _quantized_centroids(assigned)
        assigned = _assign(emb, cents)
    return assigned.select(
        "vec_id", F.col("cid").alias("cluster_id"), "cos_sim")


def semantic_dedup(emb: DataFrame, threshold: float = 0.98,
                   k: int = KMEANS_K,
                   n_iter: int = KMEANS_ITERS) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus with
    ``embedding_kmeans``, then compare vectors ONLY within their cluster
    and drop every vector that has a >= ``threshold`` cosine near-dup
    with a smaller ``vec_id`` (deterministic keep-first).  Returns one
    row per vector: ``(vec_id, cluster_id, kept)``.

    Unlike ``dedup.embedding_near_dup`` this needs NO precomputed label
    column — the k-means assignment IS the blocking key, so it runs on
    raw unlabeled corpora.  Recall caveat: a near-dup pair straddling a
    cluster boundary is missed (same class of trade as the banded
    blocking documented on embedding_near_dup).

    Scale: the pairwise stage is a self-join blocked on cluster_id, so
    its cost is sum(|cluster|^2) — pick ``k`` proportional to corpus
    size (SemDeDup practice: clusters of ~10^3-10^4 vectors) to bound
    every block; a window-free broadcast k-means iteration upstream
    costs one k-row broadcast each.
    """
    # NOT persisted, by measurement: ``assigned`` feeds three consumers
    # and the physical plan duplicates the k-means subtree per consumer,
    # but an interleaved r14 A/B at sf0.1 measured the persist SLOWER
    # (med 2.21 s vs 1.86 s): the broadcast-iteration k-means chain is
    # cheap to re-run, while caching breaks the fused codegen pipelines
    # and adds a materialization pass (opt guide §5 — cache only when
    # recomputing costs more than the cache does).
    assigned = emb.join(
        embedding_kmeans(emb, k, n_iter).select("vec_id", "cluster_id"),
        "vec_id")
    a = assigned.select(F.col("vec_id").alias("vec_a"),
                        F.col("cluster_id").alias("cl_a"),
                        F.col("embedding").alias("ea"))
    b = assigned.select(F.col("vec_id").alias("vec_b"),
                        F.col("cluster_id").alias("cl_b"),
                        F.col("embedding").alias("eb"))
    drops = (
        a.join(b, (F.col("cl_a") == F.col("cl_b"))
               & (F.col("vec_a") < F.col("vec_b")))
        .filter(F.round(cosine(F.col("ea"), F.col("eb")), 6)
                >= F.lit(threshold))
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(drops, "vec_id", "left")
        .select("vec_id", "cluster_id",
                F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"))
    )


TRAIN_SALT = "idx-train-v1"


def _train_sample(emb: DataFrame, train_fraction: float) -> DataFrame:
    """Deterministic hash-sample of an index trainer's input: keep the
    vectors whose ``md5(salt||vec_id)`` lands under the fraction (the
    house split pattern — no RNG, so the same corpus always trains the
    same books/centroids and the oracle stays reproducible).

    This is the scale lever that decouples training cost from corpus
    size: k-means/codebook quality depends on the DISTRIBUTION, not
    the row count, so at 100 TB the chains run over a hash-sample
    while assignment/encoding still cover every vector.
    ``train_fraction=1.0`` (the default everywhere) bypasses the
    filter entirely — full-corpus training stays the oracle path."""
    from .core import md5_hash64

    if not 0.0 < train_fraction <= 1.0:
        # range FIRST: a typo like 25 (meant 0.25) or 1.5 must raise,
        # not silently train on the full corpus
        raise ValueError(
            f"train_fraction must be in (0, 1] (got {train_fraction})")
    if train_fraction == 1.0:
        return emb
    permille = max(1, int(round(train_fraction * 1000)))
    h = md5_hash64(F.concat(F.lit(TRAIN_SALT),
                            F.col("vec_id").cast("string")))
    return emb.filter(F.pmod(h, F.lit(1000)) < F.lit(permille))


def _trained_centroids(emb: DataFrame, k: int, n_iter: int,
                       train_fraction: float) -> DataFrame:
    """The IVF writers' shared trainer: k-means centroids learned over
    the (possibly hash-sampled) corpus, returned as a ``(cid,
    centroid)`` table ready for ``_assign`` over the FULL corpus."""
    train = _train_sample(emb, train_fraction).select(
        "vec_id", "embedding")
    sasg = train.join(
        embedding_kmeans(train, k, n_iter)
        .select("vec_id", F.col("cluster_id").alias("cid")), "vec_id")
    return _quantized_centroids(sasg)


SQ_DRIFT_TOL = 0.05   # tolerated out-of-range drift, fraction of range


def _sq8_drifted_dims(stats: DataFrame, new_emb: DataFrame, dim: int,
                      tol: float) -> list[int]:
    """Dims whose batch min/max exceed the stored quantizer range by
    more than ``tol`` x range — the shared drift screen of the SQ8
    family's upserts (one aggregate over the batch + one 1-row
    broadcast join; empty list = safe to encode with edge clamping)."""
    bstats = _sq8_stats(new_emb, dim)
    both = bstats.join(F.broadcast(stats.select(
        F.col("mns").alias("omns"), F.col("mxs").alias("omxs"))))
    drifted = both.select(
        F.filter(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda d: (
                (F.element_at("mns", d)
                 < F.element_at("omns", d)
                 - F.lit(tol) * (F.element_at("omxs", d)
                                 - F.element_at("omns", d)))
                | (F.element_at("mxs", d)
                   > F.element_at("omxs", d)
                   + F.lit(tol) * (F.element_at("omxs", d)
                                   - F.element_at("omns", d)))
            ),
        ).alias("dd")
    ).head()["dd"]
    return [int(d) for d in drifted] if drifted else []


_CENTS_CACHE: dict = {}


def _centroid_rows(spark, path: str, m: dict) -> list[tuple[int, list]]:
    """The stored centroid table as driver-side ``[(cluster_id,
    centroid), ...]``, cached per (path, manifest version, content
    fingerprint — :func:`_manifest_fingerprint`): committed centroids
    are immutable, so a serving process pays the k-row read ONCE per
    index version instead of one Spark job per query."""
    key = (path, int(m["version"]), m["centroids"],
           _manifest_fingerprint(spark, path, int(m["version"]), m))
    hit = _CENTS_CACHE.get(key)
    if hit is None:
        hit = [(int(r["cluster_id"]), [float(x) for x in r["centroid"]])
               for r in spark.read.parquet(
                   f"{path}/{m['centroids']}").collect()]
        if len(_CENTS_CACHE) >= 64:        # bound a long-lived server
            _CENTS_CACHE.clear()
        _CENTS_CACHE[key] = hit
    return hit


def _rank_centroids(query_vec: list[float],
                    cents: list[tuple[int, list]]
                    ) -> list[tuple[float, int]]:
    """THE driver-side centroid ranking — ``[(round-6 cosine,
    cluster_id), ...]`` sorted (sim DESC, cluster_id ASC) — shared
    VERBATIM by the single-query path (:func:`index_topk`) and the
    batch path (:func:`_batch_candidates`), so their probe sets agree
    exactly by construction.  numpy computes the cosine matrix (one
    matmul, ~ms at 4,096 clusters x dim 64, where a pure-Python fold
    takes seconds per batch); round-6 absorbs the fold-order ulps
    before the sort."""
    import numpy as np

    if not cents:
        return []
    q = np.asarray(query_vec, dtype=np.float64)
    C = np.asarray([c for _, c in cents], dtype=np.float64)
    qn = float(np.sqrt(q @ q))
    norms = np.sqrt(np.einsum("kd,kd->k", C, C))
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = C @ q / norms / (qn if qn else np.inf)
    sims = np.where(norms == 0, -1.0, sims)
    sims = np.where(np.isnan(sims), -1.0, sims)
    return sorted(
        ((float(round(s, 6)), cid)
         for s, (cid, _) in zip(sims, cents)),
        key=lambda t: (-t[0], t[1]))


def _widen_filtered_probes(codes_all: DataFrame,
                           allowed: DataFrame | None,
                           ranked: list, nprobe: int,
                           k: int) -> list[int]:
    """Adaptive probe widening under a restrictive filter (single-query
    form, shared by the cluster-partitioned layouts): the surviving
    vectors may live OUTSIDE the ``nprobe`` best clusters, and a fixed
    probe set would then starve the shortlist no matter how the filter
    is applied — so probe, count the reachable candidates (one
    partition-pruned count), and double until >= ``k`` are reachable or
    every cluster is probed.  Returns the widened probe list.

    Two filter forms share this loop: ``allowed`` (an id list —
    semi-join count) and attribute predicates already APPLIED to
    ``codes_all`` by the caller (``where=`` pushdown — the count then
    runs under the pushed scan predicate, ``allowed=None``)."""
    allow_ids = allowed.select("vec_id") if allowed is not None else None
    while nprobe < len(ranked):
        probe = [cid for _, cid in ranked[:nprobe]]
        reach = codes_all.filter(F.col("cluster_id").isin(probe))
        if allow_ids is not None:
            reach = reach.join(allow_ids, "vec_id", "left_semi")
        n_reachable = reach.count()
        if n_reachable >= k:
            break
        # max(..., nprobe + 1) keeps the step positive when a caller
        # passes nprobe <= 0 (doubling 0 would spin count jobs forever)
        nprobe = min(max(nprobe * 2, nprobe + 1), len(ranked))
    return [cid for _, cid in ranked[:nprobe]]


def _batch_candidates(spark, queries_q: DataFrame,
                      c_rows: list[tuple[int, list]],
                      codes_src, nprobe: int, k: int,
                      allowed: DataFrame | None,
                      code_proj=None,
                      widen: bool = False) -> DataFrame:
    """Batch probe resolution of the IVF layer: per-query cluster ranking
    DRIVER-SIDE with THE single-query path's :func:`_rank_centroids`
    (the batch is the bounded broadcast side and the centroid table is
    k rows, so this replaces a window stage plus a distinct-collect job
    per serve, and batch and single probe SETS agree by construction),
    the UNION of probed clusters read directly (``codes_src``:
    ``probed_ids -> DataFrame``, the :func:`_probed_codes` read plus any
    ``where=`` pushdown), and — with ``widen`` — PER-QUERY adaptive
    probe widening: each round counts every query's reachable
    candidates in ONE partition-pruned aggregate and only the STARVED
    queries (< ``k`` reachable) double their depth, at most
    O(log n_clusters) bounded count jobs.  Returns ``(query_id, vec_id,
    <codes>, ...)`` rows.  Driver cost is |batch| numpy matmuls of
    (n_clusters x dim) — ~2 ms per query at 4,096 clusters x dim 64."""
    from pyspark.sql import types as T

    n_clusters = len(c_rows)
    ranked = {r["query_id"]: [cid for _, cid in _rank_centroids(
                  [float(x) for x in r["qe"]], c_rows)]
              for r in queries_q.select("query_id", "qe").collect()}
    pschema = T.StructType([queries_q.schema["query_id"],
                            T.StructField("cluster_id", T.IntegerType())])

    def _cand(depths: dict) -> DataFrame:
        # UNION of probed clusters listed/read directly (codes_src —
        # only the probed directories are touched); the probes join
        # fans rows out only to the queries that probed each cluster.
        # ``code_proj`` (a DataFrame -> DataFrame projection) applies
        # to the pruned codes BEFORE the fan-out: a per-candidate
        # expression placed here runs once per stored row instead of
        # once per (candidate x probing-query) pair — the ivf_pq hat
        # reconstruction's placement (and the widening loop's counts
        # still prune it away via column pruning)
        rows = [(qid, int(cid)) for qid, order in ranked.items()
                for cid in order[:depths[qid]]]
        probed = sorted({cid for _, cid in rows})
        probes = spark.createDataFrame(rows, pschema)
        base = codes_src(probed)
        if code_proj is not None:
            base = code_proj(base)
        c = base.join(F.broadcast(probes), "cluster_id")
        if allowed is not None:
            c = c.join(allowed.select("vec_id"), "vec_id", "left_semi")
        return c

    depths = {qid: min(max(nprobe, 0), n_clusters) for qid in ranked}
    if not widen:
        return _cand(depths)
    while True:
        counts = {r["query_id"]: r["n"]
                  for r in _cand(depths).groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        starved = [qid for qid, d in depths.items()
                   if counts.get(qid, 0) < k and d < n_clusters]
        if not starved:
            break
        for qid in starved:
            # max(..., d + 1) keeps the step positive for
            # nprobe <= 0 callers (the single-query guard)
            depths[qid] = min(max(depths[qid] * 2, depths[qid] + 1),
                              n_clusters)
    return _cand(depths)


def _upsert_attr_rows(m: dict, new_emb: DataFrame,
                      attrs: DataFrame | None, path: str):
    """Shared attrs contract for the cluster-partitioned upserts: an
    attrs-bearing index requires every upserted row to carry the SAME
    columns — from the ``attrs`` frame, or directly as extra columns
    on the batch (how a streaming feed ships them); a bare batch would
    silently serve NULL attrs that every ``where=`` filter drops.
    Returns ``(attr_col_names, attr_rows_or_None)``."""
    m_attrs = list(m.get("attrs", []))
    if m_attrs:
        src = attrs if attrs is not None else new_emb
        missing = [c for c in m_attrs if c not in src.columns]
        if missing:
            raise ValueError(
                f"vector index {path} stores attribute columns "
                f"{m_attrs}; the batch is missing {missing} — pass "
                f"them via attrs= or as columns on the batch")
        return m_attrs, src.select("vec_id", *m_attrs)
    if attrs is not None:
        raise ValueError(
            f"vector index {path} stores no attribute columns; "
            f"rebuild with attrs= first")
    return [], None


def _attrs_self_carry(spark, path: str, man: dict,
                      new_emb: DataFrame) -> DataFrame | None:
    """The rebuild rung's attrs contract, shared by every maintainer:
    an attrs-bearing index SELF-CARRIES its attribute columns through
    a retrain (read back from the committed codes), so a routine
    rebuild never silently strips filterability — the stripped index
    would raise AnalysisException on the next ``where=`` query and
    silently drop attr columns on later upserts.  On the drift-refusal
    path the batch never reached the codes, so batch ids take their
    attrs from ``new_emb``'s columns when present (the upsert
    contract: a streaming feed ships them on the batch) and everyone
    else from the store.  Returns the ``attrs=`` frame for the
    rebuild writer, or None for an attrs-less index."""
    m_attrs = list(man.get("attrs", []))
    if not m_attrs:
        return None
    attrs_df = _manifest_codes(spark, path, man).select(
        "vec_id", *m_attrs)
    if all(c in new_emb.columns for c in m_attrs):
        attrs_df = new_emb.select("vec_id", *m_attrs) \
            .unionByName(attrs_df.join(
                new_emb.select("vec_id"), "vec_id", "left_anti"))
    # localCheckpoint: the rebuild DELETES/replaces the codes dirs this
    # frame reads from (next-version reclaim), so cut the lineage now
    return attrs_df.localCheckpoint(eager=True)


def _batched_min_recall(spark, queries: list, vectors: DataFrame,
                        k: int, serve) -> int:
    """MIN per-query recall (integer permille) of a batch serving path
    against exact brute force — ONE batched approx serve plus ONE
    batched exact top-k (:func:`_exact_topk`) per ladder rung.  Min, not
    mean: one drifted region is exactly what the monitor must not
    average away.  ``queries``: ``[(qid, [float, ...])]``; ``serve``:
    ``(query_id, embedding)`` DataFrame -> ranked ``(query_id,
    neighbor_id, ...)``."""
    qdf = _queries_frame(spark, queries)
    row = (ann_recall(serve(qdf), _exact_topk(qdf, vectors, k))
           .agg(F.min("recall_permille").alias("r")).collect()[0])
    return int(row["r"])


def _sample_queries(df: DataFrame, n: int) -> list:
    """The first ``n`` vectors by vec_id as ``[(qid, [float, ...])]`` —
    the recall probes' deterministic query sample."""
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in df.select("vec_id", "embedding")
            .orderBy("vec_id").limit(n).collect()]


def _queries_frame(spark, queries: list) -> DataFrame:
    return spark.createDataFrame(
        [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
        "query_id long, embedding array<double>")


def _exact_topk(qdf: DataFrame, vectors: DataFrame, k: int) -> DataFrame:
    """Exact ``(query_id, neighbor_id)`` top-k by round-6 cosine (DESC,
    vec_id ASC) — brute force over the primary store, one windowed
    plan for the whole query batch."""
    return _ranked(
        vectors.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("ne"))
        .join(F.broadcast(qdf.select(
            "query_id", F.col("embedding").alias("qe")))), k,
    ).select("query_id", "neighbor_id")


PQ_M = 8           # subspaces (dim must divide evenly)
PQ_K = 16          # codebook entries per subspace -> 4-bit codes
#                    (the IN-FLIGHT ops' resolution: their DuckDB
#                    oracles unroll one k-means chain per codeword, so
#                    ksub stays small where the differential runs)
PQ_INDEX_KSUB = 256  # STORED-layout default resolution: codes are
#                    packed one byte per subspace regardless, so
#                    ksub=256 uses the byte fully — zero storage cost
#                    — and ADC serving (_pq_adc_frame/_pq_adc_score)
#                    is ksub-independent, so the extra resolution is
#                    free at serve time too.  The cost lives ONLY in
#                    the build (m per-subspace k-means chains scale
#                    with ksub; train_fraction is the lever).  ksub=16
#                    was the r12 default because the literal-walk hat
#                    scaled serving linearly with ksub (measured
#                    20-43 s at 64/256); the planted-cluster sf1
#                    corpus then measured 100-175 permille recall@10 —
#                    code-resolution-limited, unusable as a final
#                    server.
PQ_RERANK_MULT = 8  # PQ quantizes coarser than SQ8 (m bytes vs dim), so
#                     its exact-rerank shortlist defaults 2x deeper —
#                     measured mean recall@10 0.8 at 8x vs 0.6 at 4x on
#                     the sf embeddings, still scanning only m bytes/row


def _pq_train(emb: DataFrame, m: int, k: int, dim: int, n_iter: int):
    """THE PQ trainer (stored writers and in-flight operators): per-subspace
    deterministic k-means.  Returns ``(books, asg_all)`` — the
    UNIT-normalized codeword table ``(subspace, code, centroid)`` and the
    trainer's OWN assignment stream ``(vec_id, subspace, cid)`` (each
    vector's final k-means cluster per subspace: the membership the
    in-flight oracles hash; the stored writers use only the books and
    re-encode against them).  Normalization divides by the exact
    left-fold norm (``core.dot`` order), so the DuckDB oracle reproduces
    every double.

    The books: all ``m`` chains evaluated in ONE job and collected — m*k
    rows — back into a local relation, so the m encode/score branches
    above them never re-run a chain and no cached block outlives the
    call.  The assignment stream is a lazy plan over the same chains.

    SPARSE corpora (e.g. hash embeddings of short texts) have all-zero
    slices in most subspaces; cosine against them is undefined (ANSI
    division by zero), so each chain trains on the NON-ZERO slices only
    and zero slices take the lowest code deterministically — exactly
    the argmax ``_pq_encode`` resolves for them (every score -1, cid-ASC
    tie-break), so trainer assignment and encoder agree.  Dense corpora
    take the unchanged path (the filter keeps every row), so the oracle
    mirror is unaffected.  An ENTIRELY-zero training subspace trains NO
    codewords at all — without a book the encoder would drop the
    subspace and pack SHORT codes that the serving hat later indexes
    past (element_at out of bounds) — so it gets ONE pinned zero
    codeword at code 0: the byte layout stays m-wide and the degenerate
    subspace reconstructs to its true (zero) slice."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books, chains = None, []
    for j in range(m):
        sub_emb = emb.select(
            "vec_id",
            F.slice("embedding", j * sub + 1, sub).alias("embedding"))
        zero = dot(F.col("embedding"), F.col("embedding")) == 0
        nz = sub_emb.filter(~zero)
        assigned = nz.join(
            embedding_kmeans(nz, k, n_iter)
            .select("vec_id", F.col("cluster_id").alias("cid")),
            "vec_id")
        norm = F.sqrt(dot(F.col("centroid"), F.col("centroid")))
        book_j = (
            _quantized_centroids(assigned)
            .select(F.lit(j).alias("subspace"),
                    F.col("cid").alias("code"),
                    F.transform(
                        "centroid",
                        lambda x: x / F.nullif(norm, F.lit(0.0)))
                    .alias("centroid"))
        )
        books = book_j if books is None else books.unionByName(book_j)
        chains.append((j, sub_emb.filter(zero), assigned))
    rows = books.collect()
    present = {int(r["subspace"]) for r in rows}
    rows += [(j, 0, [0.0] * sub) for j in range(m) if j not in present]
    books = emb.sparkSession.createDataFrame(rows, books.schema)
    asg_all = None
    for j, zero_emb, assigned in chains:
        # zero slices take the LOWEST code the subspace's book carries
        # (a 1-row broadcast aggregate) — the same argmax _pq_encode
        # resolves for them, so trainer assignment and encoder agree
        lowest = (books.filter(F.col("subspace") == j)
                  .agg(F.min("code").alias("cid")))
        asg_j = assigned.select(
            "vec_id", F.lit(j).alias("subspace"), "cid") \
            .unionByName(zero_emb.select("vec_id")
                         .join(F.broadcast(lowest))
                         .select("vec_id", F.lit(j).alias("subspace"),
                                 "cid"))
        asg_all = asg_j if asg_all is None else asg_all.unionByName(asg_j)
    return books, asg_all


def _pq_reconstructions(books: DataFrame, asg_all: DataFrame) -> DataFrame:
    """(vec_id, hat): each vector's PQ reconstruction — its m codewords
    concatenated in subspace order.  One broadcast join against the
    m*k codeword table + one groupBy(vec_id)."""
    parts = asg_all.join(
        F.broadcast(books),
        (asg_all["subspace"] == books["subspace"])
        & (asg_all["cid"] == books["code"])
    ).select("vec_id", asg_all["subspace"].alias("j"), "centroid")
    return (
        parts.groupBy("vec_id")
        .agg(F.collect_list(F.struct("j", "centroid")).alias("sc"))
        .select(
            "vec_id",
            F.flatten(F.expr(
                "transform(array_sort(sc, (l, r) -> "
                "case when l.j < r.j then -1 "
                "when l.j > r.j then 1 else 0 end), x -> x.centroid)"))
            .alias("hat"))
    )


def pq_topk(emb: DataFrame, num_queries: int = 8, k: int = 10,
            m: int = PQ_M, ksub: int = PQ_K, dim: int = 64,
            n_iter: int = KMEANS_ITERS,
            rerank_mult: int = PQ_RERANK_MULT) -> DataFrame:
    """In-flight product-quantization ANN — the operator twin of the
    stored ``pq`` serving layout, fully oracle-checkable: train
    the m per-subspace codebooks on the corpus in-pass, score every
    candidate by its PQ RECONSTRUCTION against the full-precision
    queries (asymmetric scoring, like ``sq8_topk``), shortlist
    ``k * rerank_mult`` per query, exact-cosine re-rank.  Same output
    contract as the other ANN paths (query_id, rank, neighbor_id,
    cos_sim).

    Every stage is engine-deterministic: the per-subspace k-means is
    ``embedding_kmeans``'s hash-seeded integer-quantized machinery,
    codeword normalization uses the exact left-fold norm, and the
    scoring doubles follow the shared ``cosine`` op order — so the
    generated DuckDB oracle (m unrolled k-means chains over array
    slices) hash-compares the full result."""
    hat = _pq_reconstructions(*_pq_train(emb, m, ksub, dim, n_iter))
    q = _query_side(emb, num_queries)
    approx = (
        hat.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("hat").alias("nhat"))
        .join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                cosine(F.col("qe"), F.col("nhat")).alias("approx_sim"))
    )
    return _shortlist_rerank(approx, "approx_sim", True, k * rerank_mult,
                             q, emb, k)


def _pq_encode(emb: DataFrame, books: DataFrame, m: int,
               sub: int) -> DataFrame:
    """(vec_id, codes): nearest stored codeword per subspace by the
    trainer's own argmax (round-6 cosine, cid-ASC tie-break) against
    the SERVING codebooks — the one encoding expression shared by the
    index writer and the upsert, so an identical vector always gets
    bit-identical codes."""
    asg_all = None
    for j in range(m):
        sub_emb = emb.select(
            "vec_id",
            F.slice("embedding", j * sub + 1, sub).alias("embedding"))
        cents = (books.filter(F.col("subspace") == j)
                 .select(F.col("code").alias("cid"), "centroid"))
        # _assign's argmax with two extra guards the trainer never
        # needs: an upserted vector CAN be all-zero in a subspace, and
        # a degenerate subspace's pinned codeword IS zero (see the
        # trainer) — either side makes cosine NaN (0/0), and NaN sorts
        # HIGHEST in Spark's double ordering, so an unguarded score
        # would hijack the argmax.  Both score -1 and the cid-ASC
        # tie-break lands them on the lowest code deterministically.
        scored = sub_emb.join(F.broadcast(cents)).select(
            "vec_id", "cid",
            F.when((dot(F.col("embedding"), F.col("embedding")) == 0)
                   | (dot(F.col("centroid"), F.col("centroid")) == 0),
                   F.lit(-1.0))
            .otherwise(F.round(cosine(F.col("embedding"),
                                      F.col("centroid")), 6))
            .alias("cos_sim"))
        asg_j = (
            scored.groupBy("vec_id")
            .agg(F.max_by(
                F.struct("cid", "cos_sim"),
                F.struct(F.col("cos_sim"),
                         (-F.col("cid")).alias("nc"))).alias("best"))
            .select("vec_id", F.lit(j).alias("subspace"),
                    F.col("best.cid").alias("cid"))
        )
        asg_all = asg_j if asg_all is None else asg_all.unionByName(asg_j)
    return (
        asg_all.groupBy("vec_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("subspace", "cid"))).alias("sc"))
        .select(
            "vec_id",
            _sq8_pack(F.expr(
                "transform(sc, x -> cast(x.cid AS smallint))"))
            .alias("codes"))
    )


_PQ_BOOKS_CACHE: dict = {}


def _pq_books(spark, path: str, m_an: dict):
    """Driver-side codebook tensor for a stored PQ index, cached per
    committed manifest (the ``_CENTS_CACHE`` pattern, WITH the content
    fingerprint): ``(books, pnorm)`` where ``books[j][c]`` is the
    codeword (zero-filled for codes k-means lost) and ``pnorm[j][c]``
    its squared norm.  m*k*sub floats — tiny by construction, one
    parquet read per index version per process."""
    key = (path, int(m_an["version"]), m_an["codebooks"],
           _manifest_fingerprint(spark, path, int(m_an["version"]), m_an))
    hit = _PQ_BOOKS_CACHE.get(key)
    if hit is not None:
        return hit
    import numpy as np

    m, dim = int(m_an["m"]), int(m_an["dim"])
    kk = int(m_an["k"])
    sub = dim // m
    rows = spark.read.parquet(f"{path}/{m_an['codebooks']}").collect()
    books = np.zeros((m, kk, sub), dtype=np.float64)
    for r in rows:
        books[int(r["subspace"]), int(r["code"])] = [
            float(x) for x in r["centroid"]]
    pnorm = np.einsum("jcd,jcd->jc", books, books)
    if len(_PQ_BOOKS_CACHE) >= 64:             # bound a long-lived server
        _PQ_BOOKS_CACHE.clear()
    hit = (books, pnorm)
    _PQ_BOOKS_CACHE[key] = hit
    return hit


def _pq_adc_frame(spark, path: str, m_an: dict,
                  queries: list[tuple]) -> DataFrame:
    """Per-query ADC (asymmetric-distance) lookup tables as a SMALL
    DataFrame ``(query_id, pdot, qn)`` — one row per query,
    ``pdot[j][c]`` = dot(query slice j, codeword (j, c)), ``qn`` the
    query norm.  Broadcast-joined to the candidates, per-pair scoring
    becomes m array lookups — decoupling serving cost from the
    codebook resolution ``ksub`` (the r12 inlined-codeword-literal hat
    put m*ksub*sub literals in the plan and serving scaled LINEARLY
    with ksub: measured 20-43 s at ksub=64/256 vs ~3 s at 16; the
    table-in-a-column form is flat).  ``pnorm`` (the query-independent
    squared codeword norms) rides along so the per-pair fold reads
    both cosine halves from the one broadcast row.

    numpy computes the tables (|batch| * m * ksub * sub multiply-adds
    — ~0.1 ms per query at m=8, ksub=256, dim=64; deterministic for a
    given input, and the decomposed score feeds only the SHORTLIST —
    the returned cos_sim always comes from the exact full-precision
    re-rank, so ulp-level association differences vs the in-flight
    fold cannot reach the contract surface)."""
    import numpy as np

    from pyspark.sql import types as T

    books, pnorm = _pq_books(spark, path, m_an)
    m, dim = int(m_an["m"]), int(m_an["dim"])
    sub = dim // m
    pn = [[float(v) for v in row] for row in pnorm]
    rows = []
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        pdot = np.einsum("jd,jcd->jc", q.reshape(m, sub), books)
        rows.append((qid, [[float(v) for v in r] for r in pdot], pn,
                     float(np.sqrt(q @ q))))
    return spark.createDataFrame(rows, T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("pdot", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("pnorm", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("qn", T.DoubleType()),
    ]))


def _pq_adc_zip(col: str, m: int) -> F.Column:
    """``[(code, subspace_1based), ...]`` pairs for the lookup folds."""
    return F.zip_with(
        F.col(col), F.sequence(F.lit(1), F.lit(m)),
        lambda c, j: F.struct(c.alias("c"), j.alias("j")))


def _pq_adc_candidates(spark, path: str, m_an: dict,
                       cand: DataFrame, with_norm: bool = False):
    """Project the PER-CANDIDATE half of ADC scoring below the query
    fan-out: unpack the m-byte codes ONCE per stored row (``ucodes``),
    so the broadcast join above duplicates one small int array per
    probing query instead of re-running the hex/split/conv unpack per
    pair (the r12 ``_sq8_unpack``-placement lesson, applied to ADC;
    the broadcast join is the projection barrier CollapseProject
    cannot cross).

    ``with_norm`` also folds the candidate's reconstruction norm
    ``hn`` down here, from the codeword-norm table shipped as a
    ONE-ROW broadcast frame — the FLAT scans' placement: over the
    full-corpus scan the extra broadcast stage amortizes and halving
    the per-pair fold wins (measured 6.8 -> 4.6 s for a 16-query batch
    over the 20k-vector sf1 flat pq scan), while on the small PROBED
    ivf_pq scans the same stage costs more than the fold it saves
    (measured 2.6 -> 3.7 s) — so the IVF paths leave the norm a
    per-pair fold (:func:`_pq_adc_score`).  NOT an m x ksub literal:
    2k inlined scalar nodes blew past whole-stage codegen's
    method-size limit at the ksub=256 default and dropped the whole
    stage to interpreted mode (measured 1.9 -> 4.5 s)."""
    m = int(m_an["m"])
    keep = [c for c in cand.columns if c != "codes"]
    out = (cand
           .withColumn("ucodes", _sq8_unpack(F.col("codes"), m))
           .select(*keep, "ucodes"))
    if not with_norm:
        return out
    from pyspark.sql import types as T

    _, pnorm = _pq_books(spark, path, m_an)
    pn_df = spark.createDataFrame(
        [([[float(v) for v in row] for row in pnorm],)],
        T.StructType([T.StructField(
            "pnorm", T.ArrayType(T.ArrayType(T.DoubleType())))]))
    hn = F.sqrt(F.aggregate(
        _pq_adc_zip("ucodes", m), F.lit(0.0),
        lambda a, x: a + F.element_at(
            F.element_at("pnorm", x["j"]), x["c"] + 1)))
    return (out.join(F.broadcast(pn_df))
            .withColumn("hn", hn)
            .drop("pnorm"))


def _pq_adc_score(m: int, with_norm: bool = False) -> F.Column:
    """Per-pair PQ score over the pre-unpacked ``ucodes`` and the
    broadcast-joined ADC row — the decomposed cosine
    ``sum(pdot) / qn / sqrt(sum(pnorm))``, algebraically
    dot(q, hat)/|q|/|hat| for hat = the concatenated codewords, i.e.
    the retired literal-walk hat's score without materializing hat;
    per pair at most 2m element_at lookups, independent of ksub.
    ``with_norm`` means the candidate rows already carry ``hn``
    (:func:`_pq_adc_candidates`), leaving m lookups per pair.  The
    divide inherits the old path's zero-norm semantics (an
    all-zero-codeword candidate scores NULL and sorts out of the
    shortlist)."""
    if with_norm:
        nm = F.aggregate(
            _pq_adc_zip("ucodes", m), F.lit(0.0),
            lambda a, x: a + F.element_at(
                F.element_at("pdot", x["j"]), x["c"] + 1))
        return nm / F.col("qn") / F.col("hn")
    return F.aggregate(
        _pq_adc_zip("ucodes", m),
        F.struct(F.lit(0.0).alias("nm"), F.lit(0.0).alias("dn")),
        lambda a, x: F.struct(
            (a["nm"] + F.element_at(F.element_at("pdot", x["j"]),
                                    x["c"] + 1)).alias("nm"),
            (a["dn"] + F.element_at(F.element_at("pnorm", x["j"]),
                                    x["c"] + 1)).alias("dn")),
        lambda a: a["nm"] / F.col("qn") / F.sqrt(a["dn"]))


def embedding_kmeans_iterate(emb: DataFrame, k: int = KMEANS_K,
                             n_iter: int = 10) -> DataFrame:
    """The many-iterations k-means: same per-step math as
    ``embedding_kmeans`` (so the two agree exactly for equal ``n_iter``)
    but with the assignment table lineage-truncated each round via an
    eager ``localCheckpoint`` — the unrolled static plan doubles in
    depth per iteration, which Catalyst re-analyzes superlinearly past
    a handful of rounds, while the checkpointed loop stays O(1) plan
    depth per step (the same trade dedup_clusters makes; use reliable
    ``checkpoint()`` on a real cluster for fault tolerance).

    Per-iteration cost is unchanged: one k-row centroid broadcast + one
    map-side-combined argmax groupBy + one 64*k-row aggregation.
    """
    assigned = _assign(emb, _kmeans_seeds(emb, k)) \
        .localCheckpoint(eager=True)
    for _ in range(n_iter - 1):
        cents = _quantized_centroids(assigned)
        nxt = _assign(emb, cents).localCheckpoint(eager=True)
        assigned.unpersist()
        assigned = nxt
    return assigned.select(
        "vec_id", F.col("cid").alias("cluster_id"), "cos_sim")


def ann_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Index-quality monitor: per-query recall of an approximate ANN
    result against the exact one — the metric a serving deployment
    tracks to decide when an IVF/LSH index needs more probes or a
    rebuild (after enough upserts drift the centroids).

    Both inputs are ranked result tables ``(query_id, neighbor_id,
    ...)`` as every topk operator here returns.  Output: one row per
    query — ``(query_id, n_exact, n_hit, recall_permille)`` with recall
    as integer permille (engine-exact).  Queries the approximate index
    MISSED entirely still appear (n_hit = 0): a left join from the
    exact side, never from the approximate side.

    Scale: two distinct-pair projections and one hash join on
    (query_id, neighbor_id) — result-table sized, independent of the
    corpus.
    """
    e = exact.select("query_id", "neighbor_id").distinct()
    a = (approx.select("query_id", "neighbor_id").distinct()
         .withColumn("_hit", F.lit(1)))
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
            .alias("n_hit"),
        )
        .withColumn(
            "recall_permille",
            F.expr("n_hit * 1000 div greatest(n_exact, 1)").cast("long"))
    )


# ---------------------------------------------------------------------------
# IVF x PQ — coarse partition pruning over product-quantized codes (FAISS's
# IVFPQ).  Codebooks quantize the RAW vectors, not residuals: every scorer
# here is cosine (direction-only), where residual encoding loses its L2
# meaning — the same raw-value choice as ivf_sq8's quantizer.


def ivf_pq_topk(emb: DataFrame, num_queries: int = 8, k: int = 10,
                nprobe: int = 2, kc: int = KMEANS_K, m: int = PQ_M,
                ksub: int = PQ_K, dim: int = 64,
                n_iter: int = KMEANS_ITERS,
                rerank_mult: int = PQ_RERANK_MULT) -> DataFrame:
    """In-flight IVF x PQ ANN — the operator twin of the stored
    ``ivf_pq`` serving layout, fully oracle-checkable:
    coarse-cluster the corpus (``embedding_kmeans`` — hash-seeded,
    integer-quantized, engine-deterministic), probe each query's
    ``nprobe`` best clusters by round-6 centroid cosine, score ONLY the
    probed clusters' candidates by their PQ RECONSTRUCTION against the
    full-precision query (asymmetric scoring, ``pq_topk``'s hat), then
    exact-cosine re-rank the ``k * rerank_mult`` shortlist.  Output
    contract: ``(query_id, rank, neighbor_id, cos_sim)``.

    Probing uses the centroids of the FINAL assignment (one update step
    fresher: the refit centroids of the IVF writers' own trainer,
    :func:`_ivf_train`) — the same centroid table the ``ivf_pq`` writer
    stores.  Cluster MEMBERSHIP here is
    the trainer's own final assignment (the ``pq_topk`` convention:
    codes/membership one step staler than the serving geometry), while
    the stored layout re-assigns against the stored centroids — so the
    two agree on geometry but can differ on boundary vectors, exactly
    like ``pq_topk`` vs the stored ``pq`` kind's ``index_topk``.

    Scale: candidate volume is nprobe/kc of ``pq_topk``'s — the probe
    table is (queries x nprobe) rows riding broadcast, and with the
    stored layout's cluster-partitioned codes the unprobed clusters are
    never read at all."""
    assigned, cents = _ivf_train(emb.select("vec_id", "embedding"), kc,
                                 n_iter, 1.0, refit=True)
    q = _query_side(emb, num_queries)
    probe = _probe(q, cents, nprobe)
    hat = _pq_reconstructions(*_pq_train(emb, m, ksub, dim, n_iter))
    cand = hat.join(assigned, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "cluster_id", "hat")
    approx = (
        cand.join(F.broadcast(probe),
                  (cand["cluster_id"] == probe["cluster_id"])
                  & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "neighbor_id",
                cosine(F.col("qe"), F.col("hat")).alias("approx_sim"))
    )
    return _shortlist_rerank(approx, "approx_sim", True, k * rerank_mult,
                             q, emb, k)


# ---------------------------------------------------------------------------
# Binary quantization (BQ) — ONE SIGN BIT per dimension (dim=64 -> 8
# bytes/vector, 1/32 of float32), candidates ranked by Hamming distance
# (xor + popcount: no floats until the exact re-rank).  Sign quantization
# is DATA-INDEPENDENT — nothing trains, nothing drifts.  Bits pack into TWO
# 32-bit halves so neither engine ever touches a sign-bit edge case.

BQ_RERANK_MULT = 8   # BQ quantizes coarsest of all (1 bit/dim) — same
#                      deepened exact-rerank shortlist as PQ


def _bq_half(embedding, lo: int) -> F.Column:
    """One packed 32-bit half: bit i set iff dimension ``lo + i + 1``
    is strictly positive.  The bits are distinct powers of two, so SUM
    equals OR and stays exact in BIGINT — associative integer addition,
    the engine-exact trick the centroid sums use."""
    return F.expr(
        f"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + "
        f"IF(element_at({embedding}, {lo} + i + 1) > 0D, "
        f"shiftleft(1L, i), 0L))")


def _bq_hamming(lo_a, hi_a, lo_b, hi_b) -> F.Column:
    return (F.bit_count(lo_a.bitwiseXOR(lo_b))
            + F.bit_count(hi_a.bitwiseXOR(hi_b))).cast("int")


def bq_topk(emb: DataFrame, num_queries: int = 8, k: int = 10,
            dim: int = 64,
            rerank_mult: int = BQ_RERANK_MULT) -> DataFrame:
    """In-flight binary-quantization ANN — the operator twin of the
    stored ``bq`` serving layout, fully oracle-checkable: every
    vector collapses to dim sign bits, candidates rank by Hamming
    distance to the query's bits (ASC, neighbor_id tie-break), the
    ``k * rerank_mult`` shortlist exact-cosine re-ranks.  Output
    contract: ``(query_id, rank, neighbor_id, cos_sim)``.

    Everything before the re-rank is INTEGER: packing is an exact sum
    of distinct powers of two, Hamming is xor + popcount — no float
    enters until the round-6 cosine, so the DuckDB oracle reproduces
    every row bit-for-bit.

    Scale: the candidate scan reads 8 bytes/vector (two BIGINT halves)
    and the scoring is two xors + two popcounts per pair — the
    cheapest possible first-pass filter; at 100 TB this is the layout
    you put IN FRONT of sq8/pq when even byte codes are too much scan."""
    # the stored bq codec's own encode and batch score over the
    # in-memory frame; only the self-pair exclusion is the operator's
    _BQ_CODEC.check_dim(dim)
    q = _query_side(emb, num_queries)
    approx = _BQ_CODEC.batch_score(
        None, None, None, _BQ_CODEC.encode(None, emb, None),
        q.withColumnRenamed("qe", "embedding"), None, False,
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return _shortlist_rerank(approx, _BQ_CODEC.score_col,
                             _BQ_CODEC.score_desc, k * rerank_mult, q,
                             emb, k)


def _bq_query_bits(query_vec: list[float]) -> tuple[int, int]:
    lo = sum(1 << i for i in range(32) if query_vec[i] > 0)
    hi = sum(1 << i for i in range(32) if query_vec[32 + i] > 0)
    return lo, hi


# ---------------------------------------------------------------------------
# Index observability — the ops counterpart of the maintenance loops:
# everything an operator needs to DECIDE (compact? vacuum? bump nprobe?
# rebuild?) surfaced as data, never by prodding index internals.


def index_stats(spark, path: str) -> dict:
    """One JSON-able snapshot of a stored vector index's health: kind,
    dim, committed version + retained-version count, vector count,
    codes-dir fragmentation (the compaction signal the streaming
    maintainer thresholds on), scannable bytes per vector, and — for
    the cluster-partitioned kinds — cluster count and balance
    (max/mean size, integer permille; heavy imbalance means the coarse
    centroids have drifted from the data distribution and probing the
    big clusters is paying for it — the rebuild signal BEFORE recall
    visibly sags).

    Cost: one manifest read + one codes count + (IVF kinds) one k-row
    groupBy — safe to run per maintenance batch."""
    from ..jobs.versioned import list_versions

    m = _index_manifest(spark, path)
    spec = _kind_of(m, path)
    codes = _manifest_codes(spark, path, m)
    out = {
        "kind": spec.name, "dim": int(m["dim"]),
        "version": int(m["version"]),
        "n_versions_retained": len(list_versions(spark, path)),
        "n_vectors": codes.count(),
        "n_codes_dirs": len(m["codes"]),
        "code_bytes_per_vector": spec.codec.code_bytes(m),
        "n_retired_clusters": len(m.get("excluded_clusters", [])),
        "attrs": list(m.get("attrs", [])),
    }
    if spec.ivf:
        # the probe operating point: the committed default_nprobe
        # (tune_index / a maintainer's bump), or the constant fallback
        # an UNTUNED index serves at — `tuned` says which.  Emitted
        # for the IVF kinds ONLY: a flat sq8/pq/bq layout has no probe
        # knob, and reporting default_nprobe/tuned=False there reads
        # as an untuned operating point an operator should go fix
        out["default_nprobe"] = int(
            m.get("default_nprobe", DEFAULT_NPROBE))
        out["tuned"] = "default_nprobe" in m
    # the re-rank operating point — EVERY kind has this knob (it is
    # the flat kinds' ONLY quality knob); `rerank_tuned` says whether
    # tune_index committed it or the kind constant is in force
    out["default_rerank_mult"] = _resolve_rerank(m, None)
    out["rerank_tuned"] = "default_rerank_mult" in m
    if "cluster_id" in codes.columns:
        sizes = [int(r["n"]) for r in
                 codes.groupBy("cluster_id")
                 .agg(F.count(F.lit(1)).alias("n")).collect()]
        mean = sum(sizes) / len(sizes)
        out.update(
            n_clusters=len(sizes),
            cluster_size_min=min(sizes),
            cluster_size_max=max(sizes),
            cluster_imbalance_permille=int(1000 * max(sizes) / mean),
        )
    return out


def _nprobe_ladder(n_clusters: int) -> tuple:
    """Geometric probe-depth grid 1, 2, 4, ... capped by (and always
    including) the cluster count — the default sweep for
    ``index_recall_curve``/``tune_index`` now that the IVF writers
    derive k from the corpus (a fixed (1,2,4,8) grid can't even reach
    full probe on a 141-cluster index)."""
    depths, d = [], 1
    while d < n_clusters:
        depths.append(d)
        d *= 2
    depths.append(int(n_clusters))
    return tuple(depths)


def _rerank_ladder(base: int, k: int, n_vectors: int) -> tuple:
    """Geometric rerank-depth grid ``base, 2*base, ...`` ending at the
    first depth whose ``k * mult`` shortlist covers the whole corpus —
    the degenerate point where the exact re-rank sees every candidate
    (recall 1000 by construction), so the sweep always reaches the
    target exactly as the nprobe ladder always reaches full probe.
    The honest end of the ladder is also the honest COST story: a
    flat kind tuned to its deepest rung is serving a brute-force
    re-rank and the curve says so."""
    depths, d = [], max(1, int(base))
    while d * k < n_vectors:
        depths.append(d)
        d *= 2
    depths.append(d)
    return tuple(depths)


def _recall_points(spark, path: str, vectors: DataFrame,
                   num_queries: int, k: int,
                   points: list[tuple]) -> list[dict]:
    """Measure MIN/mean sampled recall@k at each ``(nprobe,
    rerank_mult)`` operating point — the shared engine behind
    :func:`index_recall_curve` and both of :func:`tune_index`'s rungs:
    the first ``num_queries`` stored vectors serve as queries, exact
    brute force over the primary store is truth (one windowed plan,
    checkpointed), and each point is ONE :func:`index_topk_batch` plan
    over the whole sample (per-query equal to the single path, pinned
    by tests).  ``None`` in either slot means "resolve the committed
    default", exactly as in serving."""
    qdf = _queries_frame(spark, _sample_queries(vectors, num_queries))
    exact = _exact_topk(qdf, vectors, k).localCheckpoint(eager=True)
    rows = []
    for np_, rm in points:
        approx = index_topk_batch(spark, path, qdf, vectors, k=k,
                                  nprobe=np_, rerank_mult=rm)
        rec = (ann_recall(approx, exact)
               .agg(F.min("recall_permille").alias("mn"),
                    F.avg("recall_permille").alias("mean"))
               .collect()[0])
        row = {"nprobe": np_,
               "min_recall_permille": int(rec["mn"]),
               "mean_recall_permille": int(rec["mean"])}
        if rm is not None:
            row["rerank_mult"] = int(rm)
        rows.append(row)
    return rows


def index_recall_curve(spark, path: str, vectors: DataFrame,
                       num_queries: int = 4, k: int = 10,
                       nprobes: tuple | None = None,
                       rerank_mults: tuple | None = None) -> list[dict]:
    """Recall-vs-depth sweep for a stored index — the data an operator
    reads to PICK the operating point instead of guessing.  IVF kinds
    sweep PROBE depth (rows carry ``nprobe``); the flat kinds sweep
    their one quality knob, the exact-RERANK depth (rows carry
    ``nprobe: None`` plus ``rerank_mult`` — before r13 they measured
    only the single constant-depth point).  Each row reports min AND
    mean sampled recall@k — min, because one drifted region is exactly
    what a mean averages away.

    ``nprobes=None`` (default) sweeps the geometric ladder 1, 2, 4,
    ... up to the index's own cluster count (:func:`_nprobe_ladder`),
    so the sweep always reaches full probe at any geometry;
    ``rerank_mults=None`` on a flat kind sweeps the kind's constant
    default, 2x, 4x, ... up to the depth whose shortlist covers the
    corpus (:func:`_rerank_ladder`), so it always reaches exact
    recall.  On an IVF kind ``rerank_mults`` crosses with the probe
    grid (one row per (nprobe, rerank) pair) — the 2-D view
    ``tune_index``'s second rung consumes.

    Cost: one batch-serve plan per point plus one exact pass — a
    monitor you run per maintenance batch or from the CLI, never per
    serving query."""
    m = _index_manifest(spark, path)
    spec = _kind_of(m, path)
    if spec.ivf:
        if nprobes is None:
            nprobes = _nprobe_ladder(spark.read.parquet(
                f"{path}/{m['centroids']}").count())
        rms = list(rerank_mults) if rerank_mults is not None else [None]
        points = [(int(np_), rm) for rm in rms for np_ in nprobes]
    else:
        if rerank_mults is None:
            rerank_mults = _rerank_ladder(
                spec.codec.rerank_default, k, vectors.count())
        points = [(None, int(rm)) for rm in rerank_mults]
    return _recall_points(spark, path, vectors, num_queries, k, points)


def tune_index(spark, path: str, vectors: DataFrame,
               target_recall_permille: int = 950,
               num_queries: int = 4, k: int = 10,
               nprobes: tuple | None = None,
               rerank_mults: tuple | None = None) -> dict:
    """Close the observability loop: measure the recall curve
    (:func:`index_recall_curve`), pick the CHEAPEST measured operating
    point whose MIN sampled recall meets the target, and commit it to
    the manifest — ``default_nprobe`` (IVF kinds) and/or
    ``default_rerank_mult`` — which every later serving call resolves
    when the caller passes ``None``.  Min, not mean: one drifted region
    is exactly what a mean averages away.

    Two rungs, cheapest knob first:

    - FLAT kinds: sweep the exact-rerank ladder, commit the smallest
      depth meeting the target as ``default_rerank_mult`` — the knob
      that decides what a flat layout's recall IS (bq at sf1 goes
      181 -> 900+ permille on rerank depth alone).  The ladder ends at
      the corpus-covering depth, so the target is always reachable on
      the default grid; the curve records the honest COST.
    - IVF kinds: sweep probe depth at the committed rerank first (the
      pruning knob — cheaper rows scanned beats deeper re-rank); if no
      probe depth reaches the target (resolution-limited within the
      probed clusters), the SECOND RUNG sweeps the rerank ladder:
      each deeper rerank is ceiling-checked at full probe (one point),
      and the first depth whose ceiling clears the target gets a
      nested probe sweep; the (nprobe, rerank_mult) pair commits
      together in ONE manifest bump.

    The commit is a manifest-only version bump under the single-rename
    crash protocol.  Decisions AS DATA, the curve riding along in each:

    - ``{"decision": "noop"}`` — the pick is already EXPLICITLY pinned
      in the manifest; no version written (a pick equal to an untuned
      constant fallback still commits: pin the measured point).
    - ``{"decision": "tuned", ...}`` — committed; carries ``nprobe``
      and/or ``rerank_mult`` plus ``version``.
    - ``{"decision": "target_unreachable"}`` — no measured point meets
      the target, NOTHING written (reachable only with a caller-pinned
      grid or when every second-rung ceiling falls short).  The lever
      is then :func:`maintain_index`'s rebuild rung, which for the PQ
      kinds RAISES code resolution to ``PQ_INDEX_KSUB``."""
    m = _index_manifest(spark, path)
    spec = _kind_of(m, path)
    if not 0 < target_recall_permille <= 1000:
        raise ValueError(
            f"target_recall_permille must be in (0, 1000] "
            f"(got {target_recall_permille})")

    def commit(**point) -> dict:
        # the shared operating-point commit skips ONLY when the setting
        # is explicitly present and equal — a pick equal to the constant
        # fallback on an untuned manifest still pins, so a later
        # constant change can't silently move a tuned index
        version = _persist_operating_point(spark, path, **point)
        out.update(point)
        if version == int(m["version"]):
            out["decision"] = "noop"
        else:
            out.update(decision="tuned", version=version)
        return out

    if not spec.ivf:
        curve = index_recall_curve(
            spark, path, vectors, num_queries=num_queries, k=k,
            rerank_mults=(tuple(sorted(set(rerank_mults)))
                          if rerank_mults is not None else None))
        out = {"kind": spec.name, "curve": curve,
               "target_recall_permille": target_recall_permille,
               "previous_rerank_mult": _resolve_rerank(m, None)}
        pick = next(
            (r["rerank_mult"] for r in curve
             if r["min_recall_permille"] >= target_recall_permille),
            None)
        if pick is None:
            out["decision"] = "target_unreachable"
            return out
        return commit(rerank_mult=int(pick))
    curve = index_recall_curve(spark, path, vectors,
                               num_queries=num_queries, k=k,
                               nprobes=(tuple(sorted(set(nprobes)))
                                        if nprobes is not None
                                        else None))
    current = int(m.get("default_nprobe", DEFAULT_NPROBE))
    out = {"kind": spec.name, "curve": curve,
           "target_recall_permille": target_recall_permille,
           "previous_nprobe": current}
    pick = next((r["nprobe"] for r in curve
                 if r["min_recall_permille"] >= target_recall_permille),
                None)
    if pick is not None:
        return commit(nprobe=int(pick))
    # SECOND RUNG — probing deeper cannot reach the target (the codes
    # cannot rank the true neighbors within the probed clusters), so
    # the remaining serving-time lever is a deeper exact re-rank.
    # Ceiling-check each deeper rerank at FULL probe (one point: if
    # recall at full probe still misses, no probe depth at this rerank
    # can reach it), then nest a probe sweep inside the first rung
    # that clears.
    n_clusters = max(r["nprobe"] for r in curve)
    cur_rm = _resolve_rerank(m, None)
    ladder = (tuple(sorted(set(rerank_mults)))
              if rerank_mults is not None
              else _rerank_ladder(spec.codec.rerank_default, k,
                                  vectors.count()))
    out["rerank_curve"] = []
    for rm in (r for r in ladder if r > cur_rm):
        ceiling = _recall_points(spark, path, vectors, num_queries, k,
                                 [(n_clusters, rm)])[0]
        out["rerank_curve"].append(ceiling)
        if ceiling["min_recall_permille"] < target_recall_permille:
            continue
        sub = _recall_points(
            spark, path, vectors, num_queries, k,
            [(np_, rm) for np_ in _nprobe_ladder(n_clusters)
             if np_ < n_clusters])
        out["rerank_curve"].extend(sub)
        np_pick = next(
            (r["nprobe"] for r in sub
             if r["min_recall_permille"] >= target_recall_permille),
            n_clusters)
        return commit(nprobe=int(np_pick), rerank_mult=int(rm))
    out["decision"] = "target_unreachable"
    return out


def rebalance_index(spark, path: str, vectors: DataFrame, *,
                    max_imbalance_permille: int = 2000,
                    n_iter: int = KMEANS_ITERS,
                    train_fraction: float = 1.0) -> dict:
    """Split the HOTTEST cluster of a cluster-partitioned index in two
    — the O(hot cluster) answer to IVF list skew, between the bump
    rung (which papers over skew by probing more) and a full rebuild
    (which re-trains everything over the whole corpus).  At 100 TB an
    upsert feed concentrated in one embedding region grows one list
    until every probe that ranks it pays max-list-size scan cost;
    ``index_stats`` measures that as ``cluster_imbalance_permille``,
    and this is the targeted repair its docstring promises.

    Shape: the hot cluster's CODES DO NOT CHANGE — quantized codes
    depend on the quantizer/codebooks/signs, not on list membership —
    so the split rewrites only (vec_id, <codes cols>) under two new
    cluster ids: 2-means over the hot cluster's true embeddings (read
    from ``vectors``, the primary-store contract the maintainers use),
    assignment, one partitioned write of the MOVED rows, a k-row
    centroid table swap (old centroid out, two sub-centroids in), one
    manifest rename.  Old dirs are immutable, so the retired cluster
    id is masked via the manifest's ``excluded_clusters`` list — a
    static partition filter every codes reader applies
    (``_manifest_codes``); ``compact_index`` later drops the masked
    rows physically and clears the list.  Serving never probes the
    retired id anyway (it is gone from the centroid table), the tuned
    ``default_nprobe`` survives (cluster GEOMETRY is refined, not
    retrained; a full probe moves to the new cluster count so it stays
    full), and the same crash protocol holds: an interrupted split
    leaves the previous version fully served.

    Decisions as data: ``flat_kind`` (nothing is cluster-partitioned),
    ``balanced`` (max/mean size <= the threshold — nothing to split),
    ``split`` (with the retired id, the two new ids, and the sizes),
    ``unsplittable`` (2-means over a degenerate hot list collapsed to
    one sub-cluster — NOTHING committed; the hot list is
    near-identical vectors and splitting cannot reduce it).
    One split per call — cost stays bounded by the one hot list; call
    again (or let the maintenance job loop) if the next-hottest still
    crosses the threshold."""
    from ..jobs.versioned import _write_manifest

    m = _index_manifest(spark, path)
    spec = _kind_of(m, path)
    if not spec.ivf:
        return {"decision": "flat_kind", "kind": spec.name}
    codes = _manifest_codes(spark, path, m)
    sizes = {int(r["cluster_id"]): int(r["n"])
             for r in codes.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    mean = sum(sizes.values()) / len(sizes)
    hot_cid = max(sorted(sizes), key=lambda c: sizes[c])
    imb = int(1000 * sizes[hot_cid] / mean)
    out = {"kind": spec.name, "n_clusters": len(sizes),
           "imbalance_permille": imb,
           "max_imbalance_permille": max_imbalance_permille,
           "cluster_id": hot_cid, "cluster_size": sizes[hot_cid]}
    if imb <= max_imbalance_permille or sizes[hot_cid] < 2:
        out["decision"] = "balanced"
        return out
    hot_ids = codes.filter(F.col("cluster_id") == hot_cid) \
        .select("vec_id")
    hot_emb = (vectors.select("vec_id", "embedding")
               .join(hot_ids, "vec_id", "left_semi")
               .localCheckpoint(eager=True))
    n_found = hot_emb.count()
    if n_found != sizes[hot_cid]:
        raise ValueError(
            f"rebalance_index: {sizes[hot_cid] - n_found} of cluster "
            f"{hot_cid}'s vec_ids are absent from `vectors` — pass "
            f"the full primary store (the split trains and assigns "
            f"on true embeddings)")
    cents2 = _trained_centroids(hot_emb, 2, n_iter, train_fraction)
    stored_cents = spark.read.parquet(f"{path}/{m['centroids']}")
    new_base = int(stored_cents.agg(
        F.max("cluster_id").alias("mx")).collect()[0]["mx"]) + 1
    asg = (
        _assign(hot_emb, cents2)
        .select("vec_id", "embedding",
                (F.col("cid") + F.lit(new_base)).alias("cid"))
        .localCheckpoint(eager=True)
    )
    # a degenerate hot list (near-identical embeddings) can collapse
    # 2-means into ONE sub-cluster — committing that would report a
    # phantom new id, leave the imbalance unreduced, and spin a cron
    # loop re-splitting the same cluster forever.  Refuse as data.
    sub_ids = sorted(int(r["cid"]) for r in
                     asg.select("cid").distinct().collect())
    if len(sub_ids) < 2:
        out.update(decision="unsplittable", n_sub_clusters=len(sub_ids))
        return out
    version = _next_index_version(spark, path)
    base = f"data/v{version:06d}"
    code_cols = [c for c in codes.columns if c != "cluster_id"]
    moved = (
        codes.filter(F.col("cluster_id") == hot_cid)
        .drop("cluster_id")
        .join(asg.select("vec_id", F.col("cid").alias("cluster_id")),
              "vec_id")
        .select(*code_cols, "cluster_id")
    )
    _write_codes(moved, f"{path}/{base}/codes", True)
    sub_cents = _quantized_centroids(asg.select("cid", "embedding"))
    (stored_cents.filter(F.col("cluster_id") != hot_cid)
     .unionByName(sub_cents.select(
         F.col("cid").alias("cluster_id"), "centroid"))
     .coalesce(1).write.mode("error")
     .parquet(f"{path}/{base}/centroids"))
    excluded = sorted(set(m.get("excluded_clusters", []))
                      | {int(hot_cid)})
    nxt = {**m, "version": version,
           "codes": m["codes"] + [f"{base}/codes"],
           "centroids": f"{base}/centroids",
           "excluded_clusters": excluded}
    n_cents = stored_cents.count()
    if int(m.get("default_nprobe", -1)) == n_cents:
        # a tuned FULL probe stays full: the split adds one cluster
        nxt["default_nprobe"] = n_cents + 1
    _write_manifest(spark, path, version, nxt)
    out.update(decision="split", version=version,
               new_cluster_ids=sub_ids,
               n_vectors_moved=n_found)
    return out


# ---------------------------------------------------------------------------
# Stored vector indexes: ONE core over two axes.  Every manifest-committed
# layout is a CODEC (how a vector becomes scannable code, and how a
# candidate's code scores against a query) times a PARTITION LAYER (flat:
# the codes table is scanned whole; IVF: codes hive-partitioned by k-means
# cluster, a query reads only its nprobe best clusters).  INDEX_KINDS is
# the registry of the seven kinds; write / serve / batch-serve / upsert /
# maintain are one function each, reading the kind from the manifest.


class _Codec:
    """A stored-layout quantizer.  Besides the defaults below, each codec
    implements ``encode(arts, emb, geom)`` -> ``(vec_id, *code_cols)``
    (the ONE encoding expression writer and upsert share, so an
    identical vector re-encodes bit-identically), ``code_bytes(man)``,
    ``single_score(...)`` -> ``(neighbor_id, <score_col>)`` for one
    query's candidates, and ``batch_score(...)`` -> ``(query_id,
    neighbor_id, <score_col>)``: flat candidates cross the broadcast
    query side, IVF candidates already carry the ``query_id`` of every
    query that probed them.  Trained artifacts are written beside the
    codes under ``data/v<N>/`` and referenced by manifest key."""

    code_cols: tuple = ("codes",)    # the scannable code columns
    artifacts: tuple = ()            # trained artifact dirs, by manifest key
    score_col = "approx_sim"         # candidate score column ...
    score_desc = True                # ... and its nearest-first direction
    rerank_default = SQ_RERANK_MULT  # untuned exact-rerank depth
    retrainable = True               # a rebuild can move the quantizer
    # staleness of the trained artifact is visible ONLY to a recall probe
    # (PQ codebooks); SQ8 range drift is screened at upsert time and BQ
    # trains nothing, so their flat layouts have no maintenance ladder
    silent_drift = False

    def params(self, m: int, ksub: int) -> dict:
        """Geometry the manifest records beyond ``dim``."""
        return {}

    def check_dim(self, dim: int) -> None:
        pass

    def train(self, emb: DataFrame, geom: dict, n_iter: int,
              train_fraction: float) -> dict:
        """``{artifact: DataFrame}`` learned from ``emb``."""
        return {}

    def stored(self, spark, path: str, man: dict) -> dict:
        return {a: spark.read.parquet(f"{path}/{man[a]}")
                for a in self.artifacts}

    def drift(self, arts: dict, new_emb: DataFrame, dim: int,
              tol: float) -> list[int] | None:
        """Dims an upsert batch drifted on (non-empty = refuse the
        batch), or None when the codec has no screen."""
        return None

    def ivf_code_proj(self, spark, path: str, man: dict):
        """Per-candidate projection applied to the probed codes BELOW
        the IVF query fan-out (:func:`_batch_candidates`), or None."""
        return None

    def rebuild_params(self, man: dict, out: dict) -> dict:
        """Writer overrides for the maintenance ladder's rebuild rung."""
        return {}


class _SQ8(_Codec):
    """One byte per dimension against a corpus-trained per-dim [min, max]
    quantizer; a candidate scores by the cosine of its reconstruction
    against the full-precision query (asymmetric scoring)."""

    artifacts = ("quantizer",)

    def train(self, emb, geom, n_iter, train_fraction):
        # full-corpus regardless of train_fraction: min/max over a sample
        # would under-cover the range and clamp real values, and the
        # stats aggregation is one map-side-combinable pass
        return {"quantizer": _sq8_stats(emb, geom["dim"])}

    def encode(self, arts, emb, geom):
        return emb.join(F.broadcast(arts["quantizer"])).select(
            "vec_id",
            _sq8_pack(_sq8_codes(F.col("embedding"), F.col("mns"),
                                 F.col("mxs"), int(geom["dim"])))
            .alias("codes"))

    def drift(self, arts, new_emb, dim, tol):
        return _sq8_drifted_dims(arts["quantizer"], new_emb, dim, tol)

    def code_bytes(self, man):
        return int(man["dim"])

    def single_score(self, spark, path, man, cand, query_vec, ivf):
        dim = int(man["dim"])
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        return (
            cand.join(F.broadcast(self.stored(spark, path, man)
                                  ["quantizer"]))
            .withColumn("ucodes", _sq8_unpack(F.col("codes"), dim))
            .select(F.col("vec_id").alias("neighbor_id"),
                    cosine(q, _sq8_reconstruct(F.col("ucodes"), dim))
                    .alias("approx_sim")))

    def batch_score(self, spark, path, man, cand, queries, q, ivf):
        dim = int(man["dim"])
        # NOTE measured trade (r11): materializing the reconstruction
        # once per candidate below the query join — the PQ hat placement
        # — is 14x WORSE here (4.4 -> 60 s for a 16-query batch at
        # sf0.1): SQ8's recon is a 64-double array whose UnsafeArrayData
        # copy per joined pair costs more than re-running the codegen'd
        # unpack over the 64-BYTE blob.  Keep the recompute.
        # PLAN-SHAPE-CRITICAL: the ucodes projection must sit BELOW a
        # join so it cannot collapse into the reconstruct/cosine
        # projection — adjacent Projects let CollapseProject inline the
        # hex/split/conv unpack into the per-dimension transform lambda,
        # re-evaluating it dim x per pair (measured r12 at sf1: 20.7 s ->
        # sub-second for a 16-query ivf batch at nprobe=16).  The query
        # join above the unpack is that barrier: a cross join on the
        # flat layout, the query_id join on IVF candidates.
        return (
            cand.join(F.broadcast(self.stored(spark, path, man)
                                  ["quantizer"]))
            .withColumn("ucodes", _sq8_unpack(F.col("codes"), dim))
            .join(F.broadcast(q), "query_id" if ivf else None)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    cosine(F.col("qe"),
                           _sq8_reconstruct(F.col("ucodes"), dim))
                    .alias("approx_sim")))


class _PQ(_Codec):
    """One byte per SUBSPACE: ``m`` contiguous subvectors, each with its
    own ``k``-way unit-normalized k-means codebook; candidates score by
    ADC lookups against per-query tables (:func:`_pq_adc_frame` —
    ksub-independent)."""

    artifacts = ("codebooks",)
    rerank_default = PQ_RERANK_MULT
    silent_drift = True

    def params(self, m, ksub):
        return {"m": m, "k": ksub}

    def train(self, emb, geom, n_iter, train_fraction):
        # the books sit under every per-subspace encode branch, so the
        # trainer lineage-truncates them once; train_fraction < 1
        # hash-samples the TRAINING corpus only — encoding still covers
        # every vector
        return {"codebooks": _pq_train(
            _train_sample(emb, train_fraction), int(geom["m"]),
            int(geom["k"]), int(geom["dim"]), n_iter)[0]}

    def encode(self, arts, emb, geom):
        m = int(geom["m"])
        return _pq_encode(emb, arts["codebooks"], m, int(geom["dim"]) // m)

    def code_bytes(self, man):
        return int(man["m"])

    def single_score(self, spark, path, man, cand, query_vec, ivf):
        # the flat scan folds the reconstruction norm below the
        # one-row ADC join; the small probed IVF scan keeps it a
        # per-pair fold (the measured placements, _pq_adc_candidates)
        adc = _pq_adc_frame(spark, path, man, [
            (0, [float(x) for x in query_vec])]).drop("query_id")
        below = _pq_adc_candidates(
            spark, path, man,
            cand.select(F.col("vec_id").alias("neighbor_id"), "codes"),
            with_norm=not ivf)
        return below.join(F.broadcast(adc)).select(
            "neighbor_id",
            _pq_adc_score(int(man["m"]), with_norm=not ivf)
            .alias("approx_sim"))

    def ivf_code_proj(self, spark, path, man):
        # unpack once per stored row, below the probes fan-out
        return lambda df: _pq_adc_candidates(spark, path, man, df)

    def batch_score(self, spark, path, man, cand, queries, q, ivf):
        m = int(man["m"])
        adc = _pq_adc_frame(spark, path, man, [
            (int(r["query_id"]), [float(x) for x in r["qe"]])
            for r in q.collect()])
        if ivf:
            return (cand.select("query_id", "vec_id", "ucodes")
                    .join(F.broadcast(adc), "query_id")
                    .select("query_id",
                            F.col("vec_id").alias("neighbor_id"),
                            _pq_adc_score(m).alias("approx_sim")))
        # per-CANDIDATE projection below the fan-out (ucodes + hn), m
        # pdot lookups per pair above it — the flat scan's measured
        # placement, 6.8 -> 4.6 s (see _pq_adc_candidates)
        below = _pq_adc_candidates(
            spark, path, man,
            cand.select(F.col("vec_id").alias("neighbor_id"), "codes"),
            with_norm=True)
        return below.join(F.broadcast(adc)).select(
            "query_id", "neighbor_id",
            _pq_adc_score(m, with_norm=True).alias("approx_sim"))

    def rebuild_params(self, man, out):
        # rebuild-at-higher-RESOLUTION: a recall floor the stored books
        # cannot reach is often code-resolution-limited, not staleness-
        # limited (r12 sf1: ksub=16 topped out at 100 permille
        # recall@10), and with ADC serving ksub-independent the retrain
        # at PQ_INDEX_KSUB costs only build time.  An index at or above
        # the default keeps its resolution.
        new_ksub = max(int(man["k"]), PQ_INDEX_KSUB)
        out["ksub"] = new_ksub
        out["ksub_escalated"] = new_ksub > int(man["k"])
        return {"m": int(man["m"]), "ksub": new_ksub}


class _Identity(_Codec):
    """Full precision: the code column IS the vector (``embedding``, held
    as doubles so every codes dir shares one schema) and a candidate
    scores by its exact round-6 cosine, so a ``k``-row shortlist is
    already the answer (``rerank_default = 1``).  Trains nothing and has
    no drift screen; with scores exact, a maintenance ladder has no
    rerank rung — ok, bump_nprobe, then rebuild."""

    code_cols = ("embedding",)
    rerank_default = 1

    def encode(self, arts, emb, geom):
        return emb.select(
            "vec_id", F.col("embedding").cast("array<double>")
            .alias("embedding"))

    def code_bytes(self, man):
        return 8 * int(man["dim"])

    def single_score(self, spark, path, man, cand, query_vec, ivf):
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        return cand.select(
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("embedding"), q), 6).alias("approx_sim"))

    def batch_score(self, spark, path, man, cand, queries, q, ivf):
        return (cand.join(F.broadcast(q), "query_id" if ivf else None)
                .select("query_id", F.col("vec_id").alias("neighbor_id"),
                        F.round(cosine(F.col("embedding"), F.col("qe")), 6)
                        .alias("approx_sim")))


class _BQ(_Codec):
    """One SIGN BIT per dimension packed into two 32-bit halves;
    candidates rank by integer Hamming distance (xor + popcount).
    Data-independent: nothing trains, nothing drifts."""

    code_cols = ("lo", "hi")
    score_col = "ham"
    score_desc = False
    rerank_default = BQ_RERANK_MULT
    retrainable = False

    def check_dim(self, dim):
        if dim != 64:
            raise ValueError(
                f"bq packs exactly 64 sign bits (got dim={dim})")

    def encode(self, arts, emb, geom):
        return emb.select("vec_id",
                          _bq_half("embedding", 0).alias("lo"),
                          _bq_half("embedding", 32).alias("hi"))

    def code_bytes(self, man):
        return 8

    def single_score(self, spark, path, man, cand, query_vec, ivf):
        qlo, qhi = _bq_query_bits(query_vec)
        return cand.select(
            F.col("vec_id").alias("neighbor_id"),
            _bq_hamming(F.col("lo"), F.col("hi"),
                        F.lit(qlo).cast("long"),
                        F.lit(qhi).cast("long")).alias("ham"))

    def batch_score(self, spark, path, man, cand, queries, q, ivf):
        qb = queries.select("query_id",
                            _bq_half("embedding", 0).alias("qlo"),
                            _bq_half("embedding", 32).alias("qhi"))
        return (cand.join(F.broadcast(qb), "query_id" if ivf else None)
                .select("query_id", F.col("vec_id").alias("neighbor_id"),
                        _bq_hamming(F.col("lo"), F.col("hi"),
                                    F.col("qlo"), F.col("qhi"))
                        .alias("ham")))


@dataclass(frozen=True)
class IndexKind:
    """One registry entry: a codec on a partition layer.
    ``refit_centroids`` (ivf_sq8, ivf) stores the centroids re-fit to the
    final assignment, where the other IVF kinds store the centroids the
    assignment ran against."""

    name: str
    codec: _Codec
    ivf: bool
    refit_centroids: bool = False

    @property
    def maintainable(self) -> bool:
        """Has a recall-driven maintenance ladder (IVF partitioning can
        go stale; so can a codec whose drift only recall shows)."""
        return self.ivf or self.codec.silent_drift


_SQ8_CODEC, _PQ_CODEC, _BQ_CODEC = _SQ8(), _PQ(), _BQ()
INDEX_KINDS = {
    "sq8": IndexKind("sq8", _SQ8_CODEC, ivf=False),
    "ivf_sq8": IndexKind("ivf_sq8", _SQ8_CODEC, ivf=True,
                         refit_centroids=True),
    "pq": IndexKind("pq", _PQ_CODEC, ivf=False),
    "ivf_pq": IndexKind("ivf_pq", _PQ_CODEC, ivf=True),
    "bq": IndexKind("bq", _BQ_CODEC, ivf=False),
    "ivf_bq": IndexKind("ivf_bq", _BQ_CODEC, ivf=True),
    "ivf": IndexKind("ivf", _Identity(), ivf=True, refit_centroids=True),
}


def _kind_of(m: dict, path: str, expect: str | None = None) -> IndexKind:
    """The manifest's registry entry (legacy manifests without a kind
    are sq8); ``expect`` refuses any other kind."""
    kind = m.get("kind", "sq8")
    if expect is not None and kind != expect:
        raise ValueError(
            f"vector index {path} is kind={m.get('kind')!r}, "
            f"not {expect}")
    return INDEX_KINDS[kind]


def _wrong_kind(m: dict, expect: str | None) -> dict | None:
    """The per-kind maintainers' refusal AS DATA (nothing written)."""
    if expect is not None and m.get("kind", "sq8") != expect:
        return {"decision": "wrong_kind", "kind": m.get("kind"),
                "expected": expect}
    return None


def _ivf_train(emb: DataFrame, k: int, n_iter: int,
               train_fraction: float, refit: bool):
    """A fresh IVF partition: ``(assignment (vec_id, cluster_id),
    centroids (cluster_id, centroid))``.  ``train_fraction < 1`` trains
    the k-means chains on a hash-sample (:func:`_train_sample`) and
    assigns the FULL corpus against the learned centroids."""
    if refit and train_fraction >= 1.0:
        asg = embedding_kmeans(emb, k, n_iter).select(
            "vec_id", "cluster_id")
    else:
        cents = _trained_centroids(emb, k, n_iter, train_fraction)
        asg = _assign(emb.select("vec_id", "embedding"), cents) \
            .select("vec_id", F.col("cid").alias("cluster_id"))
    if refit:
        cents = _quantized_centroids(
            emb.join(asg, "vec_id").withColumnRenamed("cluster_id", "cid"))
    return asg, cents.select(F.col("cid").alias("cluster_id"), "centroid")


def _write_codes(df: DataFrame, dest: str, ivf: bool) -> None:
    """Write one codes dir — hive-partitioned by ``cluster_id`` on the IVF
    layer, so probed reads partition-prune."""
    if ivf:
        df = df.repartition("cluster_id")
        df.write.mode("error").partitionBy("cluster_id").parquet(dest)
    else:
        df.write.mode("error").parquet(dest)


def _filtered(cand: DataFrame, allowed: DataFrame | None,
              where: str | None) -> DataFrame:
    """Apply the two filter forms to a candidate set BEFORE scoring:
    ``where`` lands on the codes scan (PushedFilters), ``allowed``
    semi-joins the id list."""
    if where is not None:
        cand = cand.filter(where)
    if allowed is not None:
        cand = cand.join(allowed.select("vec_id"), "vec_id", "left_semi")
    return cand


def write_index(emb: DataFrame, path: str, kind: str, *,
                k: int | None = None, dim: int = 64, m: int = PQ_M,
                ksub: int = PQ_INDEX_KSUB, n_iter: int = KMEANS_ITERS,
                train_fraction: float = 1.0,
                attrs: DataFrame | None = None) -> None:
    """Persist a serving layout of ``kind`` (a key of
    :data:`INDEX_KINDS`): ``(vec_id, <codes>)`` encoded by the kind's
    codec, its trained artifact (sq8 quantizer, pq codebooks; bq and ivf
    train nothing) and, on the IVF kinds, codes hive-partitioned by
    k-means cluster with the centroid table beside them.  The ANN scan
    reads these codes; the caller's primary store is read only for the
    exact re-rank shortlist.

    Commit protocol (jobs/versioned.py): data lands under
    ``<path>/data/v<N>/`` FIRST, then ONE manifest at
    ``<path>/_versions/v<N>.json`` publishes it by atomic tmp+rename — a
    crash leaves orphan dirs, never codes served under the wrong
    artifacts.  Single-writer.

    ``k``: IVF cluster count (None: ~sqrt(N), :func:`_default_ivf_k`);
    ``m``/``ksub``: PQ subspaces and codebook resolution;
    ``train_fraction < 1`` hash-samples the k-means/codebook TRAINING
    input (encoding still covers every vector; the SQ8 quantizer is
    always full-corpus).  ``attrs`` (``(vec_id, <scalar cols>)``) stores
    filterable columns WITH the codes so ``where=`` predicates reach the
    codes scan as parquet filters (left join: no attrs row = NULLs);
    upserts must then supply the same columns."""
    from ..jobs.versioned import _write_manifest

    spec = INDEX_KINDS[kind]
    codec = spec.codec
    codec.check_dim(dim)
    spark = emb.sparkSession
    if spec.ivf and k is None:
        k = _default_ivf_k(emb)
    version = _next_index_version(spark, path)
    base = f"data/v{version:06d}"
    geom = {"dim": dim, **codec.params(m, ksub)}
    arts = codec.train(emb, geom, n_iter, train_fraction)
    encoded = codec.encode(arts, emb, geom)
    if spec.ivf:
        asg, cents = _ivf_train(emb, k, n_iter, train_fraction,
                                spec.refit_centroids)
        encoded = encoded.join(asg, "vec_id")
    attr_cols = [c for c in (attrs.columns if attrs is not None else [])
                 if c != "vec_id"]
    if attrs is not None:
        encoded = encoded.join(attrs, "vec_id", "left")
    _write_codes(encoded.select("vec_id", *codec.code_cols, *attr_cols,
                                *(["cluster_id"] if spec.ivf else [])),
                 f"{path}/{base}/codes", spec.ivf)
    refs = {}
    if spec.ivf:
        cents.coalesce(1).write.mode("error") \
            .parquet(f"{path}/{base}/centroids")
        refs["centroids"] = f"{base}/centroids"
    for name, art in arts.items():
        art.coalesce(1).write.mode("error").parquet(f"{path}/{base}/{name}")
        refs[name] = f"{base}/{name}"
    _write_manifest(spark, path, version, {
        "version": version, "kind": kind, **geom,
        "codes": [f"{base}/codes"], **refs,
        **({"attrs": attr_cols} if attr_cols else {}),
    })


def index_topk(spark, path: str, query_vec: list[float],
               vectors: DataFrame, k: int = 10, *,
               nprobe: int | None = None, rerank_mult: int | None = None,
               dim: int | None = None, allowed: DataFrame | None = None,
               where: str | None = None,
               kind: str | None = None) -> DataFrame:
    """Serve top-k for one query from the newest committed snapshot:
    score the candidates' codes against the full-precision query (the
    codec's score), TakeOrdered the ``k * rerank_mult`` shortlist, and
    exact-cosine re-rank just those rows against ``vectors`` (the primary
    store).  Returns ``(rank, neighbor_id, cos_sim)``.  IVF kinds rank
    the k-row centroid table driver-side and read only the ``nprobe``
    best cluster directories.

    ``allowed`` (a ``vec_id`` DataFrame) semi-joins the candidates
    BEFORE the shortlist, so a restrictive filter cannot starve the
    result; on IVF the probe set also WIDENS (doubling until >= ``k``
    allowed candidates are reachable or every cluster is probed — one
    bounded count per step, never paid unfiltered).  ``where`` (SQL over
    the STORED attribute columns) is the pushdown form, with the same
    widening.  Trust boundary: ``where`` is CALLER-TRUSTED SQL, a
    filtering convenience, not tenant isolation — for an untrusted filter
    pass an ``allowed=`` id-list from a store the caller is authorized
    on.  ``dim`` only asserts against the manifest; ``nprobe=None`` /
    ``rerank_mult=None`` serve the committed operating point
    (:func:`_resolve_nprobe` / :func:`_resolve_rerank`); ``kind`` refuses
    an index of any other kind."""
    m = _index_manifest(spark, path)
    spec = _kind_of(m, path, kind)
    _manifest_dim(m, dim, path)
    rerank_mult = _resolve_rerank(m, rerank_mult)
    if spec.ivf:
        nprobe = _resolve_nprobe(m, nprobe)
        ranked = _rank_centroids(query_vec,
                                 _centroid_rows(spark, path, m))
        if allowed is not None or where is not None:
            probe = _widen_filtered_probes(
                _filtered(_manifest_codes(spark, path, m), None, where),
                allowed, ranked, nprobe, k)
        else:
            probe = [cid for _, cid in ranked[:nprobe]]
        # read ONLY the probed directories (no full partition listing)
        cand = _probed_codes(spark, path, m, probe)
    else:
        cand = _manifest_codes(spark, path, m)
    codec = spec.codec
    order = F.desc if codec.score_desc else F.asc
    shortlist = (
        codec.single_score(spark, path, m,
                           _filtered(cand, allowed, where),
                           query_vec, spec.ivf)
        .orderBy(order(codec.score_col), F.asc("neighbor_id"))
        .limit(k * rerank_mult)
        .select("neighbor_id")
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    pairs = (
        shortlist.join(
            vectors.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("embedding").alias("ne")),
            "neighbor_id")
        .select("neighbor_id",
                F.round(cosine(q, F.col("ne")), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        .limit(k)
    )
    return bounded_rank(
        pairs, [-F.col("cos_sim"), F.col("neighbor_id")], "rank",
        start=1,
    ).select("rank", "neighbor_id", "cos_sim")


def index_topk_batch(spark, path: str, queries: DataFrame,
                     vectors: DataFrame, k: int = 10, *,
                     nprobe: int | None = None,
                     rerank_mult: int | None = None,
                     allowed: DataFrame | None = None,
                     where: str | None = None,
                     kind: str | None = None) -> DataFrame:
    """BATCH retrieval — the production serving shape: a ``(query_id,
    embedding)`` batch runs as ONE distributed plan (``(query_id, rank,
    neighbor_id, cos_sim)`` out), per-query identical to
    :func:`index_topk`.  Queries ride broadcast (the bounded side); flat
    kinds scan the codes once, IVF kinds read each probed cluster once
    and fan its rows out to the queries that probed it, each STARVED
    query widening its own probe depth under a filter
    (:func:`_batch_candidates`).  Per-query shortlist windows on the
    codec's score, then the exact re-rank.  Arguments as in
    :func:`index_topk`."""
    m = _index_manifest(spark, path)
    spec = _kind_of(m, path, kind)
    codec = spec.codec
    rerank_mult = _resolve_rerank(m, rerank_mult)
    q = queries.select("query_id", F.col("embedding").alias("qe"))
    if spec.ivf:
        def codes_src(probed):
            return _filtered(_probed_codes(spark, path, m, probed),
                             None, where)

        cand = _batch_candidates(
            spark, q, _centroid_rows(spark, path, m), codes_src,
            _resolve_nprobe(m, nprobe), k, allowed,
            code_proj=codec.ivf_code_proj(spark, path, m),
            widen=allowed is not None or where is not None)
    else:
        cand = _filtered(_manifest_codes(spark, path, m), allowed, where)
    return _shortlist_rerank(
        codec.batch_score(spark, path, m, cand, queries, q, spec.ivf),
        codec.score_col, codec.score_desc, k * rerank_mult, q, vectors, k)


def index_upsert(spark, path: str, new_emb: DataFrame, *,
                 dim: int | None = None, tol: float = SQ_DRIFT_TOL,
                 attrs: DataFrame | None = None,
                 kind: str | None = None) -> dict:
    """Merge a batch into a stored index and return the decision AS DATA.
    The batch encodes with the STORED artifacts through the writer's own
    expression (an identical vector re-encodes bit-identically) and, on
    IVF, assigns against the STORED centroids; neither moves.

    - a codec with a drift screen (sq8: batch min/max beyond ``tol`` x
      the stored range) refuses a drifted batch, NOTHING written:
      ``{"decision": "rebuild", "drifted_dims": [...]}``;
    - all-new vec_ids land as ONE new codes dir the manifest appends
      (``"appended"``);
    - any re-submitted vec_id is keyed-REPLACED: survivors plus the batch
      rewrite one fresh dir the manifest points at alone (``"replaced"``);
    - an empty batch writes nothing and commits no version (``"noop"``).

    The next manifest is the current one with only the version and codes
    list moved, so a committed operating point (``default_nprobe`` /
    ``default_rerank_mult``) survives every upsert; a replace rewrote
    survivors exclusion-filtered, so it drops ``excluded_clusters``.
    Crash-safe like the writer; single-writer; batches must be
    vec_id-unique; an attrs-bearing index needs the same columns (via
    ``attrs`` or on the batch).  ``kind`` refuses a foreign kind as
    ``{"decision": "wrong_kind"}``, nothing written."""
    from ..jobs.upsert import _check_key_unique
    from ..jobs.versioned import _write_manifest

    _check_key_unique(new_emb, ["vec_id"])
    m = _index_manifest(spark, path)
    refused = _wrong_kind(m, kind)
    if refused:
        return refused
    spec = _kind_of(m, path)
    codec = spec.codec
    dim = _manifest_dim(m, dim, path)
    m_attrs, attr_rows = _upsert_attr_rows(m, new_emb, attrs, path)
    n_new = new_emb.count()
    if n_new == 0:
        return {"decision": "noop", "n_new": 0, "n_replaced": 0}
    arts = codec.stored(spark, path, m)
    drifted = codec.drift(arts, new_emb, dim, tol)
    if drifted:
        return {"decision": "rebuild", "n_new": n_new,
                "drifted_dims": drifted}
    cols = ["vec_id", *codec.code_cols, *m_attrs,
            *(["cluster_id"] if spec.ivf else [])]
    encoded = codec.encode(arts, new_emb, m)
    if spec.ivf:
        # assigned against the STORED centroids (one k-row broadcast —
        # an upsert never recomputes the index geometry)
        cents = (spark.read.parquet(f"{path}/{m['centroids']}")
                 .withColumnRenamed("cluster_id", "cid"))
        encoded = encoded.join(
            _assign(new_emb.select("vec_id", "embedding"), cents)
            .select("vec_id", F.col("cid").alias("cluster_id")),
            "vec_id")
    if m_attrs:
        encoded = encoded.join(attr_rows, "vec_id", "left")
    encoded = encoded.select(*cols)
    current = _manifest_codes(spark, path, m)
    batch_ids = new_emb.select("vec_id")
    n_replaced = current.join(
        F.broadcast(batch_ids), "vec_id", "left_semi").count()
    version = _next_index_version(spark, path)
    base = f"data/v{version:06d}"
    nxt = {k_: v for k_, v in m.items() if k_ != "build_nonce"}
    if n_replaced == 0:
        _write_codes(encoded, f"{path}/{base}/codes", spec.ivf)
        nxt.update(version=version, codes=m["codes"] + [f"{base}/codes"])
        decision = "appended"
    else:
        survivors = current.join(
            F.broadcast(batch_ids), "vec_id", "left_anti")
        _write_codes(survivors.select(*cols).unionByName(encoded),
                     f"{path}/{base}/codes", spec.ivf)
        nxt.update(version=version, codes=[f"{base}/codes"])
        nxt.pop("excluded_clusters", None)
        decision = "replaced"
    _write_manifest(spark, path, version, nxt)
    out = {"decision": decision, "n_new": n_new, "n_replaced": n_replaced}
    if drifted is not None:
        out["drifted_dims"] = []
    return out


def maintain_index(spark, path: str, new_emb: DataFrame,
                   vectors: DataFrame, *, k: int = 10,
                   nprobe: int | None = None,
                   recall_floor_permille: int = 600,
                   max_nprobe: int | None = None,
                   sample_queries: int = 4,
                   rebuild: bool = True,
                   train_fraction: float = 1.0,
                   kind: str | None = None) -> dict:
    """The closed maintenance loop: merge a batch (:func:`index_upsert`),
    measure MIN sampled recall vs brute force over the primary store
    (:func:`_batched_min_recall`, one batched serve + one batched exact
    top-k per rung; min, because one drifted region is exactly what a
    mean hides), and return the decision AS DATA.  Rungs by kind:

    - ``"ok"`` — min sampled recall >= the floor.
    - ``"bump_nprobe"`` (IVF) — a doubled probe depth (capped at the
      cluster count / ``max_nprobe``) clears the floor; committed as the
      manifest's ``default_nprobe``, which every later serve resolves.
    - ``"bump_rerank"`` / ``"bump_nprobe_rerank"`` (a codec with nothing
      to retrain: bq) — a doubled exact-rerank depth, alone or with the
      bumped probe depth, clears the floor; committed in ONE manifest
      version (a rebuild cannot raise sign-bit resolution, so it must
      not shadow a recoverable operating point).
    - ``"rebuild"`` — every cheaper rung missed, OR the upsert refused
      the batch on quantizer drift: with ``rebuild=True`` the index
      retrains over ``vectors`` at its geometry (PQ escalates ``ksub``;
      attrs self-carry, :func:`_attrs_self_carry`) and recall
      re-measures.

    CONTRACT: ``vectors`` must already contain the batch (the probe's
    ground truth; a rebuild retrains over it alone) — violations raise
    before anything is written.  Flat sq8 (its upsert screens drift) and
    flat bq (nothing trains) have no ladder and raise ValueError."""
    man = _index_manifest(spark, path)
    refused = _wrong_kind(man, kind)
    if refused:
        return refused
    spec = _kind_of(man, path)
    if not spec.maintainable:
        raise ValueError(
            f"vector index {path} is kind={spec.name!r}, which has no "
            f"maintenance ladder")
    n_missing = (new_emb.select("vec_id")
                 .join(vectors.select("vec_id"), "vec_id", "left_anti")
                 .count())
    if n_missing:
        raise ValueError(
            f"maintain_{spec.name}_index: {n_missing} batch vec_ids are "
            f"absent from `vectors` — pass the POST-merge primary "
            f"store (the probe and any rebuild read it as ground "
            f"truth)")
    st = dict(index_upsert(spark, path, new_emb))
    man = _index_manifest(spark, path)
    queries = _sample_queries(new_emb, sample_queries)
    out = {**st, "n_queries": len(queries)}
    if spec.ivf:
        nprobe = _resolve_nprobe(man, nprobe)
        n_clusters = spark.read.parquet(
            f"{path}/{man['centroids']}").count()
        cap = min(max_nprobe or n_clusters, n_clusters)
        out["nprobe"] = nprobe
    out["recall_floor_permille"] = recall_floor_permille

    def _min_recall(np_: int | None, rm: int | None = None) -> int:
        return _batched_min_recall(
            spark, queries, vectors, k,
            lambda qdf: index_topk_batch(
                spark, path, qdf, vectors, k=k, nprobe=np_,
                rerank_mult=rm))

    def _rebuild_and_remeasure():
        params = {"k": n_clusters} if spec.ivf else {}
        write_index(vectors, path, spec.name, dim=int(man["dim"]),
                    train_fraction=train_fraction,
                    attrs=_attrs_self_carry(spark, path, man, new_emb),
                    **params, **spec.codec.rebuild_params(man, out))
        if queries:
            out["recall_after_rebuild_permille"] = _min_recall(nprobe)

    if st["decision"] == "rebuild":            # quantizer drift refusal
        if rebuild:
            _rebuild_and_remeasure()
        return out
    if not queries:
        out.update(decision="ok", recall_permille=None)
        return out
    floor = recall_floor_permille
    r0 = _min_recall(nprobe)
    out["recall_permille"] = r0
    if r0 >= floor:
        out["decision"] = "ok"
        return out
    bumped = min(max(nprobe * 2, nprobe + 1), cap) if spec.ivf else None
    if spec.ivf and bumped > nprobe:
        r1 = _min_recall(bumped)
        out["recall_after_bump_permille"] = r1
        if r1 >= floor:
            out.update(decision="bump_nprobe", nprobe=bumped)
            out["nprobe_version"] = _persist_operating_point(
                spark, path, nprobe=bumped)
            return out
    if not spec.codec.retrainable:
        # probing deeper failed or was maxed, and a rebuild cannot raise
        # code resolution — try doubling the exact-rerank depth (the r13
        # measurement: sf1 bq goes 181 -> 1000 permille on rerank depth
        # alone at ~flat serve cost), then the combination
        rm2 = _resolve_rerank(man, None) * 2
        r2 = _min_recall(nprobe, rm=rm2)
        out["recall_after_rerank_permille"] = r2
        if r2 >= floor:
            out.update(decision="bump_rerank", rerank_mult=rm2)
            out["rerank_version"] = _persist_operating_point(
                spark, path, rerank_mult=rm2)
            return out
        if spec.ivf and bumped > nprobe:
            r3 = _min_recall(bumped, rm=rm2)
            out["recall_after_bump_rerank_permille"] = r3
            if r3 >= floor:
                out.update(decision="bump_nprobe_rerank", nprobe=bumped,
                           rerank_mult=rm2)
                out["operating_point_version"] = \
                    _persist_operating_point(spark, path, nprobe=bumped,
                                             rerank_mult=rm2)
                return out
    out["decision"] = "rebuild"
    if rebuild:
        _rebuild_and_remeasure()
    return out


# Kept only because perfbench/workloads.py calls them; all else uses kind=.
def write_ivf_sq8_index(emb, path, k=None, **kw):
    return write_index(emb, path, "ivf_sq8", k=k, **kw)


def ivf_sq8_index_topk_batch(*a, **kw):
    return index_topk_batch(*a, kind="ivf_sq8", **kw)
