"""Incremental near-dup maintenance: a persisted MinHash signature index
plus a batch-dedup step that reads only the buckets a new batch touches.

The one-shot ``dedup.minhash_lsh_pairs`` recomputes the whole corpus's
signatures every run; a production ingest loop cannot (100 TB of history
per daily batch).  This module is the dedup twin of the stored ANN
indexes (`similarity.write_index` / `index_upsert`): pay the corpus
pass ONCE, persist the sketch, and let every subsequent batch cost
O(batch + touched buckets).

On-disk layout (all plain parquet):

- ``<path>/sigs/band=B/bucket=K/``  — (doc_id, sig): the 4 folded LSH
  band keys per doc, hive-partitioned by ``band`` and ``bucket =
  sig % N_BUCKETS``.  A new batch's distinct (band, bucket) list is
  collected driver-side (bounded by 4 x N_BUCKETS, it is literally an
  IN-filter) and pushed as PartitionFilters — a small batch prunes to
  the few directories its signatures can possibly collide in.
- ``<path>/_minhashes/``            — (doc_id, minhashes[16]): one row
  per indexed doc, used to verify candidates by signature-estimated
  Jaccard.  Joined only against candidate doc_ids (a hash join keyed on
  doc_id), never scanned in full.

Verification in the incremental path uses the MINHASH ESTIMATE
(matching-coordinate fraction), not exact shingle Jaccard: storing
shingle sets would make the index ~doc-sized (defeating its point), and
the estimate's error at 16 hashes is the standard LSH trade (the
one-shot operator keeps the exact verify).  Appends are plain parquet
``append`` writes — crash-safe only on atomic-rename filesystems; route
through ``jobs/upsert`` when a stricter contract is needed.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import NUM_MINHASHES
from .dedup import _BAND_SIGS_EXPR, minhash_signatures

# sig-space sub-bucketing per band; 4 x 64 = 256 directories total —
# enough pruning for small batches without drowning the FS in tiny dirs
N_BUCKETS = 64


def _banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket, sig) — the 4 folded band keys per doc."""
    return (
        sigs.select(
            "doc_id", F.explode(F.expr(_BAND_SIGS_EXPR)).alias("bs"))
        .select(
            "doc_id",
            F.col("bs.band").alias("band"),
            (F.col("bs.sig") % N_BUCKETS).cast("int").alias("bucket"),
            F.col("bs.sig").alias("sig"),
        )
    )


def write_signature_index(docs: DataFrame, path: str) -> None:
    """Build the index from the current corpus (the one full pass)."""
    sigs = minhash_signatures(docs).persist()
    try:
        (
            _banded(sigs).repartition("band", "bucket")
            .write.mode("overwrite")
            .partitionBy("band", "bucket").parquet(f"{path}/sigs")
        )
        sigs.write.mode("overwrite").parquet(f"{path}/_minhashes")
    finally:
        sigs.unpersist()


def _append_sigs(sigs: DataFrame, path: str) -> None:
    """Append a signature frame to both index tables."""
    (
        _banded(sigs).repartition("band", "bucket")
        .write.mode("append")
        .partitionBy("band", "bucket").parquet(f"{path}/sigs")
    )
    sigs.write.mode("append").parquet(f"{path}/_minhashes")


def append_signatures(docs: DataFrame, path: str) -> None:
    """Register already-deduplicated docs in the index (one batch pass).

    For callers that separate the dedup decision from the index update
    (e.g. the streaming sink, which must land survivors in its OWN sink
    before making them visible to future batches): compute the batch's
    signatures and append them.  No dedup is performed here."""
    sigs = minhash_signatures(docs).persist()
    try:
        _append_sigs(sigs, path)
    finally:
        sigs.unpersist()


def incremental_dedup(spark: SparkSession, path: str, new_docs: DataFrame,
                      threshold: float = 0.5,
                      append: bool = True) -> dict:
    """Dedup ``new_docs`` against the stored index AND itself, keep-first.

    A new doc is dropped when its estimated Jaccard vs ANY indexed doc —
    or vs a smaller-``doc_id`` doc in the same batch — reaches
    ``threshold``.  Survivors are appended to the index (``append=True``)
    so the next batch sees them.

    Returns ``{"kept": DataFrame, "n_new", "n_dup_vs_index",
    "n_dup_in_batch", "n_kept"}``.  The counts trigger the computation;
    ``kept`` re-uses the persisted intermediates.

    Scale: new-batch signatures are one pass over the BATCH only; the
    stored side is read bucket-pruned; candidate verification joins the
    ``_minhashes`` table on candidate doc_ids only.  Everything shuffles
    on doc_id or a folded band signature — uniform keys.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/sigs")
    fs = jvm_path.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(jvm_path):
        raise ValueError(
            f"no signature index at {path!r} — run write_signature_index "
            f"(or the CLI's dedup-index --build) first")
    new_sigs = minhash_signatures(new_docs).persist()
    new_banded = _banded(new_sigs).persist()

    # driver-side bucket list (bounded by 4 x N_BUCKETS) -> plan-time
    # partition pruning on the stored sig table
    touched = [(r["band"], r["bucket"])
               for r in new_banded.select("band", "bucket")
               .distinct().collect()]
    if not touched:
        new_sigs.unpersist()
        new_banded.unpersist()
        return {"kept": new_docs, "n_new": new_docs.count(),
                "n_dup_vs_index": 0, "n_dup_in_batch": 0,
                "n_kept": new_docs.count()}
    # prune on the exact (band, bucket) PAIR list, not the cross product
    # of touched bands x touched buckets — a typical batch touches all 4
    # bands and many buckets, and the cross-product filter would quietly
    # widen the read toward the full sig store while this OR-of-pairs
    # keeps it at O(touched directories)
    pair_pred = functools.reduce(
        lambda a, b: a | b,
        [(F.col("band") == b) & (F.col("bucket") == k)
         for b, k in touched])
    stored = spark.read.parquet(f"{path}/sigs").filter(pair_pred)

    est = (
        F.size(F.filter(F.zip_with(F.col("ma.minhashes"),
                                   F.col("mb.minhashes"),
                                   lambda x, y: x == y),
                        lambda v: v))
        / F.lit(float(NUM_MINHASHES))
    )

    def _verified(cand: DataFrame, left_sigs: DataFrame,
                  right_sigs: DataFrame) -> DataFrame:
        """Distinct dropped doc_ids: candidates whose estimated Jaccard
        reaches the threshold (doc_b is always the new-batch side)."""
        return (
            cand.join(left_sigs.alias("ma"),
                      F.col("doc_a") == F.col("ma.doc_id"))
            .join(right_sigs.alias("mb"),
                  F.col("doc_b") == F.col("mb.doc_id"))
            .filter(est >= F.lit(threshold))
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )

    # vs index: bucket-collision candidates, then estimate verify
    old_cand = (
        new_banded.alias("n")
        .join(stored.alias("o"),
              (F.col("n.band") == F.col("o.band"))
              & (F.col("n.sig") == F.col("o.sig")))
        .select(F.col("o.doc_id").alias("doc_a"),
                F.col("n.doc_id").alias("doc_b"))
        .distinct()
    )
    old_minh = spark.read.parquet(f"{path}/_minhashes")
    dup_vs_index = _verified(old_cand, old_minh, new_sigs).persist()

    # in-batch: keep-first — a doc only defers to SMALLER doc_ids
    a, b = new_banded.alias("a"), new_banded.alias("b")
    new_cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    dup_in_batch = _verified(new_cand, new_sigs, new_sigs).persist()

    # MATERIALIZE the drop set before any append: ``kept``'s plan reads
    # the index (via dup_vs_index), so appending first and evaluating
    # later would make the batch collide with its own freshly-appended
    # signatures and drop every survivor.  localCheckpoint cuts the
    # lineage back to the materialized rows.
    drop = (dup_vs_index.union(dup_in_batch).distinct()
            .localCheckpoint(eager=True))
    kept = new_docs.join(drop, "doc_id", "left_anti")

    n_new = new_docs.count()
    n_dup_vs_index = dup_vs_index.count()
    n_dup_in_batch = dup_in_batch.count()
    n_kept = kept.count()

    if append:
        kept_ids = kept.select("doc_id")
        kept_sigs = new_sigs.join(kept_ids, "doc_id", "left_semi").persist()
        _append_sigs(kept_sigs, path)
        kept_sigs.unpersist()
    new_sigs.unpersist()
    new_banded.unpersist()
    dup_vs_index.unpersist()
    dup_in_batch.unpersist()
    return {"kept": kept, "n_new": n_new,
            "n_dup_vs_index": n_dup_vs_index,
            "n_dup_in_batch": n_dup_in_batch, "n_kept": n_kept}


def corpus_diff(old_docs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Snapshot audit: per doc_id, how the corpus changed between two
    versions — ``added`` / ``removed`` / ``changed`` / ``unchanged``
    (by md5(text)).  The routine ingest sanity check before promoting a
    new corpus build: a diff that says 90% ``removed`` stops the deploy.

    One full outer hash-join on doc_id comparing content hashes; both
    sides reduce to (doc_id, md5) projections first, so the shuffle
    carries two narrow columns, not document bodies.
    """
    # presence markers, NOT md5 nullness: a present doc with NULL text
    # has a NULL md5 and would misclassify as added/removed (and diverge
    # from the oracle, which tests side.doc_id IS NULL)
    o = old_docs.select("doc_id", F.md5("text").alias("_old_md5"),
                        F.lit(1).alias("_in_old"))
    n = new_docs.select("doc_id", F.md5("text").alias("_new_md5"),
                        F.lit(1).alias("_in_new"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_old_md5").eqNullSafe(F.col("_new_md5")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
    )


def corpus_diff_summary(old_docs: DataFrame,
                        new_docs: DataFrame) -> DataFrame:
    """One row per status with counts — the gating signal."""
    return (
        corpus_diff(old_docs, new_docs)
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
