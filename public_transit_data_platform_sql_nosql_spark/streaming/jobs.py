"""Structured Streaming forms of the event analytics.

``stream_windowed_counts`` is the streaming twin of
queries/events.windowed_counts: file-source ``readStream`` over the events
parquet, event-time tumbling window + watermark for late data, and an
``availableNow`` trigger so tests drain the source deterministically.

``incremental_refresh`` is the SURVEY.md §2.9 extension: the reference's
20-minute chunked MySQL→Mongo ETL re-expressed as a ``foreachBatch``
incremental refresh — each micro-batch of new stop_times is denormalized
and appended, replacing offset-pagination with Spark's own source tracking
(checkpointed offsets, exactly-once per batch).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

NS = 1_000_000_000

def events_file_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """The events parquet's own schema (streaming file sources need an
    explicit schema; inferring it from the static footer keeps the stream
    working whether the driver ships ``ts`` as nanos-long or
    timestamp[us] — see sources/tpch_adapter.normalize_events_ts)."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events parquet (one file per
    batch caps micro-batch size, like maxFilesPerTrigger on a real feed).
    ``ts`` is normalized to epoch-nanos long at the read boundary, same
    convention as the batch adapter."""
    from ..sources.tpch_adapter import normalize_events_ts

    return normalize_events_ts(
        spark.readStream.schema(events_file_schema(spark, sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )


def stream_windowed_counts(
    events: DataFrame,
    window_secs: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling event-time window with watermark; same measures as the
    batch operator (integer cents keep sums engine-deterministic)."""
    with_time = events.withColumn(
        "event_time", F.timestamp_seconds(F.expr(f"ts div {NS}"))
    ).withWatermark("event_time", watermark)
    return (
        with_time.groupBy(
            F.window("event_time", f"{window_secs} seconds").alias("win"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) AS bigint)"))
            .alias("sum_cents"),
        )
        .select(
            F.unix_timestamp("win.start").alias("window_start_sec"),
            "event_type", "n_events", "sum_cents",
        )
    )


def run_to_memory(result: DataFrame, table_name: str,
                  mode: str = "complete") -> None:
    """Drain the stream into an in-memory sink (tests/demos): processes
    everything available now, then stops."""
    q = (
        result.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_refresh(
    stop_times_stream: DataFrame,
    denormalize_batch: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint_path: str,
):
    """foreachBatch incremental denormalization (reference parity note:
    replaces /root/reference/Mongo/denormalization.py:51-77's LIMIT/OFFSET
    chunk loop; the source's checkpoint replaces the manual offset)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = denormalize_batch(batch_df)
        out.write.mode("append").parquet(sink_path)

    return (
        stop_times_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(
    events: DataFrame,
    gap_secs: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming twin of queries/events.sessionize via Spark's NATIVE
    session windows: merging gap-based windows with watermark-driven state
    eviction — the idiomatic (stateful, codegen'd) form; no Python state.

    Grain note: event_time is whole seconds (ts div 1e9), so the gap is
    evaluated at second precision, while the batch operator compares raw
    nanos; boundaries only differ for gaps within 1s of ``gap_secs``.
    """
    with_time = events.withColumn(
        "event_time", F.timestamp_seconds(F.expr(f"ts div {NS}"))
    ).withWatermark("event_time", watermark)
    return (
        with_time.groupBy(
            F.session_window("event_time", f"{gap_secs} seconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) AS bigint)"))
            .alias("sum_cents"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_sec"),
            F.unix_timestamp("w.end").alias("session_end_sec"),
            "n_events", "sum_cents",
        )
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's documents parquet."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )


def stream_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming twin of pipeline/dedup.exact_dedup's keep-one: emit the
    FIRST document seen per md5(text) key, suppress every later arrival —
    ingestion-time dedup for a continuously arriving corpus.

    Semantics note vs batch: batch keeps the min-doc_id member of each
    group; the stream keeps the first ARRIVAL (whichever micro-batch
    order delivers), so the kept representative may differ while the kept
    key set is identical — the differential test asserts exactly that.

    Scale note: plain ``dropDuplicates`` holds one state row per distinct
    key forever.  On an unbounded 100 TB feed, key the call as
    ``dropDuplicatesWithinWatermark`` on an ingest-time column instead,
    which evicts state once the watermark passes — same plan shape,
    bounded state.
    """
    return (
        docs.withColumn("text_md5", F.md5("text"))
        .dropDuplicates(["text_md5"])
        .select("doc_id", "text_md5")
    )


_TOTALS_OUT = "user_id bigint, n_events bigint, sum_cents bigint"
_TOTALS_STATE = "n_events bigint, sum_cents bigint"


def stream_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals that survive across micro-batches (the SURVEY.md §2.9
    extension point for state Spark's built-ins can't express).

    The cents quantization runs in Spark SQL BEFORE the Python state
    function (Spark ``round`` is HALF_UP, numpy's is half-even — doing it
    JVM-side keeps streaming and batch bit-identical); the pandas function
    only sums int64 and carries state."""
    import pandas as pd  # local: Arrow batch path only
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    def _update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += int(len(pdf))
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]}
        )

    prepared = events.select(
        "user_id", F.expr("cast(round(value * 100) AS bigint)").alias("cents")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_upsert(updates_stream: DataFrame, sink_path: str,
                  checkpoint_path: str, key_cols: list[str],
                  partition_col: str | None = None):
    """foreachBatch incremental MERGE: each micro-batch upserts into the
    parquet sink via jobs/upsert.upsert_parquet_dir — matching keys
    replaced, new keys appended, rewrite scope bounded to the touched
    hive partitions when ``partition_col`` is set.  The append-only
    ``incremental_refresh`` twin plus this one cover both CDC shapes
    (insert-only feeds vs keyed update feeds); with the source's
    checkpointed offsets each batch merges exactly once, so replays
    after a crash are idempotent (same keys, same rows).

    A batch that repeats a key (two updates to one row inside the batch
    window) is ambiguous and REFUSED by upsert_parquet_dir's uniqueness
    check — deduplicate upstream (e.g. keep the max-timestamp row per
    key in the batch transform) before this sink.
    """
    from ..jobs.upsert import upsert_parquet_dir

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        upsert_parquet_dir(batch_df.sparkSession, sink_path, batch_df,
                           key_cols, partition_col=partition_col)

    return (
        updates_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_dedup(docs_stream: DataFrame, index_path: str,
                             sink_path: str, checkpoint_path: str,
                             threshold: float = 0.5):
    """foreachBatch streaming near-dup filter: each micro-batch of
    documents is deduped against the persisted MinHash signature index
    (pipeline/incremental.py) AND itself, survivors land in the parquet
    sink and their signatures are appended to the index so later batches
    see them.  This closes the streaming corpus-ingest loop: the batch
    twin pays one corpus pass to build the index; this sink keeps it
    current at O(batch + touched buckets) per trigger.

    Replay semantics — AT-LEAST-ONCE, never data loss.  Two crash
    windows exist between the two appends and the checkpoint commit:

    - crash AFTER the index append: the replayed batch matches its own
      already-indexed signatures and is dropped — no sink effect.
    - crash BETWEEN the sink append and the index append: the replayed
      batch sees no matching signatures and appends to the sink AGAIN —
      duplicate sink rows.

    The sink-append-first order is deliberate: the inverted order turns
    the second window into SILENT DATA LOSS (the replay would drop the
    batch against its own signatures before it ever reached the sink).
    Duplicates are recoverable — run pipeline/dedup.exact_dedup or
    compaction downstream, or use stream_upsert (the keyed-MERGE sink)
    where exactly-once per key is required; lost rows are not.
    """
    from ..pipeline.incremental import append_signatures, incremental_dedup

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        r = incremental_dedup(batch_df.sparkSession, index_path, batch_df,
                              threshold=threshold, append=False)
        kept = r["kept"].persist()
        try:
            kept.write.mode("append").parquet(sink_path)
            append_signatures(kept, index_path)
        finally:
            kept.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_bounded_dedup(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """At-least-once delivery dedup: drop re-deliveries of the same
    ``event_id``, holding dedup state ONLY for the watermark horizon —
    the unbounded-feed-safe variant stream_exact_dedup's docstring
    points at.  ``dropDuplicatesWithinWatermark`` evicts a key's state
    once the watermark passes its event time, so state is bounded by
    (arrival rate x horizon) instead of growing with every key ever
    seen; a duplicate arriving INSIDE the horizon (the at-least-once
    redelivery case — retries land close to the original) is dropped
    exactly like plain dropDuplicates would.
    """
    return (
        events.withColumn(
            "event_time", F.timestamp_seconds(F.expr(f"ts div {NS}")))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )


def stream_range_enrich(events: DataFrame, intervals: DataFrame,
                        bucket_width: int,
                        by=()) -> DataFrame:
    """Stream-static enrichment: tag each arriving event with every
    STATIC interval containing it (maintenance windows, campaigns,
    incident spans) — the streaming twin of operators/asof.range_join,
    and it IS that operator: the bucket explode lands on the static
    intervals side, the streaming side only gains a narrow bucket
    column, and the (by, bucket) equi-join is a plain stream-static
    inner join Structured Streaming supports with no watermark or state
    (the static side is just a broadcast/hash build per micro-batch).

    ``bucket_width`` is required (no auto-sizing): the auto path runs an
    eager percentile aggregate, which is fine on the static side but
    surprising inside a streaming query definition — callers size the
    width once from the static table offline.
    """
    from ..operators.asof import range_join

    return range_join(events, intervals, "ts",
                      "start_ts", "end_ts", by=by,
                      bucket_width=int(bucket_width))


def stream_corpus_report(docs_stream: DataFrame, report_path: str,
                         checkpoint: str):
    """foreachBatch live corpus dashboard: maintain the per-(source,
    lang) ``pipeline/profile.corpus_report`` over everything seen so
    far, ADDITIVELY — each micro-batch costs O(batch + groups + its own
    hash lookups), never a corpus rescan, and the published report is
    bit-identical to running the batch operator over the union of all
    batches (differentially asserted in tests).

    State, all under ``report_path``:

    - ``_state/hashes`` — append-only (source, lang, text_md5) pairs,
      first arrival only: the distinct-hash state behind the one
      non-additive signal.  A batch's dup count is its row count minus
      its NEW pairs (so intra-batch repeats count too), which telescopes
      to the batch operator's ``n_docs - count(DISTINCT md5)`` per
      group.  At 100 TB, hive-bucket this store by hash prefix so each
      batch prunes to its own buckets (the incremental MinHash index's
      layout, pipeline/incremental.py).
    - ``_state/partials`` — a versioned store of the running additive
      sums (jobs/versioned.py): read latest, merge the batch's partials
      by union + group-sum, commit next version — crash-safe without
      read-then-overwrite hazards.
    - the report itself — a versioned store at ``report_path``: readers
      never observe a half-written dashboard, and every past report
      stays auditable (vacuum retires old ones).
    """
    from ..jobs.versioned import commit_version, list_versions, read_version
    from ..pipeline.profile import corpus_report_partials

    group_sums = ["n_docs", "n_empty", "n_dup_texts",
                  "sum_tokens", "sum_chars", "sum_q_micro"]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hashes_dir = f"{report_path}/_state/hashes"
        partials_store = f"{report_path}/_state/partials"

        bh = batch_df.select(
            "source", "lang", F.md5("text").alias("text_md5"))
        try:
            seen = spark.read.parquet(hashes_dir)
        except Exception:  # first batch: no state yet
            seen = None
        new_pairs = bh.distinct()
        if seen is not None:
            new_pairs = new_pairs.join(
                seen, ["source", "lang", "text_md5"], "left_anti")
        new_pairs = new_pairs.localCheckpoint(eager=True)
        new_pairs.write.mode("append").parquet(hashes_dir)

        bp = corpus_report_partials(batch_df)
        batch_rows = batch_df.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("_rows"))
        new_counts = new_pairs.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("_new"))
        dups = (
            batch_rows.join(new_counts, ["source", "lang"], "left")
            .select("source", "lang",
                    (F.col("_rows") - F.coalesce(F.col("_new"), F.lit(0)))
                    .cast("long").alias("n_dup_texts"))
        )
        bp = bp.join(dups, ["source", "lang"])

        if list_versions(spark, partials_store):
            stored = read_version(spark, partials_store)
            bp = stored.unionByName(bp)
        merged = (
            bp.groupBy("source", "lang")
            .agg(*[F.sum(c).cast("long").alias(c) for c in group_sums])
            .localCheckpoint(eager=True)
        )
        commit_version(merged, partials_store)
        commit_version(
            merged.select(
                "source", "lang", "n_docs", "n_empty", "n_dup_texts",
                "sum_tokens",
                F.expr("sum_tokens DIV n_docs").cast("long")
                .alias("mean_tokens"),
                "sum_chars",
                F.expr("sum_q_micro DIV n_docs").cast("long")
                .alias("mean_quality_micro"),
            ),
            report_path)

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", f"{checkpoint}/ck")
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_attribution(views: DataFrame, purchases: DataFrame,
                              max_delay_secs: int = 3600,
                              watermark: str = "2 hours") -> DataFrame:
    """STREAM-STREAM inner join — the ad-attribution shape (every
    purchase matched to each same-user view it followed within
    ``max_delay_secs``): the one streaming join class the surface was
    still missing next to the stream-static enrich.

    Both inputs are event streams (pass the same source filtered by
    type, or two different feeds).  Each side gets an event-time
    watermark, and the join condition is equi(user_id) + a bounded
    time range, which is exactly what lets Structured Streaming's
    symmetric hash join EVICT state: a buffered view can only ever
    match purchases in ``[view_time, view_time + max_delay]``, so once
    the purchase-side watermark passes that horizon the row is dropped
    from the join state.  (Spark ACCEPTS an inner stream-stream join
    with no watermark/bound too — it just buffers both streams forever;
    the bound here is what makes the operator deployable, not what
    makes it start.)

    Scale shape: state per executor ≈ arrival rate x (watermark +
    max_delay) on each side, independent of stream lifetime; the join
    itself is hash-partitioned on user_id like any shuffled equi-join.
    """
    v = (
        views.select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_event_id"),
            F.timestamp_seconds(F.expr(f"ts div {NS}"))
            .alias("view_time"),
        )
        .withWatermark("view_time", watermark)
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.expr("cast(round(value * 100) AS bigint)").alias("cents"),
            F.timestamp_seconds(F.expr(f"ts div {NS}"))
            .alias("purchase_time"),
        )
        .withWatermark("purchase_time", watermark)
    )
    joined = v.join(
        p,
        F.expr(
            f"""v_user_id = p_user_id
            AND purchase_time >= view_time
            AND purchase_time <= view_time + INTERVAL {int(max_delay_secs)} SECONDS"""
        ),
    )
    return joined.select(
        F.col("v_user_id").alias("user_id"),
        "view_event_id", "purchase_event_id", "cents",
        (F.unix_timestamp("purchase_time") - F.unix_timestamp("view_time"))
        .cast("long").alias("delay_sec"),
    )


def stream_kmv_cardinality(docs_stream: DataFrame, sketch_path: str,
                           checkpoint: str,
                           columns: tuple = ("doc_id", "text", "lang",
                                             "source", "n_chars"),
                           k: int | None = None):
    """foreachBatch live cardinality tracking: maintain the per-column
    KMV sketch (pipeline/profile.kmv_distinct) over everything seen so
    far.  KMV merges EXACTLY — kmin(A ∪ B) = kmin(kmin(A) ∪ kmin(B)) —
    so each micro-batch costs O(batch + k·columns): sketch the batch,
    union with the stored k-minima, keep the k smallest distinct hashes
    per column, and the published estimates are bit-identical to running
    the batch operator over the union of all batches (differentially
    asserted in tests).  This is the streaming shape HLL powers on real
    feeds, with the oracle-able sketch instead.

    State under ``sketch_path``: ``_state/sketch`` — a versioned store
    (jobs/versioned.py) of the (column, h) k-minima, crash-safe across
    batches; the report itself — a versioned store of ``(column,
    n_sketch, kth_hash, est_distinct)``, same schema and arithmetic as
    the batch operator, every past version auditable.
    """
    from ..jobs.versioned import commit_version, list_versions, read_version
    from ..pipeline.core import md5_hash64
    from ..pipeline.profile import KMV_K, KMV_SPACE

    kk = KMV_K if k is None else k

    def _batch_sketch(df: DataFrame) -> DataFrame:
        outs = []
        for c in columns:
            outs.append(
                df.where(F.col(c).isNotNull())
                .select(F.lit(c).alias("column"),
                        md5_hash64(F.col(c).cast("string")).alias("h"))
                .groupBy("column", "h").agg(F.lit(1))
                .orderBy("h").limit(kk)
                .select("column", "h")
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state_store = f"{sketch_path}/_state/sketch"
        sk = _batch_sketch(batch_df)
        if list_versions(spark, state_store):
            sk = read_version(spark, state_store).unionByName(sk)
        from pyspark.sql import Window
        w = Window.partitionBy("column").orderBy("h")
        merged = (
            sk.distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= kk)
            .select("column", "h")
            .localCheckpoint(eager=True)
        )
        commit_version(merged, state_store)
        report = (
            merged.groupBy("column")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sketch"),
                 F.max("h").cast("long").alias("kth_hash"))
            .select(
                "column", "n_sketch", "kth_hash",
                F.when(F.col("n_sketch") < kk, F.col("n_sketch"))
                .otherwise(
                    F.expr(f"{(kk - 1) * KMV_SPACE} DIV "
                           f"greatest(kth_hash, 1)"))
                .cast("long").alias("est_distinct"),
            )
        )
        commit_version(report, sketch_path)

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", f"{checkpoint}/ck")
        .trigger(availableNow=True)
        .start()
    )


def _max_committed_batch_id(spark, store_path: str) -> int:
    """Newest ``batch_id`` already committed to an append-mode versioned
    store, or -1 for an empty/missing one — the foreachBatch
    exactly-once guard: Structured Streaming replays a micro-batch when
    a crash lands between the store commit and the checkpoint commit,
    and without this check the replay would append the same batch's
    rows a second time.  Each append commit's NEWEST data dir holds
    exactly one micro-batch, so the check reads only that dir — bounded
    by one batch, not by the store's history."""
    from ..jobs.versioned import _read_manifest, list_versions

    versions = list_versions(spark, store_path)
    if not versions:
        return -1
    m = _read_manifest(spark, store_path, versions[-1])
    row = (spark.read.parquet(f"{store_path}/{m['dirs'][-1]}")
           .agg(F.max("batch_id").alias("b")).head())
    return -1 if row is None or row["b"] is None else int(row["b"])


def stream_vector_index_upsert(emb_stream: DataFrame, index_path: str,
                               checkpoint: str, dim: int | None = None,
                               tol: float | None = None,
                               compact_hint_dirs: int = 8,
                               auto_compact: bool = False,
                               rebalance_hint_permille: int | None
                               = None,
                               auto_rebalance: bool = False,
                               vectors_path: str | None = None,
                               max_rebalance_splits: int = 4):
    """foreachBatch maintenance of a manifest-committed vector index
    (any kind ``write_index`` builds — the layout kind AND dim are read
    from the index's own manifest, never trusted from the caller) from a
    live feed — the streaming twin of
    :func:`~..pipeline.similarity.index_upsert`, closing the
    vector-serving loop the way stream_incremental_dedup closes the
    dedup one.

    Per micro-batch: duplicate vec_ids WITHIN the batch collapse first
    (at-least-once delivery can replay rows; the upsert's key-unique
    contract is a correctness guard, not a replay handler), then the
    kind's OWN upsert runs — all-new ids append a codes dir
    (cluster-partitioned on the IVF kinds, so probed reads keep pruning),
    re-submitted ids are keyed-replaced, and an SQ8-family batch whose
    values drift past the trained quantizer range writes NOTHING (PQ
    batches always encode — codebook staleness surfaces through the
    recall monitor, ``maintain_index``, not a range guard).  Every
    decision is committed as a row to the versioned store at
    ``<index_path>/_state/decisions`` (batch_id, decision, n_new,
    n_replaced, n_drifted_dims) — the rebuild signal an operator
    watches, auditable across restarts.  Index commits stay atomic
    (manifest rename), so a crash mid-batch leaves the previous index
    version fully readable and the checkpoint replays the batch.

    ``dim`` exists only to ASSERT against the manifest (a value that
    disagrees raises instead of corrupting appended code blobs).

    Replay-idempotent: a batch_id at or below the decisions store's
    newest committed batch_id is skipped outright (the crash window
    between the decision commit and the checkpoint commit), and a
    replay that re-runs the index upsert itself (crash BETWEEN the
    index commit and the decision commit) lands as a keyed replacement
    — the index never double-counts.  When the post-upsert manifest
    references >= ``compact_hint_dirs`` codes dirs, a ``compact`` hint
    row (n_new = dir count) is appended to the decisions store —
    or, with ``auto_compact=True``, the maintainer runs
    ``compact_index`` itself inside the same micro-batch and records a
    ``compacted`` row instead (retention stays an operator choice:
    ``vacuum_index`` is never run automatically).

    ``rebalance_hint_permille`` (opt-in) adds the skew watch on the
    IVF kinds: when the post-upsert max/mean list size crosses the
    threshold, a ``rebalance`` hint row (n_new = imbalance permille)
    points the operator at ``rebalance_index``'s O(hot cluster) split
    — the hint costs one k-row groupBy per micro-batch, the split
    itself stays an operator action unless ``auto_rebalance=True``:
    then the maintainer ACTS on its own hint inside the same
    micro-batch, calling ``rebalance_index`` (which needs the true
    embeddings — ``vectors_path`` is re-read per batch, the
    ``allowed_path`` contract) and looping while the NEXT-hottest
    list still crosses the threshold, capped at
    ``max_rebalance_splits`` per batch so one skewed feed can't stall
    the stream.  Each split commits a ``rebalanced`` row (n_new = the
    imbalance it repaired); a degenerate hot list (``unsplittable``)
    or a now-balanced index ends the loop with its decision recorded,
    so the audit trail shows exactly what the maintainer did.
    """
    from ..jobs.versioned import commit_version
    from ..pipeline.similarity import (
        INDEX_KINDS,
        SQ_DRIFT_TOL,
        _index_manifest,
        index_upsert,
    )

    t = SQ_DRIFT_TOL if tol is None else tol
    if auto_rebalance and (vectors_path is None
                           or rebalance_hint_permille is None):
        raise ValueError(
            "auto_rebalance=True needs vectors_path (rebalance_index "
            "splits on TRUE embeddings) and rebalance_hint_permille "
            "(the threshold it acts on)")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # replay guard: a crash between the decision commit and the
        # checkpoint commit re-delivers this batch_id — skip it (the
        # index AND its decision row already landed).  A crash between
        # the INDEX commit and the decision commit re-runs the upsert,
        # which the keyed-replacement contract absorbs (same vec_ids →
        # replace), so the index never double-counts either way.
        decisions = f"{index_path}/_state/decisions"
        if _max_committed_batch_id(spark, decisions) >= int(batch_id):
            return
        batch = (batch_df.dropDuplicates(["vec_id"])
                 .localCheckpoint(eager=True))
        if not batch.head(1):
            return
        kind = _index_manifest(spark, index_path).get("kind", "sq8")
        st = index_upsert(spark, index_path, batch, dim=dim, tol=t)
        n_drifted = len(st.get("drifted_dims", []))
        rows = [(int(batch_id), st["decision"], int(st.get("n_new", 0)),
                 int(st.get("n_replaced", 0)), n_drifted)]
        # ops-loop closure: append-heavy feeds fragment the codes list
        # one dir per batch; once the POST-upsert manifest crosses the
        # threshold, emit a `compact` hint row (n_new carries the dir
        # count) telling the operator to run compact_index + vacuum —
        # the same decision-as-data contract as the upsert itself
        n_dirs = len(_index_manifest(spark, index_path)
                     .get("codes", []))
        if n_dirs >= compact_hint_dirs:
            if auto_compact:
                from ..pipeline.similarity import compact_index

                compact_index(spark, index_path)
                rows.append((int(batch_id), "compacted",
                             int(n_dirs), 0, 0))
            else:
                rows.append((int(batch_id), "compact",
                             int(n_dirs), 0, 0))
        # skew watch (opt-in: one k-row groupBy per batch): a feed
        # concentrated in one embedding region grows one IVF list —
        # emit a `rebalance` hint (n_new carries the hot list's
        # imbalance permille) pointing the operator at
        # rebalance_index's O(hot cluster) split
        if rebalance_hint_permille is not None and \
                INDEX_KINDS[kind].ivf:
            from ..pipeline.similarity import _manifest_codes

            m_now = _index_manifest(spark, index_path)
            ns = [int(r["n"]) for r in
                  _manifest_codes(spark, index_path, m_now)
                  .groupBy("cluster_id").agg(
                      F.count(F.lit(1)).alias("n")).collect()]
            imb = int(1000 * max(ns) / (sum(ns) / len(ns)))
            if imb > rebalance_hint_permille and not auto_rebalance:
                rows.append((int(batch_id), "rebalance",
                             int(imb), 0, 0))
            elif imb > rebalance_hint_permille:
                # act on the hint: O(hot cluster) splits, looping
                # while the NEXT-hottest still crosses the threshold,
                # capped per batch so a skewed feed can't stall the
                # stream.  rebalance_index re-measures each round, so
                # the loop's exit conditions are its own decisions.
                from ..pipeline.similarity import rebalance_index

                vecs = spark.read.parquet(vectors_path)
                for _ in range(max_rebalance_splits):
                    rst = rebalance_index(
                        spark, index_path, vecs,
                        max_imbalance_permille=rebalance_hint_permille)
                    if rst["decision"] == "split":
                        rows.append((int(batch_id), "rebalanced",
                                     int(rst["imbalance_permille"]),
                                     int(rst["n_vectors_moved"]), 0))
                        continue
                    # balanced / unsplittable / flat_kind: record and
                    # stop — re-running cannot make progress
                    rows.append((int(batch_id), rst["decision"],
                                 int(rst.get("imbalance_permille", 0)),
                                 0, 0))
                    break
        decision = spark.createDataFrame(
            rows,
            "batch_id long, decision string, n_new long, "
            "n_replaced long, n_drifted_dims long")
        commit_version(decision, f"{index_path}/_state/decisions",
                       mode="append")

    return (
        emb_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", f"{checkpoint}/ck")
        .trigger(availableNow=True)
        .start()
    )


def stream_vector_search(query_stream: DataFrame, index_path: str,
                         vectors: DataFrame, results_path: str,
                         checkpoint: str, k: int = 10,
                         nprobe: int | None = None,
                         allowed_path: str | None = None,
                         where: str | None = None):
    """foreachBatch ANN SERVING from a live query feed — the retrieval
    twin of ``stream_vector_index_upsert``: each micro-batch of
    ``(query_id, embedding)`` rows runs through the index's BATCH
    serving path (ONE distributed plan per micro-batch, never a
    driver loop over queries) against the newest COMMITTED index
    snapshot, and the ranked results land in the versioned store at
    ``results_path`` as ``(batch_id, query_id, rank, neighbor_id,
    cos_sim)`` — atomically published per batch, so a results reader
    never sees a half-served batch.

    Kind-dispatched from the index manifest (the IVF kinds probe +
    prune; the flat kinds scan their codes once per batch).  Duplicate query_ids
    within a batch collapse first (replay handling, as in the upsert
    stream).  Because the manifest is re-resolved per batch, a
    concurrent upsert/compaction/rebuild is picked up at the next
    micro-batch boundary — serving reads are never torn (the manifest
    rename is the only publication point).  Replay-idempotent: a
    batch_id at or below the results store's newest committed batch_id
    is skipped, so the crash window between the results commit and the
    checkpoint commit cannot double-publish a batch.

    ``allowed_path`` makes this FILTERED serving (the production
    shape: a tenant/collection allow-list): a ``vec_id`` parquet
    re-read per micro-batch — upstream changes to the allow-list are
    picked up at the next batch boundary, same contract as the index
    manifest — and passed to the kind's batch path, where it
    semi-joins before the shortlist (with per-query adaptive probe
    widening on the IVF kinds, so a restrictive list cannot starve
    any query in the batch).

    ``nprobe=None`` (the default) serves every micro-batch at the
    manifest's tuned operating point — a ``tune_index`` commit or a
    maintainer's persisted bump takes effect at the next batch
    boundary with no stream restart, exactly like an upsert."""
    from pyspark.sql import functions as F

    from ..jobs.versioned import commit_version
    from ..pipeline.similarity import index_topk_batch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # replay guard (exactly-once results): a crash after the results
        # commit but before the checkpoint commit re-delivers this
        # batch_id — without the check the replay would append a second
        # copy of the batch's rows to the results store
        if _max_committed_batch_id(spark, results_path) >= int(batch_id):
            return
        queries = (batch_df.dropDuplicates(["query_id"])
                   .localCheckpoint(eager=True))
        if not queries.head(1):
            return
        allowed = (spark.read.parquet(allowed_path).select("vec_id")
                   if allowed_path is not None else None)
        # `where` = stored-attribute pushdown: the predicate lands on
        # every micro-batch's codes scan as a parquet filter; the IVF
        # kinds add adaptive probe widening under it
        res = index_topk_batch(
            spark, index_path, queries, vectors, k=k,
            nprobe=nprobe, allowed=allowed, where=where)
        commit_version(
            res.select(F.lit(int(batch_id)).alias("batch_id"),
                       "query_id", "rank", "neighbor_id", "cos_sim"),
            results_path, mode="append")

    return (
        query_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", f"{checkpoint}/ck")
        .trigger(availableNow=True)
        .start()
    )
