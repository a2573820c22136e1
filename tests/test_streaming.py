"""Structured Streaming: the streaming windowed aggregation must agree
with its batch twin (same window math, same measures)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
    list_versions,
    read_version,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    _index_manifest,
    compact_index,
    ivf_sq8_index_topk,
    ivf_sq8_index_upsert,
    read_index_codes,
    write_ivf_sq8_index,
)
from public_transit_data_platform_sql_nosql_spark.queries.events import (
    windowed_counts,
)
from public_transit_data_platform_sql_nosql_spark.sources.tpch_adapter import (
    register_tpch,
)
from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
    read_events_stream,
    run_to_memory,
    stream_vector_search,
    stream_windowed_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def test_stream_matches_batch(spark):
    stream = read_events_stream(spark, SF_DIR)
    assert stream.isStreaming
    run_to_memory(stream_windowed_counts(stream), "stream_win_counts")
    got = {
        (r.window_start_sec, r.event_type): (r.n_events, r.sum_cents)
        for r in spark.table("stream_win_counts").collect()
    }

    batch = windowed_counts(
        register_tpch(spark, SF_DIR, ("events",))["events"]
    ).select("window_start_sec", "event_type", "n_events", "sum_cents")
    want = {
        (r.window_start_sec, r.event_type): (r.n_events, r.sum_cents)
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_incremental_refresh_appends(spark, tmp_path):
    """foreachBatch refresh: streamed stop_times-like rows land in the
    sink exactly once under availableNow."""
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        events_file_schema,
        incremental_refresh,
    )

    stream = (
        spark.readStream.schema(events_file_schema(spark, SF_DIR))
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    q = incremental_refresh(
        stream,
        lambda df: df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")),
        sink,
        chk,
    )
    q.awaitTermination()
    out = spark.read.parquet(sink)
    total = out.agg(F.sum("n")).collect()[0][0]
    expected = (
        register_tpch(spark, SF_DIR, ("events",))["events"].count()
    )
    assert total == expected


def test_session_windows_match_batch_invariants(spark):
    from public_transit_data_platform_sql_nosql_spark.queries.events import (
        sessionize,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_session_windows,
    )

    stream = read_events_stream(spark, SF_DIR)
    run_to_memory(stream_session_windows(stream), "stream_sessions")
    got = spark.table("stream_sessions").collect()
    assert len(got) > 0
    events = register_tpch(spark, SF_DIR, ("events",))["events"]
    # totals are conserved regardless of session boundary grain
    assert sum(r.n_events for r in got) == events.count()
    batch_n = sessionize(events).count()
    # second-grain gap can only merge/split near-boundary sessions
    assert abs(len(got) - batch_n) <= 0.02 * batch_n
    # per-user sessions must not overlap
    by_user = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append(
            (r.session_start_sec, r.session_end_sec))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1


def test_stream_exact_dedup_matches_batch_keys(spark):
    """Streaming dedup must keep exactly one doc per md5 key, and each
    kept doc must belong to that key's batch dup-group (the kept
    REPRESENTATIVE may differ from batch's min-doc_id — arrival order —
    but the kept KEY set is identical)."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.dedup import (
        exact_dedup,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        read_documents_stream,
        stream_exact_dedup,
    )

    stream = read_documents_stream(spark, SF_DIR)
    assert stream.isStreaming
    run_to_memory(stream_exact_dedup(stream), "stream_dedup",
                  mode="append")
    got = spark.table("stream_dedup").collect()
    docs = register_tpch(spark, SF_DIR, ("documents",))["documents"]
    batch = exact_dedup(docs).collect()
    groups: dict[str, set] = {}
    for r in batch:
        groups.setdefault(r["text_md5"], set()).add(r["doc_id"])
    # one kept row per distinct key; the keeper is a group member
    assert len(got) == len(groups)
    assert {r["text_md5"] for r in got} == set(groups)
    assert all(r["doc_id"] in groups[r["text_md5"]] for r in got)


def test_stateful_running_totals_match_batch(spark):
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_user_running_totals,
    )

    stream = read_events_stream(spark, SF_DIR)
    run_to_memory(stream_user_running_totals(stream), "stream_totals",
                  mode="update")
    got = {
        r.user_id: (r.n_events, r.sum_cents)
        for r in spark.table("stream_totals").collect()
    }
    events = register_tpch(spark, SF_DIR, ("events",))["events"]
    want = {
        r.user_id: (r.n, r.cents)
        for r in events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(round(value * 100) AS bigint)"))
            .alias("cents"),
        ).collect()
    }
    assert got == want


def test_normalize_events_ts_all_physical_types(spark):
    """The driver has shipped events.ts as nanos-long and timestamp[us]
    across rounds; every branch must land on the same epoch-nanos value,
    independent of the session timezone."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from public_transit_data_platform_sql_nosql_spark.sources.tpch_adapter import (
        normalize_events_ts,
    )

    wall = datetime.datetime(2026, 3, 5, 12, 34, 56, 789012)
    nanos = 1772714096789012000  # 2026-03-05T12:34:56.789012Z

    long_df = spark.createDataFrame(
        [(nanos,)], T.StructType([T.StructField("ts", T.LongType())]))
    ntz_df = spark.createDataFrame(
        [(wall,)], T.StructType([T.StructField("ts", T.TimestampNTZType())]))
    # TimestampType: build from the NTZ wall clock in an explicit UTC
    # session so the fixture is timezone-pinned
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        tz_df = spark.createDataFrame(
            [(wall,)], T.StructType([T.StructField("ts", T.TimestampType())]))
        results = {
            name: normalize_events_ts(df).select("ts").collect()[0][0]
            for name, df in (("long", long_df), ("ntz", ntz_df),
                             ("tz", tz_df))
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert results == {"long": nanos, "ntz": nanos, "tz": nanos}, results
    # and the NTZ arithmetic is session-timezone-proof
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        shifted = normalize_events_ts(ntz_df).select("ts").collect()[0][0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert shifted == nanos


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streaming ingest hygiene: decontaminating each micro-batch against
    a static eval set (foreachBatch + the batch operators) keeps exactly
    the docs the batch pipeline keeps — the corpus-hygiene ops run
    incrementally with no streaming-specific rewrite."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.dedup import (
        decontaminate_report,
        drop_contaminated,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        incremental_refresh,
        read_documents_stream,
    )

    docs = register_tpch(spark, SF_DIR, ("documents",))["documents"]
    eval_docs = docs.filter("doc_id % 11 = 0")

    def clean(batch):
        return drop_contaminated(
            batch, decontaminate_report(batch, eval_docs))

    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    q = incremental_refresh(
        read_documents_stream(spark, SF_DIR), clean, sink, chk)
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    want = {r["doc_id"] for r in drop_contaminated(
        docs, decontaminate_report(docs, eval_docs)).collect()}
    assert got == want and len(got) > 0


def test_stream_bounded_dedup_drops_redeliveries(spark):
    """A doubled source (the same file delivered by two file-source
    streams — the at-least-once redelivery shape) must come out with
    each event_id exactly once, via watermark-bounded state."""
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        read_events_stream,
        stream_bounded_dedup,
    )

    doubled = read_events_stream(spark, SF_DIR).unionByName(
        read_events_stream(spark, SF_DIR))
    run_to_memory(stream_bounded_dedup(doubled), "stream_bdedup",
                  mode="append")
    got = spark.table("stream_bdedup").collect()
    n_distinct = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                  .select("event_id").distinct().count())
    assert len(got) == n_distinct
    assert len({r["event_id"] for r in got}) == n_distinct


def test_stream_range_enrich_matches_batch(spark):
    """Streaming events x static intervals == the batch range_join on
    the same inputs (ids compared; the stream delivers the same file)."""
    from public_transit_data_platform_sql_nosql_spark.operators.asof import (
        range_join,
    )
    from public_transit_data_platform_sql_nosql_spark.sources.tpch_adapter import (  # noqa: E501
        register_tpch,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        read_events_stream,
        stream_range_enrich,
    )

    batch_events = register_tpch(spark, SF_DIR, ("events",))["events"]
    lo, hi = batch_events.selectExpr(
        "min(ts)", "max(ts)").first()
    span = (hi - lo) // 20
    intervals = spark.createDataFrame(
        [(i, lo + i * span, lo + (i + 2) * span) for i in range(10)],
        "window_id long, start_ts long, end_ts long",
    )
    width = int(span)

    stream = read_events_stream(spark, SF_DIR).select("event_id", "ts")
    run_to_memory(
        stream_range_enrich(stream, intervals, bucket_width=width),
        "stream_enrich", mode="append")
    got = {(r["event_id"], r["window_id"])
           for r in spark.table("stream_enrich").collect()}
    want = {(r["event_id"], r["window_id"])
            for r in range_join(
                batch_events.select("event_id", "ts"), intervals,
                "ts", "start_ts", "end_ts", bucket_width=width).collect()}
    assert got == want and len(want) > 0


def test_stream_corpus_report_matches_batch(spark, tmp_path):
    """The additively maintained live dashboard equals the batch
    corpus_report over the union of all micro-batches — including dup
    accounting across AND within batches — and every intermediate
    report stays readable via the versioned store."""
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        list_versions,
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        corpus_report,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_corpus_report,
    )

    src = str(tmp_path / "src")
    batches = [
        # batch 0: an intra-batch dup (docs 0/1 same text, same slice)
        [(0, "the cat sat", "en", "s1"), (1, "the cat sat", "en", "s1"),
         (2, "", "en", "s1"), (3, "bonjour le monde", "fr", "s2")],
        # batch 1: a cross-batch dup (doc 4 repeats batch 0's text) and
        # the same text in a DIFFERENT slice (doc 5 -> not a dup there)
        [(4, "the cat sat", "en", "s1"), (5, "the cat sat", "en", "s2"),
         (6, "mehr deutscher text", "de", "s1")],
        # batch 2: fresh rows only
        [(7, "short", "fr", "s2"), (8, "the cat sat again", "en", "s1")],
    ]
    schema = "doc_id long, text string, lang string, source string"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    report = str(tmp_path / "report")
    q = stream_corpus_report(stream, report,
                             str(tmp_path / "chk"))
    q.awaitTermination()

    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], schema)
    want = {
        (r["source"], r["lang"]): tuple(r)[2:]
        for r in corpus_report(all_docs).collect()}
    final = {
        (r["source"], r["lang"]): tuple(r)[2:]
        for r in read_version(spark, report).collect()}
    assert final == want
    # one committed report per micro-batch, all still readable
    versions = list_versions(spark, report)
    assert len(versions) == 3
    v0 = {(r["source"], r["lang"]): r["n_dup_texts"]
          for r in read_version(spark, report, versions[0]).collect()}
    assert v0[("s1", "en")] == 1  # the intra-batch dup, seen live


def test_stream_stream_attribution_matches_batch(spark):
    """Watermarked STREAM-STREAM join == the same join run as batch on
    the same file: every (view, purchase) pair per user within the
    delay horizon, exactly once.  Single-file source => one micro-batch
    per side, so no pair straddles a watermark cutoff and set equality
    must be exact."""
    from public_transit_data_platform_sql_nosql_spark.sources.tpch_adapter import (  # noqa: E501
        register_tpch,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        NS,
        read_events_stream,
        run_to_memory,
        stream_stream_attribution,
    )

    delay = 3600
    views_s = read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "view")
    purch_s = read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "purchase")
    run_to_memory(
        stream_stream_attribution(views_s, purch_s,
                                  max_delay_secs=delay),
        "stream_attr", mode="append")
    got = {(r["user_id"], r["view_event_id"], r["purchase_event_id"],
            r["cents"], r["delay_sec"])
           for r in spark.table("stream_attr").collect()}

    ev = register_tpch(spark, SF_DIR, ("events",))["events"]
    v = ev.filter(F.col("event_type") == "view").selectExpr(
        "user_id AS vu", "event_id AS ve", "ts div 1000000000 AS vs")
    p = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id AS pu", "event_id AS pe",
        "cast(round(value * 100) AS bigint) AS cents",
        "ts div 1000000000 AS ps")
    want = {(r["vu"], r["ve"], r["pe"], r["cents"], r["ps"] - r["vs"])
            for r in v.join(
                p, (F.col("vu") == F.col("pu"))
                & (F.col("ps") >= F.col("vs"))
                & (F.col("ps") <= F.col("vs") + delay)).collect()}
    assert got == want and len(want) > 0


def test_stream_kmv_matches_batch_sketch(spark, tmp_path):
    """The incrementally merged KMV sketch equals kmv_distinct over the
    union of all micro-batches — exact-merge property, cross-batch
    duplicates collapsing into one hash — and intermediate versions
    stay auditable."""
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        list_versions,
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.profile import (
        kmv_distinct,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_kmv_cardinality,
    )

    src = str(tmp_path / "src")
    schema = "doc_id long, text string, lang string, source string"
    batches = [
        [(i, f"text {i % 40}", "en", f"s{i % 3}") for i in range(60)],
        # cross-batch dup texts + fresh ids
        [(100 + i, f"text {i % 40}", "fr", "s0") for i in range(50)],
        [(200 + i, f"other {i}", "de", "s1") for i in range(30)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    sketch = str(tmp_path / "sketch")
    cols = ("doc_id", "text", "lang", "source")
    q = stream_kmv_cardinality(stream, sketch, str(tmp_path / "chk"),
                               columns=cols, k=16)
    q.awaitTermination()

    assert len(list_versions(spark, sketch)) == len(batches)
    got = sorted(
        map(tuple, read_version(spark, sketch).collect()))
    whole = spark.createDataFrame(
        [r for rows in batches for r in rows], schema)
    want = sorted(
        map(tuple, kmv_distinct(whole, list(cols), k=16).collect()))
    assert got == want
    # under-k columns are exact: 3 langs, 3 sources
    by_col = {r[0]: r[3] for r in got}
    assert by_col["lang"] == 3
    assert by_col["source"] == 3


def test_stream_vector_index_upsert(spark, tmp_path):
    """Streaming SQ8 maintenance: an append batch, a keyed-replacement
    batch, and a drifted batch arrive as separate micro-batches; the
    final index equals what the batch upserts would produce in any
    order (disjoint effects by construction), the drifted batch writes
    nothing, and the decisions store records one auditable row per
    batch."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        read_index_codes,
        sq8_index_topk,
        write_sq8_index,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_vector_index_upsert,
    )

    emb = E._emb(spark, SF_DIR)
    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    idx = str(tmp_path / "idx")
    write_sq8_index(base, idx)
    n0 = read_index_codes(spark, idx).count()

    src = str(tmp_path / "src")
    # batch A: 5 new ids (copies of in-range vectors); includes an
    # intra-batch duplicate row to exercise the replay collapse
    a = emb.filter("vec_id >= 10 AND vec_id < 15").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    a.unionByName(a.limit(1)).coalesce(1).write.parquet(f"{src}/a.parquet")
    # batch B: re-submits vec 20 carrying vec 21's embedding
    emb.filter("vec_id = 21").select(
        F.lit(20).cast("long").alias("vec_id"), "embedding"
    ).coalesce(1).write.parquet(f"{src}/b.parquet")
    # batch C: 100x-scaled values -> drift refusal
    emb.filter("vec_id < 2").select(
        (F.col("vec_id") + 90_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(100.0))
        .cast("array<float>").alias("embedding"),
    ).coalesce(1).write.parquet(f"{src}/c.parquet")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    q = stream_vector_index_upsert(stream, idx, str(tmp_path / "chk"))
    q.awaitTermination()

    codes = read_index_codes(spark, idx)
    assert codes.count() == n0 + 5          # +5 appends, 1 replace, 0 drift
    assert codes.filter("vec_id = 20").count() == 1
    assert codes.filter("vec_id >= 90000").count() == 0
    assert codes.groupBy("vec_id").count().filter("count > 1").count() == 0

    decisions = sorted(
        map(tuple, read_version(
            spark, f"{idx}/_state/decisions").collect()))
    kinds = sorted(d[1] for d in decisions)
    assert kinds == ["appended", "rebuild", "replaced"]
    by_kind = {d[1]: d for d in decisions}
    assert by_kind["appended"][2] == 5      # dup row collapsed
    assert by_kind["replaced"][3] == 1
    assert by_kind["rebuild"][4] > 0

    # the replacement is servable: vec 20 now answers for vec 21
    vectors = base.filter("vec_id != 20").unionByName(
        spark.createDataFrame(
            [(20,)], "vec_id long").join(
            emb.filter("vec_id = 21").select("embedding")))
    qvec = [float(x)
            for x in emb.filter("vec_id = 21").head()["embedding"]]
    top = sorted(sq8_index_topk(spark, idx, qvec, vectors, k=2).collect(),
                 key=lambda r: r["rank"])
    assert {top[0]["neighbor_id"], top[1]["neighbor_id"]} >= {20}


def test_stream_vector_index_upsert_dispatches_pq(spark, tmp_path):
    """The streaming maintainer reads the layout kind from the index
    manifest: over a write_pq_index layout the same job encodes batches
    against the stored codebooks (no SQ8 drift guard) and records the
    decision rows identically."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        read_index_codes,
        write_pq_index,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        stream_vector_index_upsert,
    )

    emb = E._emb(spark, SF_DIR)
    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    idx = str(tmp_path / "pq")
    write_pq_index(base, idx)
    n0 = read_index_codes(spark, idx).count()

    src = str(tmp_path / "src")
    emb.filter("vec_id >= 10 AND vec_id < 13").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding"
    ).coalesce(1).write.parquet(f"{src}/a.parquet")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    q = stream_vector_index_upsert(stream, idx, str(tmp_path / "chk"))
    q.awaitTermination()

    codes = read_index_codes(spark, idx)
    assert codes.count() == n0 + 3
    # identical vector -> identical codes through the streaming path too
    assert bytes(codes.filter("vec_id = 10").head()["codes"]) \
        == bytes(codes.filter("vec_id = 50010").head()["codes"])
    decisions = read_version(spark, f"{idx}/_state/decisions").collect()
    assert len(decisions) == 1
    assert decisions[0]["decision"] == "appended"
    assert decisions[0]["n_new"] == 3
    assert decisions[0]["n_drifted_dims"] == 0


def test_streaming_upsert_dispatches_ivf_sq8(spark, emb, tmp_path):
    """The streaming maintainer routes an ivf_sq8 index to the
    kind-true upsert: the manifest keeps kind + centroids, the batch
    lands cluster-partitioned, and the decision row is recorded."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (  # noqa: E501
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_index_upsert,
    )

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    idx = str(tmp_path / "idx")
    write_ivf_sq8_index(base, idx)
    n0 = read_index_codes(spark, idx).count()

    src = str(tmp_path / "src")
    (emb.filter("vec_id >= 10 AND vec_id < 15")
     .select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
     .coalesce(1).write.parquet(f"{src}/a.parquet"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(f"{src}/*.parquet")
    )
    q = stream_vector_index_upsert(stream, idx, str(tmp_path / "chk"))
    q.awaitTermination()

    m = _index_manifest(spark, idx)
    assert m["kind"] == "ivf_sq8" and "centroids" in m
    codes = read_index_codes(spark, idx)
    assert codes.count() == n0 + 5
    assert codes.filter("vec_id >= 50000 AND cluster_id IS NULL") \
        .count() == 0
    decisions = read_version(spark, f"{idx}/_state/decisions").collect()
    assert [d["decision"] for d in decisions] == ["appended"]


def test_stream_vector_search_serves_batches(spark, emb, tmp_path):
    """The retrieval twin of the upsert stream: micro-batches of query
    vectors run through the index's batch serving path against the
    newest committed snapshot; ranked results publish atomically per
    batch and equal the single-query path."""
    from pyspark.sql import functions as F  # noqa: F401

    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (  # noqa: E501
        read_version,
    )
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_search,
    )

    idx = str(tmp_path / "ivfsq8")
    write_ivf_sq8_index(emb, idx)
    src = str(tmp_path / "src")
    (emb.filter("vec_id < 2")
     .select(emb.vec_id.alias("query_id"), "embedding")
     .coalesce(1).write.parquet(f"{src}/a.parquet"))
    (emb.filter("vec_id >= 2 AND vec_id < 4")
     .select(emb.vec_id.alias("query_id"), "embedding")
     .coalesce(1).write.parquet(f"{src}/b.parquet"))

    stream = (
        spark.readStream
        .schema("query_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*.parquet")
    )
    results = str(tmp_path / "results")
    q = stream_vector_search(stream, idx, emb, results,
                             str(tmp_path / "chk"), k=5, nprobe=2)
    q.awaitTermination()

    rows = read_version(spark, results).collect()
    served = {}
    for r in rows:
        served.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["cos_sim"]))
    assert set(served) == {0, 1, 2, 3}
    for qid in range(4):
        single = sorted(
            (r["rank"], r["neighbor_id"], r["cos_sim"])
            for r in ivf_sq8_index_topk(
                spark, idx, _qvec(emb, qid), emb, k=5,
                nprobe=2).collect())
        assert sorted(served[qid]) == single, qid
    # per-batch atomic publication: two micro-batches, two batch ids
    assert len({r["batch_id"] for r in rows}) == 2


def _write_query_file(emb, lo, hi, dest):
    (emb.filter(f"vec_id >= {lo} AND vec_id < {hi}")
     .select(emb.vec_id.alias("query_id"), "embedding")
     .coalesce(1).write.parquet(dest))


def _query_stream(spark, src):
    return (spark.readStream
            .schema("query_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*.parquet"))


def test_stream_vector_search_replay_idempotent(spark, emb, tmp_path):
    """The exactly-once guard: a replayed micro-batch (fresh checkpoint
    over the same source → batch_id 0 re-delivered) is skipped — the
    results store gains no version and no duplicate rows."""
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_search,
    )

    idx = str(tmp_path / "idx")
    write_ivf_sq8_index(emb, idx)
    src = str(tmp_path / "src")
    _write_query_file(emb, 0, 2, f"{src}/a.parquet")
    results = str(tmp_path / "results")

    chk1 = str(tmp_path / "chk1")
    stream_vector_search(_query_stream(spark, src), idx, emb, results,
                         chk1, k=5, nprobe=2).awaitTermination()
    v0 = list_versions(spark, results)
    rows0 = sorted(map(tuple, read_version(spark, results).collect()))
    assert v0 and rows0

    # simulate the crash-after-commit replay: same source, batch_id 0
    # again (a wiped checkpoint restarts batch numbering)
    chk2 = str(tmp_path / "chk2")
    stream_vector_search(_query_stream(spark, src), idx, emb, results,
                         chk2, k=5, nprobe=2).awaitTermination()
    assert list_versions(spark, results) == v0
    assert sorted(map(tuple,
                      read_version(spark, results).collect())) == rows0


def test_stream_upsert_replay_idempotent(spark, emb, tmp_path):
    """Replay of an already-recorded maintenance batch is skipped: the
    decisions store keeps ONE row and the index gains no version."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_index_upsert,
    )

    idx = str(tmp_path / "idx")
    write_ivf_sq8_index(emb.filter("vec_id >= 10")
                        .select("vec_id", "embedding"), idx)
    src = str(tmp_path / "src")
    (emb.filter("vec_id < 4")
     .select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
     .coalesce(1).write.parquet(f"{src}/a.parquet"))

    def _stream():
        return (spark.readStream
                .schema("vec_id long, embedding array<float>")
                .parquet(f"{src}/*.parquet"))

    stream_vector_index_upsert(
        _stream(), idx, str(tmp_path / "chk1")).awaitTermination()
    iv = list_versions(spark, idx)
    dec0 = read_version(spark, f"{idx}/_state/decisions").collect()
    assert [d["decision"] for d in dec0] == ["appended"]
    n0 = read_index_codes(spark, idx).count()

    stream_vector_index_upsert(
        _stream(), idx, str(tmp_path / "chk2")).awaitTermination()
    assert list_versions(spark, idx) == iv
    assert read_index_codes(spark, idx).count() == n0
    dec1 = read_version(spark, f"{idx}/_state/decisions").collect()
    assert [d["decision"] for d in dec1] == ["appended"]


def test_stream_vector_search_picks_up_maintenance(spark, emb,
                                                   tmp_path):
    """The per-batch manifest re-resolution claim, interleaved: batch 1
    serves against the initial snapshot; an ivf_sq8 upsert AND a
    compaction land; batch 2 (same checkpoint — the next micro-batch
    boundary) serves the upserted vectors from the compacted
    manifest."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_search,
    )

    idx = str(tmp_path / "idx")
    base = emb.select("vec_id", "embedding")
    write_ivf_sq8_index(base, idx)
    src = str(tmp_path / "src")
    _write_query_file(emb, 0, 2, f"{src}/a.parquet")
    results = str(tmp_path / "results")
    chk = str(tmp_path / "chk")

    stream_vector_search(_query_stream(spark, src), idx, emb, results,
                         chk, k=3, nprobe=2).awaitTermination()
    served0 = {r["query_id"]
               for r in read_version(spark, results).collect()}
    assert served0 == {0, 1}

    # maintenance between micro-batch boundaries: upsert + compact
    batch = emb.filter("vec_id < 4").select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
    assert ivf_sq8_index_upsert(spark, idx, batch)["decision"] \
        == "appended"
    assert compact_index(spark, idx)["decision"] == "compacted"
    vectors = base.unionByName(batch)

    # batch 2: queries whose exact twins exist ONLY in the upsert
    (batch.limit(2)
     .select(F.col("vec_id").alias("query_id"), "embedding")
     .coalesce(1).write.parquet(f"{src}/b.parquet"))
    stream_vector_search(_query_stream(spark, src), idx, vectors,
                         results, chk, k=3, nprobe=2).awaitTermination()

    rows = read_version(spark, results).collect()
    new_served = {r["query_id"] for r in rows} - served0
    assert len(new_served) == 2 and all(q >= 50_000 for q in new_served)
    for qid in new_served:
        top = sorted((r for r in rows if r["query_id"] == qid),
                     key=lambda r: r["rank"])
        # the upserted twin is served at cos 1.0 (rank 1 or tied with
        # its original — both at 1.0)
        assert top[0]["cos_sim"] == 1.0
        assert qid in {t["neighbor_id"] for t in top if
                       t["cos_sim"] == 1.0}


def test_stream_upsert_emits_compact_hint(spark, emb, tmp_path):
    """Once the post-upsert manifest crosses the dir threshold, the
    maintainer appends a `compact` decision row carrying the dir count
    — the ops signal that closes the fragmentation loop."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "idx")
    write_ivf_sq8_index(emb.filter("vec_id >= 10")
                        .select("vec_id", "embedding"), idx)
    src = str(tmp_path / "src")
    (emb.filter("vec_id < 3")
     .select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
     .coalesce(1).write.parquet(f"{src}/a.parquet"))

    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_index_upsert,
    )

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(f"{src}/*.parquet"))
    stream_vector_index_upsert(stream, idx, str(tmp_path / "chk"),
                               compact_hint_dirs=2).awaitTermination()
    dec = sorted(read_version(spark, f"{idx}/_state/decisions")
                 .collect(), key=lambda r: r["decision"])
    assert [d["decision"] for d in dec] == ["appended", "compact"]
    hint = dec[1]
    assert hint["n_new"] == 2          # the manifest's codes-dir count
    # acting on the hint compacts back to one dir
    assert compact_index(spark, idx)["decision"] == "compacted"
    assert len(_index_manifest(spark, idx)["codes"]) == 1


def test_checkpoint_resume_skips_served_batches(spark, emb, tmp_path):
    """Sanity: resuming with the SAME checkpoint re-serves nothing
    (source offsets) — together with the replay guard, the results
    store holds exactly one copy of every batch under any crash
    topology."""
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_search,
    )

    idx = str(tmp_path / "idx")
    write_ivf_sq8_index(emb, idx)
    src = str(tmp_path / "src")
    _write_query_file(emb, 0, 2, f"{src}/a.parquet")
    results = str(tmp_path / "results")
    chk = str(tmp_path / "chk")
    stream_vector_search(_query_stream(spark, src), idx, emb, results,
                         chk, k=3).awaitTermination()
    v0 = list_versions(spark, results)
    stream_vector_search(_query_stream(spark, src), idx, emb, results,
                         chk, k=3).awaitTermination()
    assert list_versions(spark, results) == v0


def test_wiped_results_store_reserves(spark, emb, tmp_path):
    """The guard keys on the RESULTS store, not wall-clock state: if
    the store is wiped but the checkpoint survives, nothing re-serves
    (offsets); if both are wiped, the batch re-serves cleanly."""
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_search,
    )

    idx = str(tmp_path / "idx")
    write_ivf_sq8_index(emb, idx)
    src = str(tmp_path / "src")
    _write_query_file(emb, 0, 2, f"{src}/a.parquet")
    results = str(tmp_path / "results")
    stream_vector_search(_query_stream(spark, src), idx, emb, results,
                         str(tmp_path / "chk1"), k=3).awaitTermination()
    rows0 = sorted(map(tuple, read_version(spark, results).collect()))
    shutil.rmtree(results)
    stream_vector_search(_query_stream(spark, src), idx, emb, results,
                         str(tmp_path / "chk2"), k=3).awaitTermination()
    assert sorted(map(tuple,
                      read_version(spark, results).collect())) == rows0


def test_stream_upsert_auto_compact(spark, emb, tmp_path):
    """auto_compact=True: the maintainer acts on its own hint inside
    the micro-batch — the manifest folds back to one codes dir, a
    `compacted` decision row is recorded, and content survives."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (  # noqa: E501
        stream_vector_index_upsert,
    )

    idx = str(tmp_path / "idx")
    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    write_ivf_sq8_index(base, idx)
    src = str(tmp_path / "src")
    (emb.filter("vec_id < 3")
     .select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
     .coalesce(1).write.parquet(f"{src}/a.parquet"))

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .parquet(f"{src}/*.parquet"))
    stream_vector_index_upsert(stream, idx, str(tmp_path / "chk"),
                               compact_hint_dirs=2,
                               auto_compact=True).awaitTermination()

    m = _index_manifest(spark, idx)
    assert m["kind"] == "ivf_sq8" and len(m["codes"]) == 1
    dec = sorted(read_version(spark, f"{idx}/_state/decisions")
                 .collect(), key=lambda r: r["decision"])
    assert [d["decision"] for d in dec] == ["appended", "compacted"]
    codes = read_index_codes(spark, idx)
    assert codes.count() == base.count() + 3
    assert codes.filter("vec_id >= 50000").count() == 3


def test_stream_vector_search_filtered(spark, emb, tmp_path):
    """allowed_path restricts every served batch to the allow-list —
    and matches the batch-path answer under the same filter (the
    widening contract, through the streaming edge)."""
    path = str(tmp_path / "idx")
    write_ivf_sq8_index(emb, path)
    allow_ids = [r["vec_id"] for r in
                 emb.orderBy(F.desc("vec_id")).limit(6).collect()]
    allowed_path = str(tmp_path / "allowed")
    emb.filter(F.col("vec_id").isin(allow_ids)).select("vec_id") \
        .write.parquet(allowed_path)
    qsrc = str(tmp_path / "qsrc")
    emb.filter(F.col("vec_id").isin([3, 7])).select(
        F.col("vec_id").alias("query_id"), "embedding") \
        .write.parquet(qsrc)
    results = str(tmp_path / "results")
    q = stream_vector_search(
        spark.readStream.schema("query_id long, embedding "
                                "array<double>").parquet(qsrc),
        path, emb, results, str(tmp_path / "ck"), k=5, nprobe=1,
        allowed_path=allowed_path)
    q.awaitTermination(120)
    served = read_version(spark, results)
    rows = served.collect()
    assert len(rows) == 10                 # both queries fill k=5
    assert {r["neighbor_id"] for r in rows} <= set(allow_ids)
    allowed = emb.filter(F.col("vec_id").isin(allow_ids)) \
        .select("vec_id")
    single = [(r["rank"], r["neighbor_id"]) for r in
              ivf_sq8_index_topk(
                  spark, path,
                  [float(x) for x in emb.filter("vec_id = 3")
                   .head()["embedding"]],
                  emb, k=5, nprobe=1, allowed=allowed).collect()]
    got = [(r["rank"], r["neighbor_id"]) for r in
           served.filter(F.col("query_id") == 3)
           .orderBy("rank").collect()]
    assert got == single


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).

pytestmark = pytest.mark.slow
