"""CLI entry points: each subcommand drives its job end-to-end (invoked
in-process — the session is shared, the arg wiring is what's under
test)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.__main__ import (
    _parse_grid,
    build_serve_app,
    main,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
    _index_manifest,
)
from public_transit_data_platform_sql_nosql_spark.pipeline import (
    similarity as sim,
)
from tests.conftest import SF_DIR
from tests.test_tune import _hamming_blind_bucket
from tests.test_vector_index import _qvec


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def test_cli_denormalize_and_compact(spark, tmp_path, capsys):
    out = str(tmp_path / "denorm")
    assert main(["denormalize", "--sf-dir", SF_DIR, "--out", out,
                 "--bucket-stops"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["stops"] > 0 and payload["bucketed"] is True
    assert main(["compact", "--path", out, "--target-mb", "128"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"compacted", "files_before", "files_after"} <= set(stats)


def test_cli_precompute(spark, tmp_path, capsys):
    out = str(tmp_path / "results")
    assert main(["precompute", "--sf-dir", SF_DIR, "--out", out]) == 0
    from public_transit_data_platform_sql_nosql_spark.jobs.precompute import (
        precomputed_available,
    )

    for name in ("q1_busiest_stops", "q2_duration_speed",
                 "q3_transfer_points", "q4_hourly_frequency"):
        assert precomputed_available(out, name), name


def test_cli_serve_app_builds(spark):
    pytest.importorskip("flask")
    app = build_serve_app(spark, SF_DIR, None)
    app.config["TESTING"] = True
    client = app.test_client()
    assert client.get("/").status_code == 200
    assert client.get("/api/q1?limit=3").status_code == 200


def test_cli_serve_from_bucketed_store(spark, tmp_path, capsys):
    """serve --denorm-path over a bucketed doc store: endpoints answer
    identically to the in-memory build, with point lookups hitting the
    pruned path."""
    pytest.importorskip("flask")
    out = str(tmp_path / "denorm")
    assert main(["denormalize", "--sf-dir", SF_DIR, "--out", out,
                 "--bucket-stops"]) == 0
    capsys.readouterr()
    disk_app = build_serve_app(spark, SF_DIR, None, denorm_path=out)
    mem_app = build_serve_app(spark, SF_DIR, None)
    for app in (disk_app, mem_app):
        app.config["TESTING"] = True
    d, m = disk_app.test_client(), mem_app.test_client()
    assert (d.get("/get_timetable?stop_id=17").get_json()
            == m.get("/get_timetable?stop_id=17").get_json())
    assert (d.get("/get_arrivals?stop_id=17").get_json()
            == m.get("/get_arrivals?stop_id=17").get_json())


def test_cli_ingest(spark, tmp_path, capsys):
    from tests.test_ingest import _FEED

    feed = tmp_path / "feed"
    feed.mkdir()
    for fname, body in _FEED.items():
        (feed / fname).write_text(body)
    out = str(tmp_path / "parquet")
    assert main(["ingest", "--dataset-dir", str(feed), "--out", out,
                 "--bucket-by-trip"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(payload["tables"]) == {"calendar", "routes", "trips",
                                      "stops", "stop_times"}
    assert spark.read.parquet(payload["tables"]["stops"]).count() == 2
    # the bucketed variant landed as a metastore table too
    assert spark.table("gtfs_stop_times_bucketed").count() == 4


def test_cli_upsert(spark, tmp_path, capsys):
    import json

    from public_transit_data_platform_sql_nosql_spark.__main__ import main

    base = tmp_path / "base"
    batch = tmp_path / "batch"
    sink = str(tmp_path / "sink")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \
        .write.parquet(str(base))
    spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string") \
        .write.parquet(str(batch))

    assert main(["upsert", "--path", sink, "--updates", str(base),
                 "--key", "k"]) == 0
    assert main(["upsert", "--path", sink, "--updates", str(batch),
                 "--key", "k"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert json.loads(out[-1])["rows_upserted"] == 2
    got = {(r["k"], r["v"]) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_cli_dedup_index_build_and_apply(spark, tmp_path, capsys):
    base = str(tmp_path / "base")
    batch = str(tmp_path / "batch")
    idx = str(tmp_path / "idx")
    keep = str(tmp_path / "keep")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "spark shuffles partition data across the cluster stage")],
        "doc_id long, text string").write.parquet(base)
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight extra"),
         (11, "a wholly novel document with vocabulary of its very own")],
        "doc_id long, text string").write.parquet(batch)

    assert main(["dedup-index", "--path", idx, "--batch", base,
                 "--build"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built == {"built": True, "n_docs": 2}

    assert main(["dedup-index", "--path", idx, "--batch", batch,
                 "--keep-out", keep]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_new"] == 2 and stats["n_dup_vs_index"] == 1
    assert stats["n_kept"] == 1
    assert [r.doc_id for r in spark.read.parquet(keep).collect()] == [11]


def test_cli_plan(spark, capsys):
    assert main(["plan", "--query", "q1_busiest_stops",
                 "--sf-dir", SF_DIR, "--execute"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["query"] == "q1_busiest_stops"
    s = out["summary"]
    assert s["cartesian_products"] == 0
    assert s["take_ordered_and_project"] is True
    assert main(["plan", "--query", "no_such_query",
                 "--sf-dir", SF_DIR]) == 2
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "available" in err


def test_cli_delete_and_sql(spark, tmp_path, capsys):
    import json

    from public_transit_data_platform_sql_nosql_spark.__main__ import main

    sink = str(tmp_path / "sink")
    keys = tmp_path / "keys"
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                          "k long, v string").write.parquet(sink)
    spark.createDataFrame([(2,)], "k long").write.parquet(str(keys))

    assert main(["delete", "--path", sink, "--keys", str(keys),
                 "--key", "k"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows_deleted"] == 1

    assert main(["delete", "--path", sink, "--where", "v = 'c'"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows_deleted"] == 1
    got = {(r["k"], r["v"]) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "a")}

    # exactly one of --keys/--where
    assert main(["delete", "--path", sink]) == 2

    # ad-hoc SQL over the registered views
    assert main(["sql", "--sf-dir", SF_DIR, "--limit", "3",
                 "SELECT stop_id FROM stops ORDER BY stop_id"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["columns"] == ["stop_id"] and len(out["rows"]) == 3


def test_cli_tokenizer_train(spark, tmp_path, capsys):
    """tokenizer-train learns merges from a documents parquet, writes
    the JSON artifact, and the table round-trips into bpe_encode
    matching the Python trainer on the same corpus."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.bpe import (
        bpe_encode,
        learn_merges_py,
    )

    texts = ["the thing sings", "a singing thing", "rings and things"]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string").write.parquet(docs_dir)
    out = str(tmp_path / "merges.json")
    assert main(["tokenizer-train", "--docs", docs_dir,
                 "--n-merges", "6", "--out", out]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["n_merges"] == 6
    payload = json.loads(open(out).read())
    want = learn_merges_py(texts, 6)
    assert payload["merges"] == [[a, b] for _, a, b, _, _ in want]
    merges = [tuple(m) for m in payload["merges"]]
    assert bpe_encode("the singing thing", merges) == bpe_encode(
        "the singing thing", [(a, b) for _, a, b, _, _ in want])


def test_cli_snapshot(spark, tmp_path, capsys):
    """snapshot subcommand: commit twice (second append), list, read a
    pinned version, vacuum to 1."""
    store = str(tmp_path / "store")
    d1 = str(tmp_path / "d1")
    d2 = str(tmp_path / "d2")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(d1)
    spark.createDataFrame([(2, "b")], "k long, v string").write.parquet(d2)

    assert main(["snapshot", "--path", store, "--commit", d1]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["version"] == 0
    assert main(["snapshot", "--path", store, "--commit", d2,
                 "--append"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["mode"] == "append"

    assert main(["snapshot", "--path", store]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["versions"] == [0, 1]

    assert main(["snapshot", "--path", store, "--read", "0"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows"] == 1
    assert main(["snapshot", "--path", store, "--read", "-1"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows"] == 2

    assert main(["snapshot", "--path", store, "--vacuum-keep", "1"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["kept_versions"] == [1]


def test_cli_stats_build_and_probe(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    path = str(tmp_path / "facts")
    (spark.range(1000).select(F.col("id").alias("k"))
     .repartitionByRange(8, "k").write.parquet(path))
    assert main(["stats", "--path", path, "--build", "k"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["files_profiled"] == 8
    assert main(["stats", "--path", path, "--probe", "k:0:10"]) == 0
    plan = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert plan["total"] == 8 and plan["skipped"] >= 7
    assert plan["stale"] is False


def test_cli_web_curate(spark, tmp_path, capsys):
    """web-curate runs the URL funnel end to end: blocklist drops the
    blocked subtree, canonicalization keeps one copy per canonical URL,
    the domain cap bites the hot domain, and the funnel counts add up."""
    rows = (
        # hot domain: 20 docs, 10 canonical urls (utm twins), cap 5
        [(i, f"https://hot.example.com/p/{i % 10}"
          + ("?utm_source=x" if i >= 10 else "")) for i in range(20)]
        # blocked subtree
        + [(100 + i, f"https://m{i}.bad.org/x") for i in range(3)]
        # clean tail
        + [(200 + i, f"https://t{i}.net/y") for i in range(4)]
    )
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, url string") \
        .write.parquet(docs_dir)
    out = str(tmp_path / "curated")
    assert main(["web-curate", "--docs", docs_dir, "--out", out,
                 "--block", "bad.org", "--cap", "5"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["n_in"] == 27 and st["n_blocked"] == 3
    assert st["n_url_dups_dropped"] == 10      # 20 hot docs -> 10 canon
    assert st["n_domain_capped"] == 5          # 10 -> cap 5
    assert st["n_out"] == 9                    # 5 hot + 4 tail
    kept = spark.read.parquet(out)
    assert kept.count() == 9
    assert kept.filter("url LIKE '%bad.org%'").count() == 0


def test_cli_vector_index_lifecycle(spark, tmp_path, capsys):
    """vector-index build -> query -> upsert -> vacuum over the sf
    embeddings: the CLI drives the manifest-committed SQ8 layout end to
    end, the rebuild decision surfaces as a distinct exit code, and
    vacuum reports what it kept."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    emb_path = str(tmp_path / "emb")
    E._emb(spark, SF_DIR).write.parquet(emb_path)
    idx = str(tmp_path / "idx")

    assert main(["vector-index", "build", "--path", idx,
                 "--emb", emb_path]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["rows"] > 0 and built["ivf"] is False

    assert main(["vector-index", "query", "--path", idx,
                 "--emb", emb_path, "--vec-id", "3", "--k", "5"]) == 0
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q["kind"] == "sq8" and len(q["topk"]) == 5
    assert q["topk"][0]["neighbor_id"] == 3  # own vector is rank 1

    batch_path = str(tmp_path / "batch")
    (spark.read.parquet(emb_path).limit(5)
     .select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
     .write.parquet(batch_path))
    assert main(["vector-index", "upsert", "--path", idx,
                 "--batch", batch_path]) == 0
    up = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert up["decision"] == "appended" and up["n_new"] == 5

    # drifted batch: refused, distinct exit code
    wild_path = str(tmp_path / "wild")
    (spark.read.parquet(emb_path).limit(2)
     .select((F.col("vec_id") + 20_000).alias("vec_id"),
             F.transform("embedding", lambda x: x * F.lit(100.0))
             .alias("embedding"))
     .write.parquet(wild_path))
    assert main(["vector-index", "upsert", "--path", idx,
                 "--batch", wild_path]) == 3
    refused = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert refused["decision"] == "rebuild"

    assert main(["vector-index", "vacuum", "--path", idx]) == 0
    vac = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vac["kept_versions"]


def test_cli_vector_index_ivf_build_and_query(spark, tmp_path, capsys):
    import __spark_entry__ as E

    emb_path = str(tmp_path / "emb")
    E._emb(spark, SF_DIR).write.parquet(emb_path)
    idx = str(tmp_path / "ivf")
    assert main(["vector-index", "build", "--path", idx,
                 "--emb", emb_path, "--ivf"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["ivf"] is True
    assert main(["vector-index", "query", "--path", idx,
                 "--emb", emb_path, "--vec-id", "0", "--k", "3",
                 "--nprobe", "2"]) == 0
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q["kind"] == "ivf_sq8" and len(q["topk"]) == 3
    assert q["topk"][0]["neighbor_id"] == 0


def test_cli_vector_index_pq_build_and_query(spark, tmp_path, capsys):
    import __spark_entry__ as E

    emb_path = str(tmp_path / "emb")
    E._emb(spark, SF_DIR).write.parquet(emb_path)
    idx = str(tmp_path / "pq")
    assert main(["vector-index", "build", "--path", idx,
                 "--emb", emb_path, "--pq"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["pq"] is True
    assert main(["vector-index", "query", "--path", idx,
                 "--emb", emb_path, "--vec-id", "3", "--k", "3"]) == 0
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q["kind"] == "pq" and len(q["topk"]) == 3
    assert q["topk"][0]["neighbor_id"] == 3


def test_cli_vector_index_maintain_pq(spark, tmp_path, capsys):
    """vector-index maintain over a PQ layout: an in-distribution batch
    returns 'ok' (exit 0) with its sampled recall; the upsert action
    also kind-dispatches to the PQ encoder."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    emb_path = str(tmp_path / "emb")
    base = E._emb(spark, SF_DIR).filter("vec_id >= 10").select(
        "vec_id", "embedding")
    base.write.parquet(emb_path)
    idx = str(tmp_path / "pq")
    assert main(["vector-index", "build", "--path", idx,
                 "--emb", emb_path, "--pq"]) == 0
    capsys.readouterr()

    batch_path = str(tmp_path / "batch")
    (base.limit(3)
     .select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
     .write.parquet(batch_path))
    merged_path = str(tmp_path / "merged")
    base.unionByName(spark.read.parquet(batch_path)) \
        .write.parquet(merged_path)

    assert main(["vector-index", "maintain", "--path", idx,
                 "--batch", batch_path, "--emb", merged_path,
                 "--k", "5", "--recall-floor", "400"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["decision"] == "ok" and st["recall_permille"] >= 400

    # maintain refuses non-pq layouts with a clear error
    sq8 = str(tmp_path / "sq8")
    assert main(["vector-index", "build", "--path", sq8,
                 "--emb", emb_path]) == 0
    capsys.readouterr()
    assert main(["vector-index", "maintain", "--path", sq8,
                 "--batch", batch_path, "--emb", merged_path]) == 2


def test_cli_upsert_dispatches_ivf_sq8(spark, emb, tmp_path, capsys):
    """The CLI ops loop is kind-true end to end: upsert into an
    ivf_sq8 index routes to the partition-aware maintainer, keeps the
    manifest kind, and the upserted vector serves through the CLI
    query path."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    emb_path = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(emb_path)
    idx = str(tmp_path / "ivf")
    assert main(["vector-index", "build", "--path", idx,
                 "--emb", emb_path, "--ivf"]) == 0
    capsys.readouterr()

    batch_path = str(tmp_path / "batch")
    (emb.limit(4)
     .select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
     .write.parquet(batch_path))
    assert main(["vector-index", "upsert", "--path", idx,
                 "--batch", batch_path]) == 0
    up = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert up["kind"] == "ivf_sq8"
    assert up["decision"] == "appended" and up["n_new"] == 4

    m = _index_manifest(spark, idx)
    assert m["kind"] == "ivf_sq8" and "centroids" in m

    assert main(["vector-index", "query", "--path", idx,
                 "--emb", emb_path, "--vec-id", "0", "--k", "3"]) == 0
    q = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert q["kind"] == "ivf_sq8" and len(q["topk"]) == 3


def test_cli_maintain_dispatches_ivf_sq8(spark, emb, tmp_path, capsys):
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    emb_path = str(tmp_path / "emb")
    base.write.parquet(emb_path)
    idx = str(tmp_path / "ivf")
    assert main(["vector-index", "build", "--path", idx,
                 "--emb", emb_path, "--ivf"]) == 0
    capsys.readouterr()

    batch_path = str(tmp_path / "batch")
    (base.limit(3)
     .select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding")
     .write.parquet(batch_path))
    merged_path = str(tmp_path / "merged")
    base.unionByName(spark.read.parquet(batch_path)) \
        .write.parquet(merged_path)
    rc = main(["vector-index", "maintain", "--path", idx,
               "--batch", batch_path, "--emb", merged_path,
               "--k", "5", "--recall-floor", "400"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["kind"] == "ivf_sq8"
    assert (rc == 0) == (st["decision"] in ("ok", "bump_nprobe"))
    assert st["decision"] in ("ok", "bump_nprobe")


def test_cli_query_batch(spark, emb, tmp_path, capsys):
    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    emb_path = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(emb_path)
    idx = str(tmp_path / "pq")
    assert main(["vector-index", "build", "--path", idx,
                 "--emb", emb_path, "--pq"]) == 0
    capsys.readouterr()
    qpath = str(tmp_path / "queries")
    (emb.filter("vec_id < 3")
     .select(emb.vec_id.alias("query_id"), "embedding")
     .write.parquet(qpath))
    out = str(tmp_path / "results")
    assert main(["vector-index", "query-batch", "--path", idx,
                 "--emb", emb_path, "--queries", qpath,
                 "--out", out, "--k", "5"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["kind"] == "pq" and st["n_queries"] == 3
    assert st["n_results"] == 15
    res = spark.read.parquet(out)
    assert res.count() == 15
    assert set(res.columns) == {"query_id", "rank", "neighbor_id",
                                "cos_sim"}


def test_cli_vector_pipeline_end_to_end(spark, tmp_path, capsys):
    """The one-command serving demo: JSONL in (with a corrupt line and
    an exact duplicate) -> quarantine + dedup + hash embeddings +
    ivf_sq8 index + batch ANN results on disk; every query's rank-1
    neighbor is itself at cos 1.0."""
    import json as _json

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    src = tmp_path / "in.jsonl"
    lines = [
        _json.dumps({"doc_id": i, "text": t, "lang": "en",
                     "source": "s0", "n_chars": len(t)})
        for i, t in enumerate(
            ["spark batch window merge", "filter scan join order",
             "vector table stream hash", "group agg sort key value",
             "filter scan join order",          # exact dup of doc 1
             "broadcast shuffle skew plan"])
    ]
    lines.insert(3, "{not json at all")          # quarantined
    src.write_text("\n".join(lines) + "\n")

    wd = str(tmp_path / "wd")
    # --nprobe 8 probes every cluster: at 5 docs each k-means cluster
    # holds ~1 vector, so the default nprobe=2 would (correctly) serve
    # fewer than k
    assert main(["vector-pipeline", "--docs", str(src),
                 "--workdir", wd, "--k", "3", "--n-queries", "2",
                 "--nprobe", "8"]) == 0
    st = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["n_quarantined"] == 1
    assert st["n_docs"] == 5                     # 6 clean - 1 exact dup
    assert st["n_queries"] == 2 and st["n_results"] == 6

    docs = spark.read.parquet(f"{wd}/docs")
    assert docs.count() == 5
    assert docs.filter("doc_id = 4").count() == 0    # the dup dropped
    res = spark.read.parquet(f"{wd}/results").collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    for qid, rows in by_q.items():
        top = min(rows, key=lambda r: r["rank"])
        assert top["neighbor_id"] == qid and top["cos_sim"] == 1.0


def test_cli_vector_pipeline_tune_step(spark, tmp_path, capsys):
    """--target-recall closes the loop inside the one-command demo:
    the build is followed by tune_index, the committed default_nprobe
    serves the results pass (no explicit --nprobe), and the status
    line carries the tune decision."""
    import json as _json

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        _index_manifest,
    )

    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(
        _json.dumps({"doc_id": i, "text": t, "lang": "en",
                     "source": "s0", "n_chars": len(t)})
        for i, t in enumerate(
            ["spark batch window merge", "filter scan join order",
             "vector table stream hash", "group agg sort key value",
             "broadcast shuffle skew plan"])) + "\n")

    wd = str(tmp_path / "wd")
    # target 1 permille is met at the smallest measured depth, so the
    # tune outcome is deterministic: nprobe=1 commits (or noop if 1
    # were already the default — it is not; DEFAULT_NPROBE is 2)
    assert main(["vector-pipeline", "--docs", str(src),
                 "--workdir", wd, "--k", "2", "--n-queries", "1",
                 "--target-recall", "1"]) == 0
    st = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["tune"]["decision"] == "tuned"
    assert st["tune"]["nprobe"] == 1
    assert "curve" not in st["tune"]            # status line stays slim
    assert _index_manifest(spark, f"{wd}/index")["default_nprobe"] == 1
    assert st["n_results"] >= 1


def _write_jsonl(path, n=40):
    with open(path, "w") as f:
        for i in range(n):
            f.write(json.dumps({
                "doc_id": i, "text": f"transit doc {i} alpha beta "
                                     f"{'gamma ' * (i % 5)}",
                "lang": "en", "source": "t", "n_chars": 20}) + "\n")


@pytest.mark.parametrize("kind", ["bq", "ivf", "ivf_pq"])
def test_vector_pipeline_kind_switch(spark, tmp_path, capsys, kind):
    from public_transit_data_platform_sql_nosql_spark.__main__ import main

    docs = str(tmp_path / "docs.jsonl")
    _write_jsonl(docs)
    wd = str(tmp_path / f"wd_{kind}")
    assert main(["vector-pipeline", "--docs", docs, "--workdir", wd,
                 "--kind", kind, "--k", "3", "--n-queries", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["index_kind"] == kind
    assert out["n_results"] == 6          # 2 queries x k=3
    assert _index_manifest(spark, f"{wd}/index")["kind"] == kind
    res = spark.read.parquet(f"{wd}/results")
    assert res.columns == ["query_id", "rank", "neighbor_id",
                           "cos_sim"]
    # the self-query serves itself at rank 1
    top = res.filter("rank = 1").collect()
    assert all(r["query_id"] == r["neighbor_id"] and
               r["cos_sim"] == 1.0 for r in top)


def test_cli_maintain_bump_rerank_exits_zero(spark, tmp_path, capsys):
    """A bump_rerank decision is a manifest-only commit of an operating
    point that meets the floor — a successful recovery, exit 0 (only a
    rebuild exits 3).  Corpus: one sign bucket Hamming cannot rank
    (identical sign bits; vec 0's true neighbors carry the highest
    ids), so probing is maxed at k=2 and only a deeper exact rerank
    clears the floor."""
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        BQ_RERANK_MULT,
        write_index,
    )

    def bucket(n, base, axes):
        vals = ([0.9] + [0.1 + 0.0001 * j for j in range(1, n - 4)]
                + [0.89, 0.88, 0.87, 0.86])
        rows = []
        for j, a in enumerate(vals):
            v = [0.0] * 64
            v[axes[0]], v[axes[1]] = 1.0, a
            rows.append((base + j, v))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    corpus = bucket(120, 0, (0, 1)).unionByName(bucket(24, 200, (2, 3)))
    emb_path = str(tmp_path / "emb")
    corpus.write.parquet(emb_path)
    corpus = spark.read.parquet(emb_path)
    batch_path = str(tmp_path / "batch")
    corpus.orderBy("vec_id").limit(3).write.parquet(batch_path)
    idx = str(tmp_path / "ivfbq")
    write_index(corpus, idx, "ivf_bq", k=2)
    assert main(["vector-index", "maintain", "--path", idx,
                 "--batch", batch_path, "--emb", emb_path,
                 "--recall-floor", "950"]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["kind"] == "ivf_bq"
    assert st["decision"] == "bump_rerank", st
    assert st["rerank_mult"] == 2 * BQ_RERANK_MULT


def test_cli_hybrid_search(spark, emb, tmp_path, capsys):
    import json as _json

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    docs_p = str(tmp_path / "docs")
    E._aug(spark, SF_DIR).write.parquet(docs_p)
    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    idx = str(tmp_path / "idx")
    sim.write_index(emb, idx, "ivf_sq8")
    q_p = str(tmp_path / "queries")
    spark.createDataFrame(
        [(1, ["spark", "window"],
          [float(x) for x in emb.filter("vec_id = 1")
           .head()["embedding"]])],
        "query_id long, terms array<string>, embedding array<double>"
    ).write.parquet(q_p)
    out = str(tmp_path / "res")
    assert main(["hybrid-search", "--docs", docs_p, "--emb", emb_p,
                 "--path", idx, "--queries", q_p, "--out", out,
                 "--k", "5"]) == 0
    st = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["kind"] == "ivf_sq8" and st["n_queries"] == 1
    assert spark.read.parquet(out).count() == st["n_results"] == 5


# ---------------------------------------------------------------------------
# CLI --where refusal on attr-less indexes


def test_cli_where_refused_without_attrs(spark, emb, tmp_path, capsys):
    import json as _json

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    idx = str(tmp_path / "idx")
    sim.write_index(emb, idx, "sq8")               # flat, NO attrs
    rc = main(["vector-index", "query", "--path", idx, "--emb", emb_p,
               "--vec-id", "1", "--where", "tenant = 'a'"])
    st = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "no attribute columns" in st["error"]


def test_cli_tune_rerank_grid(spark, tmp_path, capsys):
    """CLI tune on a flat kind commits default_rerank_mult from a
    caller-pinned --rerank-mults grid; stats reports the committed
    rerank operating point."""
    import json as _json

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    corpus = _hamming_blind_bucket(spark).localCheckpoint(eager=True)
    emb_p = str(tmp_path / "emb")
    corpus.write.parquet(emb_p)
    idx = str(tmp_path / "idx")
    sim.write_index(corpus, idx, "bq")
    rc = main(["vector-index", "tune", "--path", idx, "--emb", emb_p,
               "--k", "5", "--rerank-mults", "1,2,4,8"])
    st = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and st["decision"] == "tuned"
    assert st["rerank_mult"] == 8
    assert main(["vector-index", "stats", "--path", idx]) == 0
    ix = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ix["default_rerank_mult"] == 8 and ix["rerank_tuned"] is True


def test_cli_hybrid_where(spark, emb, tmp_path, capsys):
    import json as _json

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )

    docs_p = str(tmp_path / "docs")
    E._aug(spark, SF_DIR).write.parquet(docs_p)
    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    attrs = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b")
        .alias("lang"))
    idx = str(tmp_path / "idx")
    sim.write_index(emb, idx, "sq8", attrs=attrs)
    q_p = str(tmp_path / "queries")
    spark.createDataFrame(
        [(1, ["spark", "window"], _qvec(emb, 1))],
        "query_id long, terms array<string>, embedding array<double>"
    ).write.parquet(q_p)
    out = str(tmp_path / "res")
    assert main(["hybrid-search", "--docs", docs_p, "--emb", emb_p,
                 "--path", idx, "--queries", q_p, "--out", out,
                 "--k", "5", "--where", "lang = 'a'"]) == 0
    st = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["n_results"] == 5
    rows = spark.read.parquet(out).collect()
    assert rows and all(int(r["doc_id"]) % 2 == 0 for r in rows)

    # attr-less index: refused with rc=2, not silently unfiltered
    bare = str(tmp_path / "bare")
    sim.write_index(emb, bare, "sq8")
    rc = main(["hybrid-search", "--docs", docs_p, "--emb", emb_p,
               "--path", bare, "--queries", q_p, "--out", out,
               "--where", "lang = 'a'"])
    st2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "no attribute columns" in st2["error"]


# ---------------------------------------------------------------------------
# CLI --rerank-mults hardening


def test_parse_grid_shapes():
    assert _parse_grid(None) == (None, None)
    assert _parse_grid("1,2,4") == ((1, 2, 4), None)
    # empty grid on an IVF kind: legal (pins the second rung off)
    assert _parse_grid("", kind="ivf_sq8") == ((), None)
    # empty grid on a FLAT kind: the rerank grid is its ONLY ladder
    grid, err = _parse_grid("", kind="bq")
    assert grid is None and "only" in err and "bq" in err
    # non-numeric: refused with the input quoted, not a traceback
    grid, err = _parse_grid("8,x", kind="ivf_sq8")
    assert grid is None and "'8,x'" in err


def test_cli_tune_empty_grid_on_flat_kind_rc2(spark, emb, tmp_path,
                                              capsys):
    """An empty --rerank-mults against a flat index used to yield an
    empty curve and decision=target_unreachable (rc 3) — a recall miss
    that measured nothing.  Now rc 2 with the reason on stdout."""
    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    idx = str(tmp_path / "idx")
    sim.write_index(emb, idx, "sq8")
    rc = main(["vector-index", "tune", "--path", idx, "--emb", emb_p,
               "--rerank-mults", ""])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "error" in st
    assert "sq8" in st["error"]


def test_cli_recall_curve_bad_grid_rc2(spark, emb, tmp_path, capsys):
    emb_p = str(tmp_path / "emb")
    emb.write.parquet(emb_p)
    idx = str(tmp_path / "idx")
    sim.write_index(emb, idx, "sq8")
    rc = main(["vector-index", "recall-curve", "--path", idx,
               "--emb", emb_p, "--rerank-mults", "8,x"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and "integers" in st["error"]


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
